"""Answer checkers for the feature-store benchmark.

Every answer the store returns during a timed loop is kept and checked
here afterwards, outside the timed region. The as-of oracle is DuckDB
over the generated records, so it shares no code with the engine:

* snapshot-wins: the single newest record with ``ts <= as_of`` (ties by
  the larger record id) is returned verbatim, never merged per key;
* point-in-time rows follow the reference loop — groups in request
  order, ``update`` on a hit, ``setdefault(feature, None)`` on a miss;
* ``seq`` orders writes, so a read made after write k sees exactly the
  records of writes 0..k.

Each checker returns the number of wrong answers; a wrong answer counts
as a failed operation.
"""

from __future__ import annotations

import json
import math
from datetime import datetime
from typing import Any

import duckdb
import pyarrow as pa

# as_of for "now" reads: later than every generated or written record.
FAR_FUTURE = datetime(9999, 1, 1)


class AsOfOracle:
    """DuckDB table of every record written to a store, with the write
    sequence number each record became visible at."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE recs (group_id VARCHAR, entity_id VARCHAR, id VARCHAR, "
            "ts TIMESTAMP, fv VARCHAR, seq BIGINT)"
        )

    def add(self, pdf, seq: int) -> None:
        """Add records (store record-schema columns) visible from ``seq``."""
        tbl = pa.table({
            "group_id": pa.array(pdf["group_id"].astype(str).tolist()),
            "entity_id": pa.array(pdf["entity_id"].astype(str).tolist()),
            "id": pa.array(pdf["id"].astype(str).tolist()),
            "ts": pa.array(pdf["timestamp"].to_numpy().astype("datetime64[us]")),
            "fv": pa.array([json.dumps(d, sort_keys=True) for d in pdf["feature_values"]]),
            "seq": pa.array([seq] * len(pdf), pa.int64()),
        })
        self.con.register("incoming", tbl)
        self.con.execute("INSERT INTO recs SELECT * FROM incoming")
        self.con.unregister("incoming")

    def snapshots(self, probes: list[tuple]) -> list[dict | None]:
        """Newest snapshot per probe ``(group_id, entity_id, as_of, seq)``,
        decoded, or None when the entity has no record as of then."""
        if not probes:
            return []
        tbl = pa.table({
            "pid": pa.array(range(len(probes)), pa.int64()),
            "group_id": pa.array([p[0] for p in probes]),
            "entity_id": pa.array([p[1] for p in probes]),
            "as_of": pa.array([p[2] or FAR_FUTURE for p in probes], pa.timestamp("us")),
            "seq": pa.array([p[3] for p in probes], pa.int64()),
        })
        self.con.register("probes", tbl)
        rows = self.con.execute(
            """
            SELECT pid, fv FROM (
              SELECT p.pid, r.fv, row_number() OVER (
                PARTITION BY p.pid ORDER BY r.ts DESC, r.id DESC) AS rn
              FROM probes p JOIN recs r
                ON r.group_id = p.group_id AND r.entity_id = p.entity_id
               AND r.ts <= p.as_of AND r.seq <= p.seq)
            WHERE rn = 1
            """
        ).fetchall()
        self.con.unregister("probes")
        out: list[dict | None] = [None] * len(probes)
        for pid, fv in rows:
            out[pid] = {k: json.loads(v) for k, v in json.loads(fv).items()}
        return out

    def pit_rows(self, entities: list[str], groups: list[tuple[str, list[str]]],
                 as_of: datetime | None, seq: int) -> list[dict]:
        """Expected point_in_time_join rows; ``groups`` is
        ``[(group_id, declared features), ...]`` in request order."""
        probes = [(gid, e, as_of, seq) for e in entities for gid, _ in groups]
        snaps = iter(self.snapshots(probes))
        out = []
        for e in entities:
            row: dict[str, Any] = {"entity_id": e}
            for _gid, feats in groups:
                values = next(snaps)
                if values:
                    row.update(values)
                else:
                    for f in feats:
                        row.setdefault(f, None)
            out.append(row)
        return out


def count_wrong_lookups(oracle: AsOfOracle, answers: list[tuple]) -> int:
    """``answers``: ``(group_id, entity_id, as_of, seq, got)``."""
    want = oracle.snapshots([a[:4] for a in answers])
    return sum(1 for a, w in zip(answers, want) if a[4] != w)


def count_wrong_pits(oracle: AsOfOracle, answers: list[tuple]) -> int:
    """``answers``: ``(entities, groups, as_of, seq, got_rows)``; one
    wrong row makes the whole join wrong."""
    return sum(
        1 for ents, groups, as_of, seq, got in answers
        if got != oracle.pit_rows(list(ents), groups, as_of, seq)
    )


# -- statistics check ----------------------------------------------------

def expected_statistics(pdf, features: list[tuple[str, str]]) -> dict[str, dict]:
    """Per-feature stats with the reference's semantics: count includes
    non-numeric values, mean/min/max over numbers only, mean rounded to
    6 places, null_count counts absent keys."""
    total = len(pdf)
    out = {}
    for name, _ in features:
        vals = [json.loads(fv[name]) for fv in pdf["feature_values"] if name in fv]
        nums = [v for v in vals if isinstance(v, (int, float)) and not isinstance(v, bool)]
        out[name] = {
            "count": len(vals),
            "null_count": total - len(vals),
            "mean": round(math.fsum(nums) / len(nums), 6) if nums else None,
            "min": min(nums) if nums else None,
            "max": max(nums) if nums else None,
        }
    return out


def statistics_wrong(got: dict, want: dict, total: int) -> bool:
    """True unless ``got`` (FeatureStore.statistics) matches. The mean is
    compared to 1e-6: both sides round a double sum taken in a different
    order, which may land either side of a rounding boundary."""
    if got.get("total_records") != total or set(got["features"]) != set(want):
        return True
    for name, w in want.items():
        g = got["features"][name]
        for key in ("count", "null_count", "min", "max"):
            if g[key] != w[key]:
                return True
        if (g["mean"] is None) != (w["mean"] is None):
            return True
        if w["mean"] is not None and abs(g["mean"] - w["mean"]) > 1e-6 * max(1.0, abs(w["mean"])):
            return True
    return False
