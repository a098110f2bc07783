"""Deterministic input generators for the feature-store benchmark.

Every generator takes the run's seed and returns plain numpy/pandas
values, so the same seed gives the same inputs in any process. Nothing
here touches Spark or the store; the program under test only ever sees
what these functions return.

Shapes follow the repository's test tables: an ``orders`` group keyed by
customer (price, status, priority, item count) and an ``events`` group
keyed by user (event type, value, count), sharing one entity id space so
point-in-time joins across both groups have hits, misses and null-fills.
"""

from __future__ import annotations

import hashlib
import itertools
import json
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Callable, Iterator

import numpy as np
import pandas as pd

# Value time of the generated history: one year. Writes made during a
# run get timestamps after T_END, so they are the newest snapshot of
# their entity and still lie in the past of the wall clock.
T0 = datetime(2024, 1, 1)
SPAN_US = 366 * 86_400 * 1_000_000
T_END = T0 + timedelta(microseconds=SPAN_US)

GROUP_FEATURES = {
    "orders": [("o_totalprice", "float"), ("o_status", "str"),
               ("o_priority", "str"), ("o_items", "int")],
    "events": [("e_type", "str"), ("e_value", "float"), ("e_count", "int")],
}
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Share of records that omit one declared feature: a newer partial
# snapshot must hide the older value (snapshot-wins), never merge.
PARTIAL_SHARE = 0.1

# The serve request stream. These are assumptions, not fitted to any
# measured traffic: Zipf exponent of the entity draws (a few hot keys,
# long tail), the groups single lookups cycle through (3 of 5 on
# ``orders``, the rest on ``events``), and distinct entities per
# point-in-time join.
ZIPF_A = 1.3
LOOKUP_GROUPS = ("orders", "events", "orders", "orders", "events")
PIT_ENTITIES = 64


def rng(seed: int, stream: str) -> np.random.Generator:
    """One independent PCG64 stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}|{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def entity_name(i: int) -> str:
    return f"e{i:06d}"


def _values(g: np.random.Generator, group: str, n: int) -> list[dict]:
    """n feature maps with JSON-encoded cells (the store's canonical
    form), PARTIAL_SHARE of them missing one random feature."""
    if group == "orders":
        cols = {
            "o_totalprice": np.round(g.uniform(1.0, 50_000.0, n), 2),
            "o_status": g.choice(STATUSES, n),
            "o_priority": g.choice(PRIORITIES, n),
            "o_items": g.integers(1, 8, n),
        }
    else:
        cols = {
            "e_type": g.choice(EVENT_TYPES, n),
            "e_value": np.round(g.uniform(0.0, 100.0, n), 2),
            "e_count": g.integers(0, 50, n),
        }
    # Cells encoded column-wise: json.dumps of a finite float is its
    # repr, of an int its str, of a vocabulary string a lookup.
    enc = {}
    for name, col in cols.items():
        if col.dtype.kind == "f":
            enc[name] = list(map(repr, col.tolist()))
        elif col.dtype.kind in "iu":
            enc[name] = list(map(str, col.tolist()))
        else:
            words = {w: json.dumps(w) for w in set(col.tolist())}
            enc[name] = [words[w] for w in col.tolist()]
    names = [f for f, _ in GROUP_FEATURES[group]]
    drop = np.where(g.random(n) < PARTIAL_SHARE, g.integers(0, len(names), n), -1).tolist()
    rows = zip(*(enc[name] for name in names))
    return [
        {name: v for j, (name, v) in enumerate(zip(names, row)) if j != d}
        for row, d in zip(rows, drop)
    ]


def _frame(g: np.random.Generator, group: str, group_id: str, ids: list[str],
           ents: np.ndarray, start: datetime, span_us: int) -> pd.DataFrame:
    """Record-schema rows: ``ents`` with timestamps sorted over
    [start, start + span_us) and generated feature maps."""
    ts_us = np.sort(g.integers(0, span_us, len(ents)))
    return pd.DataFrame({
        "id": ids,
        "group_id": group_id,
        "entity_id": [entity_name(int(e)) for e in ents],
        "feature_values": _values(g, group, len(ents)),
        "timestamp": pd.to_datetime(start) + pd.to_timedelta(ts_us, unit="us"),
        "version": np.int32(1),
    })


# Share of the entities that have ``events`` records; the rest miss
# that group.
EVENTS_COVER = 0.7


def _cover(group: str, n_entities: int) -> int:
    return n_entities if group == "orders" else int(n_entities * EVENTS_COVER)


def records(seed: int, group: str, group_id: str, n: int, n_entities: int) -> pd.DataFrame:
    """n snapshots of ``group`` over the entity space, sorted by
    timestamp as an append log would receive them. Columns match the
    store's record schema; ``feature_values`` cells are JSON-encoded."""
    g = rng(seed, f"{group}|base")
    ents = g.integers(0, _cover(group, n_entities), n)
    return _frame(g, group, group_id, [f"{group[0]}base-{i:07d}" for i in range(n)],
                  ents, T0, SPAN_US)


def newer_records(seed: int, group: str, group_id: str, n: int,
                  n_entities: int, step: int, tag: str) -> pd.DataFrame:
    """n snapshots of existing entities, all newer than the base
    history and than every earlier ``step``: write ``step`` k lands in
    [T_END + k hours, T_END + k hours + 1 hour). Entities are distinct
    within one write, so every written row is its entity's newest."""
    g = rng(seed, f"{group}|{tag}|{step}")
    ents = g.choice(_cover(group, n_entities), size=min(n, _cover(group, n_entities)),
                    replace=False)
    return _frame(g, group, group_id, [f"{group[0]}{tag}{step}-{i:06d}" for i in range(len(ents))],
                  ents, T_END + timedelta(hours=step), 3_600_000_000)


def ranked_entities(seed: int, n_entities: int) -> np.ndarray:
    """A seeded order of the entity space, hottest first, in which the
    ranks of entities that have ``events`` records follow the same
    evenly spread pattern for every seed (the hottest has them), so
    the share of a join's draws that miss ``events`` does not hinge on
    where the seed put the few hottest keys."""
    cover = _cover("events", n_entities)
    r = np.arange(n_entities)
    has_events = (np.floor((r + 1) * cover / n_entities + 0.5)
                  > np.floor(r * cover / n_entities + 0.5))
    g = rng(seed, "zipf-perm")
    out = np.empty(n_entities, dtype=np.int64)
    out[has_events] = g.permutation(cover)
    out[~has_events] = cover + g.permutation(n_entities - cover)
    return out


def zipf_names(perm: np.ndarray) -> Callable[[np.ndarray], list[str]]:
    """Maps quantiles ``u`` to the entity names at those quantiles of
    Zipf(ZIPF_A) over the ranks of the permuted entity space ``perm``:
    a few hot keys repeat, the tail is long."""
    cdf = np.cumsum(np.arange(1, len(perm) + 1, dtype=float) ** -ZIPF_A)
    cdf /= cdf[-1]

    def names(u: np.ndarray) -> list[str]:
        ranks = np.minimum(np.searchsorted(cdf, u, side="right"), len(perm) - 1)
        return [entity_name(int(perm[r])) for r in ranks]

    return names


@dataclass
class ServeOp:
    kind: str  # "lookup" | "pit"
    group: str = ""
    entities: tuple = ()
    as_of: datetime | None = None


# Rotations of the low-discrepancy sequence: sqrt 2, the golden ratio
# and sqrt 3, less their integer parts. Each is badly approximable by
# fractions, so each coordinate alone spreads evenly for any n.
ROTATIONS = np.array([2 ** 0.5 - 1, (5 ** 0.5 - 1) / 2, 3 ** 0.5 - 1])


def kronecker(g: np.random.Generator, dims: int) -> Iterator[np.ndarray]:
    """Endless Kronecker sequence in [0, 1)^dims: point k is
    frac(offset + k * ROTATIONS) with a seeded offset. Each coordinate
    is uniform, and every prefix covers its range evenly, so a short
    run's median does not hinge on where a few random draws fell."""
    offset, alpha = g.random(dims), ROTATIONS[:dims]
    for k in itertools.count(1):
        yield (offset + k * alpha) % 1.0


def instant(u: float) -> datetime:
    """The instant at fraction ``u`` of the generated history."""
    return T0 + timedelta(microseconds=int(u * SPAN_US))


def serve_ops(seed: int, n_entities: int, pit_every: int) -> Iterator[ServeOp]:
    """The endless serve_asof request stream: every ``pit_every``-th
    request is a point-in-time join of PIT_ENTITIES distinct entities
    over both groups, the rest single as-of lookups cycling through
    LOOKUP_GROUPS. Entities are Zipf-skewed and ``as_of`` is uniform
    over the history. A lookup's as_of, its entity (one sequence per
    group, so each group's hits and misses come in a steady share) and
    a join's as_of come from low-discrepancy sequences; a join's
    entities are Zipf draws without repeats, so every join asks for the
    same number of rows. The kind and group interleaves are fixed, so
    every run has the same mix."""
    g = rng(seed, "serve-ops")
    ranked = ranked_entities(seed, n_entities)
    cover = _cover("events", n_entities)
    names = zipf_names(ranked)
    # Lookups of an entity ``events`` lacks cost about twice a hit; the
    # k-th events lookup misses iff floor((k + 1) * share) > floor(k * share),
    # so every run misses in the same share, drawing Zipf among the
    # entities without (or with) events records.
    miss_share = 1.0 - EVENTS_COVER
    events_names = {True: zipf_names(ranked[ranked >= cover]),
                    False: zipf_names(ranked[ranked < cover])}
    times, pit_times = kronecker(g, 1), kronecker(g, 1)
    entities = {grp: kronecker(g, 1) for grp in sorted(set(LOOKUP_GROUPS))}
    groups = itertools.cycle(LOOKUP_GROUPS)
    k = 0  # events lookups so far
    for i in itertools.count():
        if i % pit_every == pit_every - 1:
            ents: dict[str, None] = {}
            while len(ents) < PIT_ENTITIES:
                ents.update(dict.fromkeys(names(g.random(PIT_ENTITIES))))
            ents = tuple(ents)[:PIT_ENTITIES]
            yield ServeOp("pit", entities=ents, as_of=instant(next(pit_times)[0]))
        else:
            grp = next(groups)
            pick = names
            if grp == "events":
                pick = events_names[int((k + 1) * miss_share) > int(k * miss_share)]
                k += 1
            yield ServeOp("lookup", group=grp, entities=tuple(pick(next(entities[grp]))),
                          as_of=instant(next(times)[0]))


def stream_file(seed: int, step: int, n: int, n_entities: int) -> pd.DataFrame:
    """One staged file for the streaming group: flat typed columns,
    timestamps newer than every earlier staged file."""
    g = rng(seed, f"stream|{step}")
    ents = g.choice(n_entities, size=min(n, n_entities), replace=False)
    n = len(ents)
    base = T_END + timedelta(hours=step)
    ts_us = np.sort(g.integers(0, 3_600_000_000, n))
    return pd.DataFrame({
        "user": [entity_name(int(e)) for e in ents],
        "ts": pd.to_datetime(base) + pd.to_timedelta(ts_us, unit="us"),
        "s_kind": g.choice(EVENT_TYPES, n),
        "s_score": g.integers(0, 1000, n),
    })
