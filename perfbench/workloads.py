"""The benchmark's workloads, each driving the store only through its
public API from one closed-loop client (the next op starts when the
previous one returns).

A workload has four steps: ``build`` (data generation plus store
build) and ``warm`` (first use of every op; on ``serve_asof``, a fixed
number of whole blocks, so the JVM's JIT settles before measuring), both
timed into ``setup_s``; ``block`` (one unit of the measured closed loop,
repeated until the deadline); and ``check`` (every answer, the
warm-up's too, against the oracle, untimed). ``e2e`` maps a recorder's
samples to the end-to-end metrics; README.md says which op each metric
times on each workload.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time
import traceback
from collections import defaultdict
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import oracle
from tracing import pct

from blackroad_feature_store_spark.store import (
    FREQ_STREAMING,
    RECORDS_SCHEMA,
    FeatureStore,
    encode_value,
)
from blackroad_feature_store_spark.streaming import ingest
from blackroad_feature_store_spark.versioning import CommitLog

# Op kinds whose ``rows`` are rows returned to the caller (the
# denominator of store.rows_scanned_per_row_returned).
READ_KINDS = {"serve.lookup", "serve.pit", "ingest.fresh"}
WRITE_KINDS = {"ingest.append", "ingest.single", "ingest.stream"}


def cpu_clock(spark) -> Callable[[], float]:
    """Seconds of CPU used so far by this process and, given a session,
    its JVM: every thread of both, from the kernel's per-process CPU
    clocks. Waits, such as a wait for an idle virtual CPU to be
    scheduled again by the host, are not in it."""
    clocks = [time.CLOCK_PROCESS_CPUTIME_ID]
    if spark is not None:
        pid = spark.sparkContext._gateway.proc.pid
        clocks.append(((~pid) << 3) | 2)  # the CPU clock id of process ``pid``
    return lambda: sum(time.clock_gettime(c) for c in clocks)


class Recorder:
    """Latencies, CPU times, rows and failures of the ops of the blocks
    it runs."""

    def __init__(self, spark, tracer=None) -> None:
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu_clock(spark)
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.cpu_ms: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, int] = defaultdict(int)
        self.attempted = 0
        self.failed = 0
        self.op_cpu_s = 0.0  # CPU of every op run, failed ones too
        self.blocks = 0
        self.wall_s = 0.0  # time spent in this recorder's blocks

    def mean_cpu_ms(self, *kinds: str) -> float:
        """Mean CPU ms of the successful ops of ``kinds``. A mean, not a
        median: CPU time has none of wall time's stalls, but its
        per-op values are bimodal (a miss costs twice a hit, a read
        after a compaction pays for its garbage), and a median flips
        between the modes from run to run."""
        values = [v for k in kinds for v in self.cpu_ms[k]]
        return sum(values) / len(values) if values else 0.0

    def rows_per_cpu_s(self, kinds) -> float:
        """Rows of ``kinds`` per CPU second of every op run."""
        return sum(self.rows[k] for k in kinds) / self.op_cpu_s if self.op_cpu_s else 0.0

    def op(self, kind: str, fn: Callable[[], Any],
           rows: Callable[[Any], int] = lambda _out: 0) -> tuple[bool, Any]:
        self.attempted += 1
        span = None
        if self.tracer is not None:
            label = f"{kind}#{self.attempted}"
            self.spark.sparkContext.setJobGroup(label, kind)
            span = self.tracer.begin_op(label, kind)
        c, t = self.cpu(), time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:  # a failed op is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        ms = (time.perf_counter() - t) * 1000.0
        cpu = self.cpu() - c
        self.op_cpu_s += cpu
        n = rows(out) if ok else 0
        if ok:
            self.lat_ms[kind].append(ms)
            self.cpu_ms[kind].append(cpu * 1000.0)
            self.rows[kind] += n
        else:
            self.failed += 1
        if span is not None:
            self.tracer.end_op(span, n, ok)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return ok, out


FEATURES = {**gen.GROUP_FEATURES, "stream": [("s_kind", "str"), ("s_score", "int")]}


def _register(fs: FeatureStore, group: str, entity_key: str,
              frequency: str = "batch") -> str:
    fs.register_features([{"name": f, "entity_type": entity_key, "dtype": d}
                          for f, d in FEATURES[group]])
    return fs.create_group(group, [f for f, _ in FEATURES[group]], entity_key,
                           frequency=frequency).id


def _append_commits(fs: FeatureStore, spark, pdf: pd.DataFrame, commits: int) -> None:
    """Append ``pdf`` in ``commits`` time-ordered chunks, one commit each."""
    for chunk in np.array_split(np.arange(len(pdf)), commits):
        fs.write_records_df(spark.createDataFrame(pdf.iloc[chunk], RECORDS_SCHEMA))


def _live(base: str) -> list[dict]:
    return CommitLog(os.path.join(base, "_versions")).live_entries()


def store_bytes_per_record(base: str, records: int) -> float:
    """Live bytes under entity_records (manifest's live files) / live records."""
    root = os.path.join(base, "entity_records")
    size = sum(os.path.getsize(os.path.join(root, e["path"])) for e in _live(base))
    return size / max(records, 1)


class Workload:
    name = ""
    MIN_BLOCKS = 3  # per recorder, however fast the deadline passes

    def __init__(self, spark, seed: int, data_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.base = os.path.join(data_dir, self.name)
        self.records = 0  # live records the store must hold
        self.warm_rec = Recorder(spark)  # warm-up ops: counted and checked, timed into setup_s

    def common_e2e(self) -> dict[str, float]:
        return {"store_bytes_per_record": store_bytes_per_record(self.base, self.records)}


# -- serve_asof -----------------------------------------------------------

class ServeAsOf(Workload):
    """Three single as-of lookups, then one 64-draw point-in-time join
    over two groups, repeated, on a store of uncompacted commits."""

    name = "serve_asof"
    N_ENTITIES = 4_000
    N_ORDERS = 40_000
    N_EVENTS = 24_000
    COMMITS = 4  # per group
    PIT_EVERY = 4
    # Even with the quick JIT alone, lookups and joins kept getting
    # faster for the first ~15 lookups and ~5 joins; a loop that
    # started there sat in that ramp.
    WARM_BLOCKS = 5

    def build(self) -> None:
        self.fs = FeatureStore(self.spark, self.base)
        self.gids = {g: _register(self.fs, g, "entity_id") for g in ("orders", "events")}
        self.pdfs = {
            g: gen.records(self.seed, g, self.gids[g], n, self.N_ENTITIES)
            for g, n in (("orders", self.N_ORDERS), ("events", self.N_EVENTS))
        }
        for g, pdf in self.pdfs.items():
            _append_commits(self.fs, self.spark, pdf, self.COMMITS)
        self.records = self.N_ORDERS + self.N_EVENTS
        # The warm-up draws from its own stream (seed + 1), so the loop
        # never repeats a warm-up request.
        self.warm_ops = list(itertools.islice(
            gen.serve_ops(self.seed + 1, self.N_ENTITIES, self.PIT_EVERY),
            self.WARM_BLOCKS * self.PIT_EVERY))
        self.ops = gen.serve_ops(self.seed, self.N_ENTITIES, self.PIT_EVERY)
        self.lookups: list[tuple] = []
        self.pits: list[tuple] = []

    def warm(self) -> None:
        for op in self.warm_ops:
            self._run(self.warm_rec, op)

    def _run(self, rec: Recorder, op: gen.ServeOp) -> None:
        if op.kind == "lookup":
            gid = self.gids[op.group]
            ok, got = rec.op("serve.lookup", lambda: self.fs.get_features(
                gid, op.entities[0], as_of=op.as_of), rows=lambda _o: 1)
            if ok:
                self.lookups.append((gid, op.entities[0], op.as_of, 0, got))
        else:
            gids = [self.gids["orders"], self.gids["events"]]
            ok, got = rec.op("serve.pit", lambda: self.fs.point_in_time_join(
                list(op.entities), gids, op.as_of), rows=len)
            if ok:
                groups = [(self.gids[g], [f for f, _ in FEATURES[g]])
                          for g in ("orders", "events")]
                self.pits.append((op.entities, groups, op.as_of, 0, got))

    def block(self, rec: Recorder) -> None:
        """Three lookups and one join: runs are whole blocks, so every
        run has the same mix whatever its speed."""
        for _ in range(self.PIT_EVERY):
            self._run(rec, next(self.ops))

    def check(self) -> tuple[int, int]:
        """(checks beyond the recorded ops, wrong answers)."""
        orc = oracle.AsOfOracle()
        for pdf in self.pdfs.values():
            orc.add(pdf, 0)
        wrong = (oracle.count_wrong_lookups(orc, self.lookups)
                 + oracle.count_wrong_pits(orc, self.pits))
        return 0, wrong

    def e2e(self, rec: Recorder) -> dict[str, float]:
        return {"op_cpu_ms": rec.mean_cpu_ms("serve.lookup"),
                "batch_cpu_ms": rec.mean_cpu_ms("serve.pit"),
                "rows_per_cpu_s": rec.rows_per_cpu_s(READ_KINDS)}


# -- ingest_compact -------------------------------------------------------

class IngestCompact(Workload):
    """Appends, streamed micro-batches and single-row writes, each
    followed by the auto-compaction check and a read-after-write.

    The loop runs whole cycles. One cycle: three 2,000-row appends to
    the batch group, one single-row write, one ``availableNow`` drain
    of two staged files into the streaming group, then the batch
    group's ``statistics`` (the monitoring read an ingest pipeline runs
    after a load). The compaction thresholds are set so each group
    compacts exactly once per cycle, and every run holds at least
    MIN_BLOCKS cycles. Ending on cycle boundaries keeps compaction's
    share of the loop time the same in every run, whatever the speed.
    Appends outnumber single writes three to one, so the commit median
    lies among the appends rather than between the two kinds.
    """

    name = "ingest_compact"
    N_ENTITIES = 4_000
    N_BASE = 12_000
    BASE_COMMITS = 3
    APPEND_ROWS = 2_000
    STREAM_ROWS = 1_000  # per staged file
    APPENDS_PER_CYCLE = 3
    TARGET_ROWS = 20_000
    ZORDER = ["entity_id", "timestamp"]

    def build(self) -> None:
        self.fs = FeatureStore(self.spark, self.base)
        self.gid = _register(self.fs, "orders", "entity_id")
        self.sgid = _register(self.fs, "stream", "user_id", frequency=FREQ_STREAMING)
        self.base_pdf = gen.records(self.seed, "orders", self.gid, self.N_BASE, self.N_ENTITIES)
        _append_commits(self.fs, self.spark, self.base_pdf, self.BASE_COMMITS)
        self.src = os.path.join(self.base, "_stream_src")
        self.ckpt = os.path.join(self.base, "_stream_ckpt")
        os.makedirs(self.src)
        self.records = self.N_BASE
        self.seq = 0          # writes so far; reads see writes <= seq
        self.step = 0         # append/stream time slot
        self.writes: list[tuple[int, pd.DataFrame]] = []  # (seq, records)
        self.fresh: list[tuple] = []
        self.stats: list[tuple[int, dict]] = []  # (seq, result)

    def _files(self, gid: str) -> list[str]:
        return [e["path"] for e in _live(self.base) if e["path"].startswith(f"group_id={gid}/")]

    def _written(self, pdf: pd.DataFrame) -> None:
        self.seq += 1
        self.records += len(pdf)
        self.writes.append((self.seq, pdf))

    def _compact(self, rec: Recorder, gid: str) -> None:
        ok, n = rec.op("ingest.compact", lambda: self.fs.maybe_compact(
            gid, max_files=self.max_files[gid], target_rows_per_file=self.TARGET_ROWS,
            cluster_by=self.ZORDER, zorder=True))
        if ok and n:
            self._arm(gid)

    def _arm(self, gid: str) -> None:
        """Set the group's threshold so that it compacts again on the
        last write of the next cycle (one file per append or single
        write, two per drain)."""
        writes = self.APPENDS_PER_CYCLE + 1 if gid == self.gid else 2
        self.max_files[gid] = len(self._files(gid)) + writes - 1

    def _fresh(self, rec: Recorder, gid: str, pdf: pd.DataFrame) -> None:
        e = pdf["entity_id"].iloc[-1]
        ok, got = rec.op("ingest.fresh", lambda: self.fs.get_features(gid, e),
                         rows=lambda _o: 1)
        if ok:
            self.fresh.append((gid, e, None, self.seq, got))

    def _append(self, rec: Recorder) -> None:
        self.step += 1
        pdf = gen.newer_records(self.seed, "orders", self.gid, self.APPEND_ROWS,
                                self.N_ENTITIES, self.step, "a")
        df = self.spark.createDataFrame(pdf, RECORDS_SCHEMA).coalesce(1)
        ok, _ = rec.op("ingest.append", lambda: self.fs.write_records_df(df),
                       rows=lambda _o: len(pdf))
        if ok:
            self._written(pdf)
        self._compact(rec, self.gid)
        if ok:
            self._fresh(rec, self.gid, pdf)

    def _single(self, rec: Recorder) -> None:
        self.step += 1
        pdf = gen.newer_records(self.seed, "orders", self.gid, 1, self.N_ENTITIES,
                                self.step, "s")
        row = pdf.iloc[0]
        values = {k: json.loads(v) for k, v in row["feature_values"].items()}
        ok, written = rec.op("ingest.single", lambda: self.fs.write_features(
            self.gid, row["entity_id"], values, timestamp=row["timestamp"].to_pydatetime()),
            rows=lambda _o: 1)
        if ok:
            pdf = pdf.assign(id=written.id, feature_values=[
                {k: encode_value(v) for k, v in values.items()}])
            self._written(pdf)
        self._compact(rec, self.gid)
        if ok:
            self._fresh(rec, self.gid, pdf)

    def _drain(self, rec: Recorder) -> None:
        staged = []
        for _ in range(2):
            self.step += 1
            sp = gen.stream_file(self.seed, self.step, self.STREAM_ROWS, self.N_ENTITIES)
            tbl = pa.Table.from_pandas(sp, preserve_index=False).cast(pa.schema([
                ("user", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
                ("s_kind", pa.string()), ("s_score", pa.int64())]))
            pq.write_table(tbl, os.path.join(self.src, f"part-{self.step:06d}.parquet"))
            staged.append(sp)

        def drain() -> None:
            source = (self.spark.readStream
                      .schema("user string, ts timestamp, s_kind string, s_score bigint")
                      .option("maxFilesPerTrigger", 1).parquet(self.src))
            q = ingest.start_ingest(self.fs, self.sgid, source, entity_col="user",
                                    ts_col="ts", value_cols=["s_kind", "s_score"],
                                    checkpoint=self.ckpt, trigger_available_now=True)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        ok, _ = rec.op("ingest.stream", drain, rows=lambda _o: sum(map(len, staged)))
        if ok:
            for sp in staged:
                self._written(pd.DataFrame({
                    "id": "", "group_id": self.sgid, "entity_id": sp["user"],
                    "feature_values": [{"s_kind": encode_value(k), "s_score": encode_value(int(s))}
                                       for k, s in zip(sp["s_kind"], sp["s_score"])],
                    "timestamp": sp["ts"]}))
        self._compact(rec, self.sgid)
        if ok:
            self._fresh(rec, self.sgid, self.writes[-1][1])

    def block(self, rec: Recorder) -> None:
        """One cycle; both groups compact once in it."""
        for _ in range(self.APPENDS_PER_CYCLE):
            self._append(rec)
        self._single(rec)
        self._drain(rec)
        ok, stats = rec.op("ingest.stats", lambda: self.fs.statistics(self.gid))
        if ok:
            self.stats.append((self.seq, stats))

    def warm(self) -> None:
        # One append, one write and one drain: first-use costs of each
        # write path (the drain also creates the stream checkpoint);
        # then one compaction, the first use of the z-order rewrite.
        # Arming both groups makes each compact on the last write of
        # every loop cycle.
        rec = self.warm_rec
        self.max_files = {self.gid: 10**6, self.sgid: 10**6}
        self._append(rec)
        self._single(rec)
        self._drain(rec)
        self.fs.compact_records(self.gid, target_rows_per_file=self.TARGET_ROWS,
                                cluster_by=self.ZORDER, zorder=True)
        for gid in (self.gid, self.sgid):
            self._arm(gid)

    def check(self) -> tuple[int, int]:
        orc = oracle.AsOfOracle()
        orc.add(self.base_pdf, 0)
        for seq, pdf in self.writes:
            orc.add(pdf, seq)
        wrong = oracle.count_wrong_lookups(orc, self.fresh)
        # Every statistics result, over the batch-group records written
        # before it (recorded ops, already counted as attempted).
        for seq, got in self.stats:
            batch = pd.concat([self.base_pdf] + [
                pdf for s, pdf in self.writes if s <= seq and (pdf["group_id"] == self.gid).all()])
            wrong += oracle.statistics_wrong(
                got, oracle.expected_statistics(batch, FEATURES["orders"]), len(batch))
        # Compaction must neither lose nor duplicate records: one more
        # check, beyond the loop's ops.
        live = sum(self.fs.records_df(g).count() for g in (self.gid, self.sgid))
        wrong += live != self.records
        return 1, int(wrong)

    def e2e(self, rec: Recorder) -> dict[str, float]:
        return {"op_cpu_ms": rec.mean_cpu_ms("ingest.append", "ingest.single"),
                "batch_cpu_ms": rec.mean_cpu_ms("ingest.fresh"),
                "rows_per_cpu_s": rec.rows_per_cpu_s(WRITE_KINDS)}


WORKLOADS = {w.name: w for w in (ServeAsOf, IngestCompact)}
