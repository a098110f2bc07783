#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload serve_asof --seed 1 --seconds 15 --trace 0

Run from the repository root. Every run starts its own Spark session on
``local[N]`` (N = usable cores, also the shuffle partition count),
generates its inputs from ``--seed``, builds the store and warms it up
(the CPU of all that, session start included, is ``setup_s``), runs
the workload's closed loop for ``--seconds``, checks every kept answer
against the oracle and prints JSON lines. The last line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``failed`` counts failed ops plus wrong answers, so ``failed /
attempted`` is the error rate. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the loop alternates untraced and
traced blocks, and the metrics are the per-layer ones from the traced
blocks. The line before the result carries provenance and per-op
detail (and, when traced, the per-layer artifact with the tracing
overhead).

All scratch (temp files, Spark local dirs, stores, event log) lives in
``.perfbench_scratch/`` under the repository root and is deleted at
exit, after the bytes left in the temp dirs are recorded.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "batch_cpu_ms": "ms",
    "rows_per_cpu_s": "rows/s",
    "store_bytes_per_record": "B",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "versioning.live_entries_ms_per_op": "ms",
    "versioning.manifests_read_per_op": "count",
    "versioning.commit_ms_p50": "ms",
    "versioning.live_files": "count",
    "versioning.versions": "count",
    "store.records_df_ms_p50": "ms",
    "store.files_per_read": "count",
    "store.file_skip_ratio": "ratio",
    "store.rows_scanned_per_row_returned": "ratio",
    "store.write_ms_p50": "ms",
    "store.write_driver_ms_p50": "ms",
    "store.compactions": "count",
    "store.compact_ms": "ms",
    "store.compact_bytes_rewritten": "B",
    "store.bytes_per_record": "B",
    "asof.job_ms": "ms",
    "asof.shuffle_bytes": "B",
    "stats.job_ms": "ms",
    "stats.shuffle_bytes": "B",
    "spark.jobs_per_op": "count",
    "spark.job_ms_per_op": "ms",
    "spark.driver_gap_ms_per_op": "ms",
    "spark.tasks_per_op": "count",
    "spark.shuffle_read_bytes_per_op": "B",
    "spark.shuffle_write_bytes_per_op": "B",
    "spark.spill_bytes": "B",
    "spark.input_records_per_op": "count",
    "spark.task_skew_max": "ratio",
    "spark.gc_ms": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.start_stop_ms": "ms",
    "streaming.scratch_bytes_left": "B",
}


DRIVER_MEM = "1g"
# The JVM's optimising (C2) JIT kept making ops faster for minutes: a
# lookup went from ~380 to ~220 ms over 60 s of ops and was still
# falling, and appends from ~300 to ~180 ms, so a short run measured
# how far into that ramp the host had got. With the quick (C1)
# compiler alone, ops level off after a few seconds of warm-up, ~20-30%
# slower than C2's eventual peak.
# How much of its heap G1 had touched by the end of a run depended on
# when its collections happened to run, and the JVM's peak RSS moved by
# ~20% between runs; the heap is committed and touched in full at
# start, so only memory outside the Java heap can move the JVM's share.
# The serial collector has no GC threads that spin while waiting for a
# peer the host has descheduled, CPU time that would read as the
# engine's own.
JVM_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:+UseSerialGC"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(scratch: str) -> dict[str, str]:
    """Pin cores and route every temp path into ``scratch``; must run
    before pyspark starts the JVM, which its workers inherit from."""
    dirs = {k: os.path.join(scratch, k) for k in ("tmp", "data", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        # A fixed driver heap: under the 8g default, how far G1 grew the
        # heap depended on GC timing, and peak RSS moved by up to 40%
        # between seeds.
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["tmp"],
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = None
    return dirs


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU tick counters (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks`` readings (field 8 is steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1)


def provenance(args, spark, wl, probe_s: float, steal: float) -> dict:
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "blackroad_feature_store_spark")
    for root, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc(),
        "sizes": {k: v for k, v in vars(type(wl)).items() if k.isupper()},
        "spark": spark.version, "python": platform.python_version(),
        "git_sha": sha, "package_sha256": h.hexdigest(),
        "probe_s": probe_s,
        "loop_steal_share": steal,
    }


def spark_probe(spark) -> float:
    """Fixed-work reading of the host (recorded, never divided by)."""
    t = time.perf_counter()
    spark.range(0, 20_000_000, numPartitions=nproc()).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t


def op_detail(rec) -> dict:
    from tracing import pct

    return {k: {"n": len(v), "p50_ms": pct(v, 50), "p90_ms": pct(v, 90), "p95_ms": pct(v, 95),
                "max_ms": max(v), "cpu_p50_ms": pct(rec.cpu_ms[k], 50)}
            for k, v in sorted(rec.lat_ms.items()) if v}


def per_layer(tracer, log, listener, wl, session_s: float, scratch_left: int
              ) -> tuple[dict, dict]:
    """Per-layer metrics of the traced blocks, and the per-op Spark table."""
    from tracing import attribute, pct, stage_skew
    from workloads import READ_KINDS, _live

    from blackroad_feature_store_spark.versioning import CommitLog

    ops = tracer.ops
    n_ops = max(len(ops), 1)
    per_op, job_op = attribute(log, ops)
    spans = tracer.spans

    def total(key: str, kinds=None) -> float:
        return sum(per_op[o["label"]][key] for o in ops if kinds is None or o["kind"] in kinds)

    def per_kind(kind: str, key: str) -> float:
        sel = [o for o in ops if o["kind"] == kind]
        return sum(per_op[o["label"]][key] for o in sel) / len(sel) if sel else 0.0

    reads = [s for s in spans if s["name"] == "store.records_df" and "files" in s]
    files = sum(s["files"] for s in reads)
    candidates = sum(s["candidates"] for s in reads)
    returned = sum(o["rows"] for o in ops if o["kind"] in READ_KINDS)
    writes = [o for o in ops if o["kind"] in ("ingest.append", "ingest.single")]
    compactions = [s for s in spans if s["name"] == "store.compact_records"]
    drains = [o for o in ops if o["kind"] == "ingest.stream"]
    batches = [b for b in listener.batches
               if any(o["t0"] <= b["t0"] <= o["t1"] for o in drains)]

    def phase(key: str) -> list[float]:
        return [b.get(key, 0) for b in batches]

    stages = {s for jid in job_op for s in log["jobs"][jid]["stages"]}
    wall_ms = sum((o["t1"] - o["t0"]) * 1000.0 for o in ops)
    log_dir = os.path.join(wl.base, "_versions")
    out = {
        "session.start_s": session_s,
        "versioning.live_entries_ms_per_op": sum(tracer.durations("versioning.live_entries")) / n_ops,
        "versioning.manifests_read_per_op": len(tracer.durations("versioning.read")) / n_ops,
        "versioning.commit_ms_p50": pct(tracer.durations("versioning.commit"), 50),
        "versioning.live_files": len(_live(wl.base)),
        "versioning.versions": len(CommitLog(log_dir).versions()),
        "store.records_df_ms_p50": pct(tracer.durations("store.records_df"), 50),
        "store.files_per_read": files / max(len(reads), 1),
        "store.file_skip_ratio": 1.0 - files / candidates if candidates else 0.0,
        "store.rows_scanned_per_row_returned": total("input_records", READ_KINDS) / max(returned, 1),
        "store.write_ms_p50": pct([(o["t1"] - o["t0"]) * 1000.0 for o in writes], 50),
        "store.write_driver_ms_p50": pct(
            [(o["t1"] - o["t0"]) * 1000.0 - per_op[o["label"]]["covered_ms"] for o in writes], 50),
        "store.compactions": len(compactions),
        "store.compact_ms": sum((s["t1"] - s["t0"]) * 1000.0 for s in compactions),
        "store.compact_bytes_rewritten": sum(s.get("bytes", 0) for s in compactions),
        "store.bytes_per_record": wl.common_e2e()["store_bytes_per_record"],
        "asof.job_ms": per_kind("serve.pit", "job_ms"),
        "asof.shuffle_bytes": per_kind("serve.pit", "shuffle_write"),
        "stats.job_ms": per_kind("ingest.stats", "job_ms"),
        "stats.shuffle_bytes": per_kind("ingest.stats", "shuffle_write"),
        "spark.jobs_per_op": total("jobs") / n_ops,
        "spark.job_ms_per_op": total("job_ms") / n_ops,
        "spark.driver_gap_ms_per_op": (wall_ms - total("covered_ms")) / n_ops,
        "spark.tasks_per_op": total("tasks") / n_ops,
        "spark.shuffle_read_bytes_per_op": total("shuffle_read") / n_ops,
        "spark.shuffle_write_bytes_per_op": total("shuffle_write") / n_ops,
        "spark.spill_bytes": total("spill"),
        "spark.input_records_per_op": total("input_records") / n_ops,
        "spark.task_skew_max": stage_skew(log, stages),
        "spark.gc_ms": total("gc_ms"),
        "streaming.batches": len(batches),
        "streaming.trigger_ms_p50": pct(phase("triggerExecution"), 50),
        "streaming.add_batch_ms": pct(phase("addBatch"), 50),
        "streaming.query_planning_ms": pct(phase("queryPlanning"), 50),
        "streaming.wal_commit_ms": pct(phase("walCommit"), 50),
        "streaming.commit_offsets_ms": pct(phase("commitOffsets"), 50),
        "streaming.start_stop_ms": (
            (sum((o["t1"] - o["t0"]) * 1000.0 for o in drains) - sum(phase("triggerExecution")))
            / len(drains) if drains else 0.0),
        "streaming.scratch_bytes_left": scratch_left,
    }
    return out, per_op


def drive(wl, phases, deadline: float) -> None:
    """Run whole blocks, alternating between the recorders, until
    ``deadline`` has passed and every recorder has run ``wl.MIN_BLOCKS``
    blocks; a recorder with a tracer gets the wrappers installed for its
    blocks only, so traced and untraced blocks see the same drift."""
    i = 0
    while (time.perf_counter() < deadline
           or min(r.blocks for r in phases) < wl.MIN_BLOCKS):
        rec = phases[i % len(phases)]
        if rec.tracer is not None:
            rec.tracer.install()
        t = time.perf_counter()
        try:
            wl.block(rec)
        finally:
            rec.wall_s += time.perf_counter() - t
            rec.blocks += 1
            if rec.tracer is not None:
                rec.tracer.uninstall()
        i += 1


def run(args, dirs: dict[str, str]) -> tuple[dict, list[dict]]:
    """Returns (result line, earlier lines)."""
    from pyspark import SparkContext

    from blackroad_feature_store_spark.session import get_spark

    from tracing import PhaseListener, Tracer, parse_event_log
    from workloads import WORKLOADS, Recorder, cpu_clock

    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": dirs["tmp"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} {JVM_OPTS}",
        "spark.sql.warehouse.dir": os.path.join(dirs["data"], "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t, cpu0 = time.perf_counter(), time.process_time()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    session_s = time.perf_counter() - t
    proc = SparkContext._gateway.proc
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, dirs["data"])
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        wl.warm()
        setup_wall_s = time.perf_counter() - t + session_s
        # The JVM was born in get_spark, so all its CPU is set-up's.
        setup_s = cpu_clock(spark)() - cpu0

        if args.trace:
            tracer, listener = Tracer(), PhaseListener()
            spark.streams.addListener(listener)
            phases = [Recorder(spark), Recorder(spark, tracer)]
        else:
            tracer = listener = None
            phases = [Recorder(spark)]
        ticks = cpu_ticks()
        drive(wl, phases, time.perf_counter() + args.seconds)
        steal = steal_share(ticks, cpu_ticks())
        # After the loop: the probe's large job would otherwise slow the
        # first measured ops, and run before the warm-up it reads cold.
        probe_s = spark_probe(spark)
        if listener is not None:
            # Progress events arrive on the listener bus after the
            # query returns; give the last ones time to land.
            time.sleep(1.0)
            spark.streams.removeListener(listener)
        # Before the checks: the oracle's memory is the benchmark's own.
        rss_py, rss_jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(proc.pid)
        extra_checked, wrong = wl.check()
        e2e = [{**wl.e2e(r), **wl.common_e2e(), "setup_s": setup_s,
                "peak_rss_mb": rss_py + rss_jvm}
               for r in phases]
        detail = {"provenance": provenance(args, spark, wl, probe_s, steal),
                  "setup": {"cpu_s": setup_s, "wall_s": setup_wall_s, "session_s": session_s,
                            "build_s": build_s, "warm_s": setup_wall_s - session_s - build_s},
                  "ops": op_detail(phases[-1]),
                  "blocks": [r.blocks for r in phases],
                  "peak_rss_mb": {"python": rss_py, "jvm": rss_jvm},
                  "loop_s": sum(r.wall_s for r in phases)}
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    scratch_left = dir_bytes(dirs["tmp"])

    recorders = phases + [wl.warm_rec]
    attempted = sum(r.attempted for r in recorders) + extra_checked
    failed = sum(r.failed for r in recorders) + wrong
    if args.trace:
        log = parse_event_log(dirs["eventlog"])
        metrics, per_op = per_layer(tracer, log, listener, wl, session_s, scratch_left)
        units = LAYER_UNITS
        selft = tracer.self_times()
        t0 = tracer.spans[0]["t0"] if tracer.spans else 0.0
        detail["artifact"] = {
            "overhead": {k: {"untraced": e2e[0][k], "traced": e2e[1][k],
                             "ratio": e2e[1][k] / e2e[0][k] if e2e[0][k] else None}
                         for k in E2E_UNITS},
            "span_table": tracer.span_table(),
            "spans": [[s["id"], s["parent"], s["name"], round((s["t0"] - t0) * 1000.0, 3),
                       round((s["t1"] - s["t0"]) * 1000.0, 3), round(selft[s["id"]], 3)]
                      for s in tracer.spans if s["t1"] is not None],
            "span_columns": ["id", "parent", "name", "start_ms", "dur_ms", "self_ms"],
            "event_log": {"jobs": len(log["jobs"]), "tasks": len(log["tasks"]),
                          "per_op": {label: dict(v) for label, v in per_op.items()}},
            "listener": listener.batches,  # traced and untraced blocks
            "layers": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in metrics.items()},
        }
    else:
        metrics = e2e[0]
        units = E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, [detail]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_asof", "ingest_compact"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception, so the finally blocks stop
    # Spark and delete the scratch root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    import blackroad_feature_store_spark  # noqa: F401  (fails fast outside a checkout)

    scratch = os.path.join(ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
    try:
        dirs = prepare_env(scratch)
        result, lines = run(args, dirs)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it
    for line in lines:
        print(json.dumps(line, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
