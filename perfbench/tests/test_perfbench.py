"""Self-tests of the benchmark: deterministic inputs, metric names in
step with BENCHMARK.json, and checkers that flag wrong answers. No
Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def serve_ops(seed: int, n: int, n_entities: int = 100) -> list:
    return list(itertools.islice(gen.serve_ops(seed, n_entities, pit_every=5), n))


def test_generators_are_deterministic_per_seed():
    for seed in (1, 7):
        a = gen.records(seed, "orders", "g", 500, 50)
        pd.testing.assert_frame_equal(a, gen.records(seed, "orders", "g", 500, 50))
        pd.testing.assert_frame_equal(
            gen.newer_records(seed, "events", "g", 40, 50, 3, "a"),
            gen.newer_records(seed, "events", "g", 40, 50, 3, "a"))
        pd.testing.assert_frame_equal(gen.stream_file(seed, 2, 30, 50),
                                      gen.stream_file(seed, 2, 30, 50))
        assert serve_ops(seed, 50) == serve_ops(seed, 50)
    assert not gen.records(1, "orders", "g", 500, 50).equals(
        gen.records(2, "orders", "g", 500, 50))
    assert serve_ops(1, 50) != serve_ops(2, 50)


def test_serve_mix_is_fixed_and_draws_cover_evenly():
    ops = serve_ops(3, 200, n_entities=1000)
    assert [o.kind for o in ops[:5]] == ["lookup"] * 4 + ["pit"]
    for kind in ("lookup", "pit"):
        # Every prefix of as_of fractions stays close to uniform.
        u = np.array([(o.as_of - gen.T0) / (gen.T_END - gen.T0) for o in ops if o.kind == kind])
        for n in (8, 16, len(u)):
            assert np.abs(np.sort(u[:n]) - (np.arange(n) + 0.5) / n).max() < 2.5 / n
    lookups = [o for o in ops if o.kind == "lookup"]
    assert 0.5 < sum(o.group == "orders" for o in lookups) / len(lookups) < 0.7
    # Zipf: the hottest key takes a large share, most keys appear once.
    counts = pd.Series([o.entities[0] for o in lookups]).value_counts()
    assert counts.iloc[0] > 0.1 * len(lookups) and (counts == 1).sum() > len(counts) / 2
    # 3 of every 10 events lookups ask for an entity without events records.
    events = [o.entities[0] for o in lookups if o.group == "events"][:30]
    assert sum(int(e[1:]) >= gen._cover("events", 1000) for e in events) == 9
    # Which ranks have events records is the same for every seed.
    for seed in (3, 4):
        ranked = gen.ranked_entities(seed, 1000)
        assert sorted(ranked) == list(range(1000))
        assert ((ranked < gen._cover("events", 1000)) == (gen.ranked_entities(5, 1000) < 700)).all()
    assert gen.ranked_entities(3, 1000)[0] < 700
    # Every join asks for the same number of distinct entities.
    assert {len(set(o.entities)) for o in ops if o.kind == "pit"} == {gen.PIT_ENTITIES}


def test_metric_names_equal_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def test_drive_runs_min_blocks_per_recorder_past_the_deadline():
    from workloads import Recorder

    class Work:
        MIN_BLOCKS = 3

        def block(self, rec):
            rec.attempted += 1

    phases = [Recorder(None), Recorder(None)]
    run.drive(Work(), phases, deadline=0.0)
    assert [(r.blocks, r.attempted) for r in phases] == [(3, 3), (3, 3)]
    assert all(r.wall_s > 0 for r in phases)


def test_recorder_times_op_cpu():
    from workloads import Recorder

    rec = Recorder(None)
    rec.op("busy", lambda: sum(range(2_000_000)), rows=lambda _o: 3)
    rec.op("idle", lambda: time.sleep(0.2))
    assert rec.cpu_ms["busy"][0] > 5.0 and rec.rows["busy"] == 3
    # A wait costs wall time, not CPU.
    assert rec.lat_ms["idle"][0] >= 200.0 > 20.0 > rec.cpu_ms["idle"][0]
    assert rec.op_cpu_s * 1000.0 == pytest.approx(rec.cpu_ms["busy"][0] + rec.cpu_ms["idle"][0])
    assert rec.mean_cpu_ms("busy", "idle") == pytest.approx(rec.op_cpu_s * 500.0)
    # Rows of the named kinds over the CPU of every op.
    assert rec.rows_per_cpu_s({"busy"}) == pytest.approx(3 / rec.op_cpu_s)


T1, T2, T3 = datetime(2024, 3, 1), datetime(2024, 6, 1), datetime(2024, 9, 1)


@pytest.fixture()
def orc():
    o = oracle.AsOfOracle()
    enc = lambda d: {k: json.dumps(v) for k, v in d.items()}  # noqa: E731
    o.add(pd.DataFrame({
        "group_id": ["orders", "orders", "events"],
        "entity_id": ["e1", "e1", "e1"],
        "id": ["r1", "r2", "r3"],
        "timestamp": pd.to_datetime([T1, T2, T1]),
        # r2 is a newer PARTIAL snapshot: it hides b, it does not merge.
        "feature_values": [enc({"a": 1, "b": 2.5}), enc({"a": 3}), enc({"x": "k"})],
    }), seq=0)
    o.add(pd.DataFrame({
        "group_id": ["orders"], "entity_id": ["e2"], "id": ["r4"],
        "timestamp": pd.to_datetime([T1]), "feature_values": [enc({"a": 9})],
    }), seq=1)
    return o


def test_lookup_checker_flags_mutated_answers(orc):
    right = [("orders", "e1", T3, 0, {"a": 3}),
             ("orders", "e1", datetime(2024, 4, 1), 0, {"a": 1, "b": 2.5}),
             ("orders", "e1", datetime(2024, 1, 1), 0, None),
             ("orders", "e2", T3, 0, None),        # written at seq 1: not yet visible
             ("orders", "e2", None, 1, {"a": 9})]  # as_of None = now
    assert oracle.count_wrong_lookups(orc, right) == 0
    mutations = [
        ("orders", "e1", T3, 0, {"a": 3, "b": 2.5}),  # merged across snapshots
        ("orders", "e1", datetime(2024, 1, 1), 0, {"a": 1, "b": 2.5}),  # future leak
        ("orders", "e2", T3, 0, {"a": 9}),            # read saw a later write
        ("orders", "e2", None, 1, None),              # lost write
        ("orders", "e1", T3, 0, {"a": 3.5}),          # wrong value
    ]
    for m in mutations:
        assert oracle.count_wrong_lookups(orc, right + [m]) == 1, m


def test_pit_checker_flags_mutated_rows(orc):
    groups = [("orders", ["a", "b"]), ("events", ["x"])]
    want = [{"entity_id": "e1", "a": 3, "x": "k"},
            {"entity_id": "e2", "a": 9, "x": None},
            {"entity_id": "e3", "a": None, "b": None, "x": None}]
    assert orc.pit_rows(["e1", "e2", "e3"], groups, T3, 1) == want
    ok = (("e1", "e2", "e3"), groups, T3, 1, want)
    assert oracle.count_wrong_pits(orc, [ok]) == 0
    mutated = [
        [want[0], {"entity_id": "e2", "a": 9, "b": None, "x": None}, want[2]],  # null-fill of a hit group
        [want[0], want[1], {"entity_id": "e3", "a": None, "b": None}],  # lost null-fill
        [want[1], want[0], want[2]],                                 # order not preserved
        [{"entity_id": "e1", "a": 3, "b": 2.5, "x": "k"}, want[1], want[2]],  # not snapshot-wins
    ]
    for rows in mutated:
        assert oracle.count_wrong_pits(orc, [ok, (ok[0], groups, T3, 1, rows)]) == 1


def test_statistics_checker_flags_mutated_stats():
    pdf = pd.DataFrame({"feature_values": [
        {"p": "1", "s": '"x"'}, {"p": "2.5"}, {"s": '"y"'}, {"p": "4", "s": '"x"'}]})
    want = oracle.expected_statistics(pdf, [("p", "float"), ("s", "str")])
    assert want["p"] == {"count": 3, "null_count": 1, "mean": 2.5, "min": 1, "max": 4}
    assert want["s"] == {"count": 3, "null_count": 1, "mean": None, "min": None, "max": None}
    got = {"total_records": 4, "features": json.loads(json.dumps(want))}
    assert not oracle.statistics_wrong(got, want, 4)
    for path, value in [(("p", "count"), 2), (("p", "mean"), 2.6), (("p", "max"), 5),
                        (("s", "null_count"), 0), (("s", "mean"), 1.0)]:
        bad = json.loads(json.dumps(got))
        bad["features"][path[0]][path[1]] = value
        assert oracle.statistics_wrong(bad, want, 4), path
    assert oracle.statistics_wrong({**got, "total_records": 5}, want, 4)


def test_self_time_subtracts_child_coverage():
    from tracing import Tracer, covered

    assert covered([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == 3.0
    tr = Tracer()
    tr.spans = [
        {"id": 0, "parent": None, "name": "op", "t0": 0.0, "t1": 1.0},
        {"id": 1, "parent": 0, "name": "a", "t0": 0.1, "t1": 0.4},
        {"id": 2, "parent": 0, "name": "b", "t0": 0.3, "t1": 0.6},  # overlaps a
        {"id": 3, "parent": 1, "name": "c", "t0": 0.2, "t1": 0.3},
    ]
    self_ms = tr.self_times()
    assert self_ms[0] == pytest.approx(500.0)
    assert self_ms[1] == pytest.approx(200.0)
    assert self_ms[3] == pytest.approx(100.0)


def test_wrapper_hooks_record_no_spans():
    from tracing import Tracer

    class Log:
        def read(self):
            return 1

        def replay(self):
            return self.read() + self.read()

    tr = Tracer()
    tr.wrap(Log, "read", "read")
    tr.wrap(Log, "replay", "replay", after=lambda a, k, r: {"again": a[0].read()})
    assert Log().replay() == 2
    tr.uninstall()
    assert [s["name"] for s in tr.spans] == ["replay", "read", "read"]
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
    assert Log.read.__qualname__.endswith("Log.read")  # restored
