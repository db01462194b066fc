"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import compare, inputs  # noqa: E402
from perfbench.trace import (  # noqa: E402
    StageStats, Tracer, attribute, clip, layer_totals, self_time, union_length,
)


def hashes(stream):
    from det_module_spark.plans.planner import expand_request

    return [[i.spec_hash for i in expand_request(q)] for q in stream]


def test_same_seed_same_stream_and_hashes():
    a, b = inputs.cold_stream(7, 12), inputs.cold_stream(7, 12)
    assert a == b
    assert hashes(a) == hashes(b)
    pool = inputs.warm_pool(7)
    assert inputs.warm_stream(7, pool, 12) == inputs.warm_stream(7, inputs.warm_pool(7), 12)


def test_different_seed_different_stream():
    a, b = inputs.cold_stream(7, 12), inputs.cold_stream(8, 12)
    assert a != b
    assert hashes(a) != hashes(b)
    assert inputs.warm_stream(7, inputs.warm_pool(7), 12) != inputs.warm_stream(
        8, inputs.warm_pool(8), 12)


def test_cold_items_all_distinct():
    flat = [h for hs in hashes(inputs.cold_stream(3, 16)) for h in hs]
    warm_up = [h for hs in hashes(inputs.cold_stream(3, 10, "u")) for h in hs]
    assert len(set(flat)) == len(flat)
    assert not set(flat) & set(warm_up)


def test_cold_stream_shapes():
    stream = inputs.cold_stream(5, 6)
    assert [len(hs) for hs in hashes(stream)] == [6, 5] * 3
    # request k has shape k % len(SHAPES): the same extract types
    types = [[e["options"]["extract_types"] for e in q["raster_data"]] for q in stream]
    assert types[0] == types[2] == types[4] != types[1] == types[3]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_warm_item_is_a_pool_hit(seed):
    pool = inputs.warm_pool(seed)
    cached = {h for hs in hashes(pool) for h in hs}
    stream = inputs.warm_stream(seed, pool, 24)
    assert all(set(hs) <= cached for hs in hashes(stream))
    # every merge is new: no two requests ask for the same item list
    assert len({tuple(hs) for hs in hashes(stream)}) == len(stream)


def test_inputs_deterministic(tmp_path):
    a = inputs.write_suite_tables(4, str(tmp_path / "a"))
    b = inputs.write_suite_tables(4, str(tmp_path / "b"))
    for name in a:
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read(), name


def test_boundary_name_carries_feature_count():
    for q in inputs.cold_stream(2, 4):
        n = inputs.boundary_features(q["boundary"]["name"])
        assert 500 <= n <= 5500


def _tree():
    """root [0, 10) with children a [1, 4) and b [4, 6), a has child c
    [1.5, 2); jobs: root 0-9, a 1-4, b 4-6, c 2-3."""
    clock = iter([0.0, 1.0, 1.5, 2.0, 4.0, 4.0, 6.0, 10.0])
    jobs = iter([0, 1, 2, 3, 4, 4, 6, 9])
    t = Tracer(next_job_id=lambda: next(jobs), clock=lambda: next(clock))
    root = t.open("root")
    a = t.open("a")
    c = t.open("c")
    t.close(c)
    t.close(a)
    b = t.open("b")
    t.close(b)
    t.close(root)
    return root, a, b, c


def test_self_time_subtracts_union_of_children():
    root, a, b, c = _tree()
    assert (a.start, a.end, b.start, b.end) == (1.0, 4.0, 4.0, 6.0)
    assert self_time(root) == pytest.approx(10 - 5)  # children cover [1, 6)
    assert self_time(a) == pytest.approx(3 - 0.5)
    assert self_time(c) == pytest.approx(0.5)


def test_job_range_attribution():
    root, a, b, c = _tree()
    assert (root.job_lo, root.job_hi) == (0, 9)
    assert (a.job_lo, a.job_hi) == (1, 4)
    assert (c.job_lo, c.job_hi) == (2, 3)
    assert (b.job_lo, b.job_hi) == (4, 6)
    # every job has one stage of 2 tasks; job j runs [j, j + 0.5)
    stages = {j: [StageStats(2, 1.0, 0.5, 10, (float(j), j + 0.5))] for j in range(9)}
    got = attribute(a, stages.__getitem__)
    assert got["jobs"] == 3 and got["tasks"] == 6 and got["shuffle_bytes"] == 30
    # a spans [1, 4); jobs 1, 2, 3 busy 1.5 s of it
    assert got["driver_idle_s"] == pytest.approx(3 - 1.5)
    totals = layer_totals(root, stages.__getitem__)
    assert totals["a.jobs"] == 3 and totals["b.jobs"] == 2 and totals["c.jobs"] == 1
    assert totals["spark.jobs"] == 9
    assert totals["a.self_s"] == pytest.approx(2.5)


def test_wrap_records_and_restores():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    t = Tracer()
    raw = vars(Owner)["f"]
    t.wrap(Owner, "f", "layer.f", after=lambda span, r: span.attrs.update(r=r))
    assert Owner.f(1) == 2
    assert [s.name for s in t.roots] == ["layer.f"] and t.roots[0].attrs == {"r": 2}
    t.restore()
    assert vars(Owner)["f"] is raw and Owner().f(1) == 2


def test_compare_refuses_different_core_counts():
    a = {"workload": "det_cold", "trace": 0, "provenance": {"cpus": 8, "pyspark": "4.1.2"},
         "end_to_end": {"setup_s": 10.0}}
    b = {**a, "provenance": {"cpus": 32, "pyspark": "4.1.2"}, "end_to_end": {"setup_s": 5.0}}
    assert compare.comparable(a, b)
    assert not compare.comparable(a, {**a})
    assert compare.ratios(a, {**a, "end_to_end": {"setup_s": 5.0}}) == {"setup_s": 0.5}


def test_compare_reads_record_from_run_output(tmp_path):
    record = {"workload": "det_cold", "trace": 0, "provenance": {"cpus": 4}}
    out = tmp_path / "run.out"
    out.write_text(json.dumps(record) + "\n" + json.dumps({"correct": True, "attempted": 1}) + "\n")
    assert compare.load_record(str(out)) == record


def test_timed_counts_traced_failures_and_alternates():
    from types import SimpleNamespace

    from perfbench import run

    toggles = []
    fake = SimpleNamespace(args=SimpleNamespace(trace=1), pids=[os.getpid()],
                           tracing=toggles.append, reset_peak_rss=lambda: None)

    def cycle(traced):
        return [{"traced": traced}], 1 if traced else 0

    result = run.timed(fake, cycle, seconds=0)
    assert toggles == [False, True, False]  # one untraced, one traced cycle
    assert result["records"] == [{"traced": False}] and result["failed"] == 0
    assert result["traced"] == [{"traced": True}] and result["traced_failed"] == 1
    assert result["peak_rss_mb"] > 0
    ops = [{"op": "pagerank", "s": 2.0}, {"op": "bt_strengths", "s": 3.0},
           {"op": "pagerank", "s": 1.5}]
    assert run.uncovered(["bt_strengths", "pagerank"], ops[:1]) == ["bt_strengths"]
    assert {k: r["s"] for k, r in run.best_of(ops).items()} == {"pagerank": 1.5, "bt_strengths": 3.0}


def test_union_length_merges_overlaps():
    assert union_length([(5, 6), (0, 2), (1, 3), (2.5, 2.5)]) == pytest.approx(4)
    assert union_length(clip([(0, 2), (1, 3)], 1.5, 2.5)) == pytest.approx(1)
