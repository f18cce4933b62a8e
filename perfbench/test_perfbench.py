"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import json

import pytest

from perfbench import run, stats
from perfbench.service import DELETE_WIDTH, KINDS, WRITE_CYCLE, mixed_schedule
from perfbench.trace import Span, Tracer, per_op, self_times

# -- tail percentile: at least ten samples beyond it -----------------------------


@pytest.mark.parametrize(
    "n, rung",
    [(1, 50), (21, 50), (37, 50), (38, 75), (91, 75), (92, 90), (110, 90)],
)
def test_tail_rung_has_ten_samples_beyond(n, rung):
    assert stats.tail_rung(n) == rung
    if rung != 50:
        assert stats.beyond(n, rung) >= stats.TAIL_BEYOND
    higher = [p for p in stats.TAIL_RUNGS if p > rung]
    assert all(stats.beyond(n, p) < stats.TAIL_BEYOND for p in higher)


@pytest.mark.parametrize("n", [11, 20, 41, 60, 101, 250])
def test_beyond_counts_samples_above_the_percentile(n):
    xs = [float(i) for i in range(n)]
    for pct in stats.TAIL_RUNGS:
        cut = stats.percentile(xs, pct)
        assert sum(x > cut for x in xs) == stats.beyond(n, pct)


def test_tail_percentile_uses_the_floor_not_the_sample_count():
    xs = [float(i) for i in range(200)]
    pct, v = stats.tail_percentile(xs, 48)
    assert pct == 75 and v == stats.percentile(xs, 75)
    with pytest.raises(ValueError):
        stats.tail_percentile(xs[:10], 48)


# -- span arithmetic ------------------------------------------------------------


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("api.handler", 0.0, 10.0, -1, "r1"),
        Span("engine.run_query", 1.0, 9.0, 0, "r1"),
        Span("iceberg_local.resolve", 2.0, 5.0, 1, "r1"),
        Span("iceberg_meta.load_metadata", 2.5, 3.0, 2, "r1"),
        Span("spark.collect", 6.0, 8.5, 1, "r1"),
    ]
    assert self_times(spans) == pytest.approx([2.0, 2.5, 2.5, 0.5, 2.5])
    # self times of a tree add up to the root's duration
    assert sum(self_times(spans)) == pytest.approx(10.0)


def test_per_op_total_counts_nested_group_spans_once():
    spans = [
        Span("iceberg_meta.scan_files", 0.0, 4.0, -1, "a"),
        Span("iceberg_meta.load_metadata", 1.0, 2.0, 0, "a"),
        Span("other", 2.0, 3.0, 0, "a"),
        Span("iceberg_meta.load_metadata", 3.0, 3.5, 2, "a"),
        Span("iceberg_meta.load_metadata", 0.0, 1.5, -1, "b"),
    ]
    group = ("iceberg_meta.",)
    assert per_op(spans, group, "total") == pytest.approx({"a": 4.0, "b": 1.5})
    # self: 4 - 1 - 1 = 2, plus the two children 1 and 0.5
    assert per_op(spans, group, "self") == pytest.approx({"a": 3.5, "b": 1.5})


def test_tracer_nests_spans_per_op_and_ignores_untraced_calls():
    tr = Tracer()
    with tr.span("outside"):
        tr.count("c")
    with tr.op("r1"):
        with tr.span("outer"):
            with tr.span("inner"):
                tr.count("c", 2)
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("outer", -1, "r1"),
        ("inner", 0, "r1"),
    ]
    assert tr.counts == {("r1", "c"): 2}


def test_tracer_wrap_and_uninstall_restore_the_attribute():
    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    ns = type("M", (), {"g": lambda x: x * 2})
    tr = Tracer()
    orig = ns.g
    tr.wrap(ns, "g", "m.g", count="m.calls")
    with tr.op("o"):
        assert ns.g(3) == 6
    assert [s.name for s in tr.spans] == ["m.g"] and tr.counts == {("o", "m.calls"): 1}
    tr.uninstall()
    assert ns.g is orig
    with pytest.raises(TypeError):
        tr.wrap(Owner, "f", "owner.f")


# -- the seeded svc-mixed schedule --------------------------------------------------


def _rounds(seed, copy, n=5):
    return list(itertools.islice(mixed_schedule(seed, copy, 150_000, 600_000), n))


def test_mixed_schedule_is_deterministic_in_seed_and_copy():
    assert _rounds(7, 1) == _rounds(7, 1)
    assert _rounds(7, 1) != _rounds(8, 1)
    assert _rounds(7, 1) != _rounds(7, 2)


def test_mixed_schedule_round_shape():
    for steps in _rounds(3, 0):
        writes = [op for op, _ in steps if op in WRITE_CYCLE]
        reads = [op for op, _ in steps if op in KINDS]
        assert writes == list(WRITE_CYCLE)
        assert sorted(reads) == sorted(KINDS)
        assert sum(op == "count" for op, _ in steps) == len(WRITE_CYCLE)
        # every write is directly followed by its COUNT(*) check
        for i, (op, _) in enumerate(steps):
            if op in WRITE_CYCLE:
                assert steps[i + 1][0] == "count"


def test_mixed_schedule_delete_ranges_are_disjoint():
    starts = [a for r in _rounds(11, 0, 50) for op, a in r if op == "delete"]
    assert len(set(starts)) == len(starts)
    assert all(a % DELETE_WIDTH == 0 for a in starts)


# -- the final output line ------------------------------------------------------------


def test_final_line_with_every_per_layer_metric_fits_the_bound():
    units = run.per_layer_units()
    metrics = {k: 123456789.123456789 for k in units}
    line = run.final_line(True, 10**9, 10**9, metrics, units)
    assert len(line) <= run.MAX_FINAL_LINE
    obj = json.loads(line)
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}
    assert set(obj["metrics"]) == set(units)


def test_final_line_over_the_bound_raises():
    units = {f"m{i:05d}": "ms" for i in range(2000)}
    with pytest.raises(ValueError):
        run.final_line(True, 1, 0, dict.fromkeys(units, 1.0), units)


def test_metric_names_match_the_benchmark_definition():
    with open(run.os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
