"""Self-tests of the benchmark's percentile rule and event-log parser.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tracing as T  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog")


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert T.tail_percentile(n) == p


def test_nearest_rank_returns_a_measured_sample():
    xs = list(range(40, 0, -1))
    assert T.nearest_rank(xs, 50) == 20
    assert T.nearest_rank(xs, 75) == 30
    assert T.nearest_rank([7.5], 99) == 7.5
    with pytest.raises(ValueError):
        T.nearest_rank([], 50)


def test_event_files_orders_rolling_parts():
    files = T.event_files(LOG)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-1",
        "events_2_local-1",
        "events_1_local-2",
    ]


def test_parse_jobs_from_recorded_log():
    jobs = T.parse_jobs(LOG)
    # job ids restart per application: both apps have a job 0
    assert sorted((j.group or "") for j in jobs) == ["", "pb0", "pb1"]
    by = {j.group: j for j in jobs}
    j0 = by["pb0"]
    assert j0.tasks == 8
    assert (j0.start_ms, j0.end_ms) == (1792229189904, 1792229192667)
    assert j0.metrics["py_start_ms"] == 5174
    assert j0.metrics["py_init_ms"] == 1436
    assert j0.metrics["py_run_ms"] == 6613
    assert j0.metrics["shuffle_write_bytes"] == 957
    assert j0.metrics["gc_ms"] == 129
    assert j0.metrics["spill_bytes"] == 0
    assert j0.records_read == 10000
    j1 = by["pb1"]
    assert j1.tasks == 1 and j1.metrics["py_run_ms"] == 0 and j1.end_ms == 1792229200500


def _span(sid, layer, start, end, parent=None):
    return T.Span(sid=sid, layer=layer, name=sid, parent=parent, start=start, end=end)


def test_span_stats_driver_gap_excludes_jobs_and_children():
    jobs = [
        T.Job(group="a", start_ms=1_000, end_ms=3_000),
        T.Job(group="a", start_ms=2_000, end_ms=4_000),  # overlaps the first
        T.Job(group="b", start_ms=6_000, end_ms=7_000),
    ]
    spans = [_span("a", "wand", 0.5, 5.0), _span("p", "ind", 5.0, 9.0), _span("b", "ind", 5.5, 7.5, "p")]
    st = T.span_stats(spans, jobs)
    assert st["a"]["driver_gap_ms"] == 4500 - 3000
    assert st["a"]["jobs"] == 2
    assert st["b"]["driver_gap_ms"] == 2000 - 1000
    # the parent's gap leaves out its child's whole wall
    assert st["p"]["driver_gap_ms"] == 4000 - 2000
    table = T.layer_table(spans, st, ("wand", "ind"))
    assert table["ind.driver_gap_ms"] == 1000 + 2000
    assert table["wand.driver_gap_ms"] == 1500


def test_span_stats_on_recorded_log():
    spans = [_span("pb0", "pipeline", 1792229189.5, 1792229193.0)]
    st = T.span_stats(spans, T.parse_jobs(LOG))["pb0"]
    assert st["driver_gap_ms"] == 3500 - (1792229192667 - 1792229189904)
    assert st["tasks"] == 8 and st["py_init_ms"] == 1436


def test_coverage_counts_top_level_spans_once():
    spans = [_span("a", "x", 1.0, 3.0), _span("b", "x", 2.0, 4.0), _span("c", "x", 2.5, 3.5, "a")]
    cov, rest = T.coverage(spans, 0.0, 5.0)
    assert cov == pytest.approx(3 / 5)
    assert rest == 2000


def test_benchmark_json_lists_what_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOAD_NAMES)
