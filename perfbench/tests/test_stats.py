"""The benchmark's arithmetic: the tail-percentile rule, interval unions,
span nesting, self time, and the driver-gap attribution of one pass."""

from __future__ import annotations

import statistics

import pytest

from perfbench.layers import pass_metrics
from perfbench.stats import (
    Span,
    covered,
    nest,
    percentile,
    self_times,
    tail_percentile,
    union_intervals,
)


@pytest.mark.parametrize(
    "n,q",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q
    if q is not None:
        assert n * (100 - q) / 100 >= 10 - 1e-9


def test_percentile_matches_inclusive_quantiles():
    data = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    qs = statistics.quantiles(data, n=100, method="inclusive")
    for q in (10, 50, 90):
        assert percentile(data, q) == pytest.approx(qs[q - 1])
    assert percentile([4.0], 90) == 4.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_of_intervals():
    assert union_intervals([(5, 6), (1, 3), (2, 4), (4, 4.5), (7, 7)]) == [
        (1, 4.5), (5, 6), (7, 7)
    ]
    assert union_intervals([(0, 10), (2, 3)]) == [(0, 10)]
    assert covered([(0, 2), (1, 3), (5, 9)], 1, 6) == pytest.approx(3.0)


def _tree():
    spans = [
        Span("pass", "pass", 0.0, 10.0),
        Span("op", "op", 1.0, 9.0),
        Span("plans.build", "plans", 1.0, 4.0),
        Span("sources.load", "sources", 1.5, 2.0),
        Span("action", "action", 4.0, 9.0),
        # two jobs overlapping by 1 s inside the action
        Span("job", "jobs", 5.0, 7.0),
        Span("job", "jobs", 6.0, 8.0),
    ]
    nest(spans)
    return spans


def test_nesting_follows_containment():
    spans = _tree()
    parents = [s.parent for s in spans]
    assert parents == [None, 0, 1, 2, 1, 4, 4]


def test_self_time_subtracts_union_of_children():
    st = self_times(_tree())
    assert st["pass"] == pytest.approx(2.0)  # 10 - op's 8
    assert st["op"] == pytest.approx(0.0)
    assert st["plans"] == pytest.approx(2.5)
    assert st["sources"] == pytest.approx(0.5)
    assert st["action"] == pytest.approx(2.0)  # 5 - union(5..8) = 3
    # overlapping siblings each keep their full duration as self time
    assert st["jobs"] == pytest.approx(4.0)


def test_nest_slack_absorbs_millisecond_stamps():
    spans = [Span("action", "action", 1.0004, 2.0), Span("job", "jobs", 1.0, 1.5)]
    nest(spans)
    assert spans[1].parent is None
    nest(spans, slack=0.002)
    assert spans[1].parent == 0


def test_pass_metrics_driver_gap_and_self_times_sum_to_pass():
    spans = [
        Span("pass", "pass", 100.0, 110.0),
        Span("op", "op", 100.5, 109.0),
        Span("plans.build", "plans", 100.5, 103.0, attrs={"py4j_calls": 40}),
        Span("action", "action", 103.0, 109.0),
    ]
    stage = {
        "NUM_COMPLETED_TASKS": 4, "EXECUTOR_RUN_TIME_MS": 6000, "EXECUTOR_CPU_TIME_NS": 5e9,
        "GC_TIME_MS": 10, "SHUFFLE_BYTES_WRITTEN": 100, "SHUFFLE_BYTES": 90,
        "SHUFFLE_FETCH_WAIT_MS": 1, "SPILLED_BYTES_MEMORY": 0, "SPILLED_BYTES_DISK": 0,
        "OUTPUT_BYTES": 0,
    }
    log = {
        "jobs": {
            0: {"start_ms": 101_000, "end_ms": 102_000, "stage_ids": [0]},  # during build
            1: {"start_ms": 104_000, "end_ms": 106_000, "stage_ids": [1]},
            2: {"start_ms": 105_000, "end_ms": 107_000, "stage_ids": [2]},
            3: {"start_ms": 200_000, "end_ms": 201_000, "stage_ids": [3]},  # other pass
        },
        "stages": {i: dict(stage) for i in range(4)},
        "deserialize_ms": {0: 1, 1: 2, 2: 3, 3: 100},
        "python": {},
    }
    m = pass_metrics(spans, log, cpus=4)
    assert m["plans.build_jobs"] == 1
    assert m["scheduler.jobs"] == 2
    assert m["scheduler.job_ms"] == pytest.approx(3000.0)  # union 104..107
    assert m["scheduler.driver_gap_ms"] == pytest.approx(3000.0)  # 6 s action - 3 s
    assert m["scheduler.ms_per_job"] == pytest.approx(1500.0)
    assert m["scheduler.tasks"] == 8
    assert m["executor.run_ms"] == 18000  # all three jobs of the pass
    assert m["executor.deserialize_ms"] == 6
    # run time over (time any job of the pass ran: 1 s + 3 s) x 4 cpus
    assert m["executor.slot_util"] == pytest.approx(18000 / (4000 * 4))
    assert m["plans.build_ms"] == pytest.approx(2500.0)
    assert m["plans.py4j_calls"] == 40
    explained = sum(v for k, v in m.items() if k.startswith("self."))
    assert explained == pytest.approx(10_000.0)  # the pass wall
    assert m["self.unexplained_ms"] == pytest.approx(1500.0)
    assert m["self.jobs_ms"] == pytest.approx(4000.0)
    assert m["self.plans_ms"] == pytest.approx(1500.0)
    assert m["self.action_ms"] == pytest.approx(3000.0)


def test_rows_mismatch_allows_one_unit_in_a_rounded_column_only():
    from perfbench.workloads import rows_mismatch

    # ROUND(SUM(x), 2) on a rounding boundary: one unit in the 2nd decimal
    assert rows_mismatch([("N", 2001, 208114.36)], [("N", 2001, 208114.37)]) is None
    assert rows_mismatch([("N", 1, 208114.36)], [("N", 1, 208114.38)]) is not None
    # integral doubles and unrounded doubles compare exactly
    assert rows_mismatch([("a", 3.0)], [("a", 4.0)]) is not None
    assert rows_mismatch([("a", 0.123456)], [("a", 0.123457)]) is not None
    assert rows_mismatch([("a", 1)], [("a", 2)]) is not None
    assert rows_mismatch([], []) is None
