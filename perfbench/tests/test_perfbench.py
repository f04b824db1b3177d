"""Unit tests of the benchmark's own arithmetic: the statistic and the
spread rule, the event-log fold, and the component_timings reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import stats, trace  # noqa: E402
from perfbench.trace import Span  # noqa: E402
from perfbench.workloads import group_component_timings  # noqa: E402

# ---------------------------------------------------------------- stats


def test_median_of_even_and_odd_samples():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 10.4, 9.8, 10.1, 10.9, 9.7, 10.2, 10.0, 10.3, 9.9]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    assert stats.quartile_spread([5.0] * 10) == 0.0


def test_quartile_spread_refuses_a_zero_median():
    with pytest.raises(ValueError):
        stats.quartile_spread([0.0, 0.0, 0.0])


def test_worse_by_follows_the_better_direction():
    assert stats.worse_by([10.0, 10.0], [11.0, 11.0], "lower") == pytest.approx(0.1)
    assert stats.worse_by([10.0, 10.0], [11.0, 11.0], "higher") == pytest.approx(-0.1)


# ---------------------------------------------------------------- fold


def _job(jid, t_ms, stages, group=None, end_ms=None):
    props = {"spark.jobGroup.id": group} if group else {}
    start = {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
             "Stage IDs": stages, "Properties": props}
    end = {"Event": "SparkListenerJobEnd", "Job ID": jid,
           "Completion Time": end_ms if end_ms is not None else t_ms + 100}
    return start, end


def _task(stage, cpu_ns=1_000_000_000, reason="Success", shuffle_w=0, records=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Records Read": records},
        },
    }


def _stage_done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_fold_attributes_by_group_then_by_window():
    spans = [
        Span("op", 10.0, 20.0, 0),
        Span("op.derive", 11.0, 12.0, 1),
        Span("rules", 30.0, 31.0, 0),
    ]
    j0s, j0e = _job(0, 11_500, [0])          # no group, inside op.derive
    j1s, j1e = _job(1, 15_000, [1, 2])       # no group, inside op only
    j2s, j2e = _job(2, 30_500, [3], "rules")  # grouped
    j3s, j3e = _job(3, 40_000, [4])          # outside every span
    events = [
        j0s, _task(0, records=3), _stage_done(0), j0e,
        j1s, _task(1), _task(1, reason="ExceptionFailure"), _stage_done(1), j1e,
        j2s, _task(3, shuffle_w=100), _stage_done(3), j2e,
        j3s, _task(4), j3e,
    ]
    out = trace.fold(events, spans)
    assert out["op.derive"]["jobs"] == 1 and out["op.derive"]["records_in"] == 3
    assert out["op"]["jobs"] == 1
    assert out["op"]["tasks"] == 2 and out["op"]["failed_tasks"] == 1
    assert out["op"]["stages"] == 1  # stage 2 was listed but never ran
    assert out["op"]["executor_cpu_s"] == pytest.approx(2.0)
    assert out["op"]["spill_bytes"] == 24 and out["op"]["shuffle_read_bytes"] == 6
    assert out["rules"]["shuffle_write_bytes"] == 100
    assert out["other"]["jobs"] == 1 and out["other"]["tasks"] == 1


def test_fold_ignores_a_foreign_job_group():
    spans = [Span("op", 10.0, 20.0, 0)]
    js, je = _job(0, 12_000, [0], group="some-stream-run-id")
    out = trace.fold([js, _task(0), je], spans)
    assert out["op"]["jobs"] == 1 and out["op"]["tasks"] == 1


def test_busy_seconds_is_the_union_of_job_intervals_clipped_to_the_window():
    a = _job(0, 1_000, [], end_ms=3_000)
    b = _job(1, 2_000, [], end_ms=4_000)   # overlaps a
    c = _job(2, 6_000, [], end_ms=12_000)  # runs past the window
    events = [a[0], b[0], a[1], b[1], c[0], c[1]]
    assert trace.busy_seconds(events, 0.0, 10.0) == pytest.approx(3.0 + 4.0)


def test_spans_nest_and_report_walls():
    spans = trace.Spans()
    with spans.span("op"):
        assert spans.open("op")
        with spans.span("op.derive"):
            pass
    assert not spans.open("op")
    assert [s.name for s in spans.done] == ["op.derive", "op"]
    assert [s.depth for s in spans.done] == [1, 0]
    assert len(spans.walls("op")) == 1 and spans.walls("op")[0] >= 0


# ---------------------------------------------------- component timings


def test_component_timings_grouped_per_run_in_commit_order():
    rows = [
        ("s2", "__local_delta__", 1.5), ("s1", "__rules__", 9.0),
        ("s2", "__ri_fold__", 0.5), ("s1", "__ri_state__", 2.0),
        ("s3", "__local_delta__", 1.25),
    ]
    runs = group_component_timings(rows, ["s1", "s2", "s3"])
    assert runs == [
        {"__rules__": 9.0, "__ri_state__": 2.0},
        {"__local_delta__": 1.5, "__ri_fold__": 0.5},
        {"__local_delta__": 1.25},
    ]


def test_component_timings_run_without_rows_is_empty():
    assert group_component_timings([], ["s1"]) == [{}]
