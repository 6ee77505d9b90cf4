"""Span arithmetic: self time, job charging, and the per-pass figures
built on them. Runs without Spark:

    python3 -m pytest lakebench/tests -q
"""

from __future__ import annotations

from lakebench import layers
from lakebench.sparkstore import Job, StageStats
from lakebench.spans import Span, charge_jobs, covered, self_cpu, self_times


def _span(sid, name, parent, start, end, cpu=0.0, **attrs):
    return Span(sid, name, parent, 1, start, end, cpu, attrs)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    # intervals reaching outside [lo, hi] count only their inside part
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_with_overlapping_children():
    spans = [_span(0, "pass", None, 0.0, 10.0),
             _span(1, "a", 0, 1.0, 4.0),
             _span(2, "b", 0, 3.0, 6.0),   # overlaps a by 1 s
             _span(3, "c", 2, 3.5, 4.5)]   # grandchild: not 0's child
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0          # union of [1,4] and [3,6]
    assert st[1] == 3.0
    assert st[2] == 3.0 - 1.0
    assert st[3] == 1.0


def test_self_cpu_subtracts_children():
    spans = [_span(0, "pass", None, 0, 10, cpu=2.0),
             _span(1, "a", 0, 1, 2, cpu=0.5),
             _span(2, "b", 0, 3, 4, cpu=0.25)]
    assert self_cpu(spans) == {0: 1.25, 1: 0.5, 2: 0.25}


def test_each_job_charged_to_exactly_one_span():
    spans = [_span(0, "pass", None, 0, 10), _span(1, "a", 0, 1, 4),
             _span(2, "b", 1, 2, 3)]
    groups = {10: spans[0].group, 11: spans[1].group, 12: spans[2].group,
              13: spans[2].group, 14: None, 15: "someone-else"}
    charged, orphans = charge_jobs(groups, {}, spans)
    assert charged == {0: [10], 1: [11], 2: [12, 13]}
    assert orphans == [14, 15]
    every = [j for js in charged.values() for j in js] + orphans
    assert sorted(every) == sorted(groups)


def test_foreign_group_job_charged_by_start_time():
    # a streaming query runs its micro-batches under a group of its own
    spans = [_span(0, "pass", None, 0, 10), _span(1, "a", 0, 1, 4),
             _span(2, "b", 1, 2, 3), _span(3, "c", 0, 5, 6)]
    groups = {20: "stream-run", 21: "stream-run", 22: "stream-run",
              23: "stream-run", 24: spans[1].group}
    starts = {20: 2.5, 21: 3.5, 22: 9.0, 23: 11.0, 24: 5.5}
    charged, orphans = charge_jobs(groups, starts, spans)
    # innermost open span wins; a span's own group beats the clock
    assert charged == {0: [22], 1: [21, 24], 2: [20], 3: []}
    assert orphans == [23]


def test_pass_metrics_counts_reused_stage_once():
    spans = [_span(0, "pass", None, 0, 10),
             _span(1, "operators.detection", 0, 1, 4),
             _span(2, "formatters.diagrams", 0, 5, 9)]
    jobs = {1: Job(1, spans[1].group, [1, 2]),
            2: Job(2, spans[2].group, [2, 3])}   # stage 2 reused
    stages = {1: StageStats(tasks=4),
              2: StageStats(tasks=2, shuffle_read_mb=0.5),
              3: StageStats(tasks=1)}
    rec = {"gc_s": 0.1, "cpu": {"jvm": 1.0, "pyworker": 2.0,
                                "driver_py": 0.5}}
    m = layers.pass_metrics(spans, jobs, stages, layers.stage_owner(jobs),
                            rec)
    assert m["detection.jobs"] == 1 and m["diagrams.jobs"] == 1
    assert m["detection.tasks"] == 6 and m["diagrams.tasks"] == 1
    assert m["spark.jobs"] == 2 and m["spark.stages"] == 3
    assert m["spark.tasks"] == 7
    assert m["detection.s"] == 3 and m["diagrams.s"] == 4


def test_memo_hit_ratio_counts_repeated_results():
    a, b = object(), object()
    spans = [_span(i, "operators.detection", None, i, i + 1, result=r)
             for i, r in enumerate([a, a, b, a])]
    assert layers.memo_hit_ratio(spans) == 0.5
