"""Self-tests of the measurement primitives (no Spark needed).

    python3 -m pytest cdcperf/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import (  # noqa: E402
    JOB_TAG,
    Job,
    Span,
    attribute_jobs,
    covered_seconds,
    freshness,
    layer_self_seconds,
    median,
    parse_event_log,
    self_times,
    tail,
    union_length,
)


# ------------------------------------------------------------- percentiles
def test_tail_below_ten_samples_is_the_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert tail(xs) == (3.0, 50.0, 5)


def test_tail_falls_back_while_the_percentile_would_not_exceed_the_median():
    xs = list(range(1, 21))  # n = 20: rank n-11 is below the median
    value, pct, n = tail(xs)
    assert (value, pct, n) == (median(xs), 50.0, 20)


def test_tail_has_exactly_ten_samples_beyond_it():
    xs = [float(i) for i in range(100)]
    value, pct, n = tail(xs)
    assert (pct, n) == (90.0, 100)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_of_21_samples():
    xs = [float(i) for i in range(21)]
    value, pct, _ = tail(reversed(xs))
    assert value == 10.0 and pct == pytest.approx(100 * 11 / 21)
    assert sum(1 for x in xs if x > value) == 10


def test_empty_samples_raise():
    with pytest.raises(ValueError):
        tail([])


# --------------------------------------------------------------- self time
def test_union_length_merges_overlaps_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 1), (0, 1)]) == 1
    assert union_length([]) == 0


def test_self_time_with_disjoint_children():
    spans = [
        Span("apply", "cdc.apply", 0.0, 10.0),
        Span("merge", "lakehouse.merge", 1.0, 3.0, parent=0),
        Span("merge", "lakehouse.merge", 5.0, 8.0, parent=0),
    ]
    assert self_times(spans) == [5.0, 2.0, 3.0]
    assert layer_self_seconds(spans) == {"cdc.apply": 5.0, "lakehouse.merge": 5.0}
    # a region that holds only the second child still uses the tree's self times
    assert layer_self_seconds(spans, 4.0, 9.0) == {"lakehouse.merge": 3.0}


def test_self_time_with_overlapping_children_counts_the_overlap_once():
    spans = [
        Span("batch", "streaming.ingest", 0.0, 10.0),
        Span("a", "functions.validate", 1.0, 6.0, parent=0),
        Span("b", "cdc.apply", 4.0, 7.0, parent=0),  # overlaps a on [4, 6]
        Span("c", "lakehouse.compact", 9.0, 12.0, parent=0),  # runs past the parent
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_grandchildren_only_reduce_their_own_parent():
    spans = [
        Span("batch", "streaming.ingest", 0.0, 10.0),
        Span("apply", "cdc.apply", 0.0, 8.0, parent=0),
        Span("merge", "lakehouse.merge", 2.0, 6.0, parent=1),
    ]
    assert self_times(spans) == [2.0, 4.0, 4.0]


def test_covered_seconds_uses_top_level_spans_clipped_to_the_region():
    spans = [
        Span("x", "lakehouse.read", 0.0, 4.0),
        Span("y", "lakehouse.read", 3.0, 6.0),
        Span("child", "lakehouse.merge", 0.0, 100.0, parent=0),
    ]
    assert covered_seconds(spans, 1.0, 10.0) == 5.0


# ---------------------------------------------------------------- freshness
def test_freshness_is_measured_from_the_scheduled_arrival():
    scheduled = {"f0": 0.0, "f1": 1.0, "f2": 2.0}
    batch_files = {0: ["f0"], 1: ["f1", "f2"]}
    commits = {0: 3.0, 1: 10.0}
    assert freshness(scheduled, batch_files, commits) == {"f0": 3.0, "f1": 9.0, "f2": 8.0}


def test_freshness_counts_backlog_wait_when_the_file_landed_late():
    # f1 was due at t=1 but the system was busy until t=9: the wait counts,
    # whenever the file actually landed
    scheduled = {"f1": 1.0}
    assert freshness(scheduled, {5: ["f1"]}, {5: 9.5}) == {"f1": 8.5}


def test_freshness_uses_the_first_commit_whose_fence_covers_the_batch():
    scheduled = {"f": 0.0}
    # batch 2 never committed on its own; fence 3 covers it
    assert freshness(scheduled, {2: ["f"]}, {1: 0.5, 3: 4.0, 4: 6.0}) == {"f": 4.0}


def test_freshness_omits_uncovered_and_unscheduled_files():
    out = freshness({"f": 0.0}, {7: ["f"], 0: ["backlog"]}, {0: 1.0})
    assert out == {}


# --------------------------------------------------------- job attribution
def test_tagged_jobs_keep_their_layer():
    jobs = [Job(0, 5.0, 6.0, "lakehouse.merge")]
    spans = [Span("apply", "cdc.apply", 0.0, 10.0)]
    assert attribute_jobs(jobs, spans) == ["lakehouse.merge"]


def test_untagged_jobs_inside_an_apply_span_fall_to_cdc_apply():
    jobs = [Job(0, 5.0, 6.0, None), Job(1, 12.0, 13.0, None)]
    spans = [Span("apply", "cdc.apply", 0.0, 10.0)]
    assert attribute_jobs(jobs, spans) == ["cdc.apply", "session"]


def test_event_log_parse_sums_task_metrics_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": JOB_TAG + "cdc.apply"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Executor Run Time": 2500, "JVM GC Time": 100,
            "Memory Bytes Spilled": 1024 * 1024, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 1024 * 1024}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "JVM GC Time": 50}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor CPU Time": 500_000_000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    j0, j1 = parse_event_log(str(p))
    assert (j0.layer, j0.submit, j0.end, j0.tasks) == ("cdc.apply", 1.0, 2.0, 2)
    assert j0.cpu_s == pytest.approx(3.0) and j0.gc_s == pytest.approx(0.15)
    assert j0.shuffle_mb == pytest.approx(2.0) and j0.spill_mb == pytest.approx(1.0)
    assert (j1.layer, j1.cpu_s) == (None, pytest.approx(0.5))
    spans = [Span("apply", "cdc.apply", 0.5, 3.2)]
    assert attribute_jobs([j0, j1], spans) == ["cdc.apply", "cdc.apply"]


# ------------------------------------------------------ analytics inputs
def test_star_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import datagen

    a = datagen.star_tables(3, str(tmp_path / "a"), scale=0.001)
    b = datagen.star_tables(3, str(tmp_path / "b"), scale=0.001)
    c = datagen.star_tables(4, str(tmp_path / "c"), scale=0.001)
    assert sorted(a) == sorted(
        ["region", "nation", "customer", "supplier", "part",
         "orders", "lineitem", "events", "documents", "embeddings"]
    )
    assert all(os.path.basename(p) == f"{n}.parquet" for n, p in a.items())
    assert all(pq.read_table(a[n]).equals(pq.read_table(b[n])) for n in a)
    assert not pq.read_table(a["lineitem"]).equals(pq.read_table(c["lineitem"]))

