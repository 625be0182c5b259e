"""Unit tests for the benchmark's own pieces (no Spark session needed).

    python3 -m pytest dedupbench -q
"""

from __future__ import annotations

import json
import os

from dedupbench import planted
from dedupbench.rss import descendants, tree_rss_mb
from dedupbench.sparkmetrics import UNGROUPED, event_log_rollup
from dedupbench.trace import Tracer


def _task(stage: int, run_ms: int, cpu_ns: int = 0, written: int = 0,
          local_read: int = 0, spilled: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "JVM GC Time": 5, "Disk Bytes Spilled": spilled,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": local_read},
        },
    }


def test_event_log_rollup_groups_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "features", "callSite.short": "count at x.py:1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "features"}},
        _task(0, 100, 50_000_000, written=2_000_000),
        _task(0, 300, 50_000_000),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        _task(1, 200, local_read=1_000_000, spilled=3_000_000),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(2, 40),
    ]
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))

    rollup, sites = event_log_rollup(str(path))

    feats = rollup["features"]
    assert feats["tasks"] == 3
    assert abs(feats["task_s"] - 0.6) < 1e-9
    assert abs(feats["cpu_s"] - 0.1) < 1e-9
    assert abs(feats["gc_s"] - 0.015) < 1e-9
    assert feats["shuffle_write_mb"] == 2.0
    assert feats["shuffle_read_mb"] == 1.0
    assert feats["spill_mb"] == 3.0
    assert feats["task_skew"] == 1.5  # max 300 over median 200
    assert rollup[UNGROUPED]["tasks"] == 1
    assert sites["features"] == ["count at x.py:1"]


def _image_labels(n: int) -> dict[str, str]:
    """The planted partition itself: label = planted group."""
    return {f"s{i:010d}": planted.image_truth(i) for i in range(n)}


def test_planted_check_passes_on_the_planted_partition():
    check = planted.check(_image_labels(300), planted.image_truth)
    assert check["ok"]
    # 3 exact pairs, 3 near pairs and the 3-member mega-cluster
    assert check["planted_groups"] == 7 and check["planted_pairs"] == 9


def test_planted_check_fails_a_split_pair_and_a_merge():
    split = _image_labels(300)
    split["s0000000001"] = "elsewhere"
    check = planted.check(split, planted.image_truth)
    # one of 7 groups loses its only pair
    assert not check["ok"] and check["recall"] == 6 / 7 and check["precision"] == 1.0

    merged = _image_labels(300)
    merged["s0000000010"] = merged["s0000000011"] = "together"
    check = planted.check(merged, planted.image_truth)
    assert not check["ok"] and check["recall"] == 1.0 and check["precision"] < 1.0


def test_planted_recall_weighs_each_group_once():
    # 40 planted pairs next to a 20-member mega-cluster (190 pairs): losing
    # one pair costs 1/41 of recall (one of 41 groups), not 1/230
    labels = {f"s{i:010d}": planted.image_truth(i) for i in range(2000)}
    labels["s0000000100"] = "elsewhere"
    check = planted.check(labels, planted.image_truth)
    assert abs(check["recall"] - (1 - 1 / 41)) < 1e-12


def test_planted_doc_truth_keeps_the_crowd_whole():
    labels = {f"d{i:010d}": planted.doc_truth(i) for i in range(500)}
    assert planted.check(labels, planted.doc_truth)["ok"]
    assert planted.doc_truth(2) == planted.doc_truth(302) == "crowd"


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_layer_times_split_self_from_forcing_and_nested_layers():
    spark = _FakeSpark()
    tracer = Tracer(spark, "run-1")
    with tracer.span("outer", group="outer"):
        with tracer.span("inner", group="inner"):
            with tracer.span("inner:force"):
                pass
    # fix the clock: outer 0..10, inner 2..6, inner's forcing 4..6
    for span, (start, end) in zip(tracer.spans, [(0, 10), (2, 6), (4, 6)]):
        span.start, span.end = start, end

    times = tracer.layer_times()

    assert times["inner"] == {"wall_s": 4, "self_s": 2}
    assert times["outer"] == {"wall_s": 6, "self_s": 6}
    # the job group is restored on the way out of each span
    assert spark.sparkContext.groups == ["outer", "inner", "outer", None]


def test_rss_tree_includes_this_process():
    assert os.getpid() in descendants(os.getppid())
    assert tree_rss_mb(os.getpid()) > 1.0

