"""The benchmark's arithmetic on synthetic spans; no Spark needed.

    python3 -m pytest perfbench/tests/test_spans.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def test_union_merges_overlaps_and_drops_empty():
    assert spans.union([(5, 7), (0, 2), (1, 3), (4, 4), (6, 9)]) == [(0, 3), (5, 9)]


def test_covered_clips_to_window():
    iv = [(0, 2), (1, 3), (5, 9)]
    assert spans.covered(iv, 2, 6) == pytest.approx(2.0)
    assert spans.covered(iv, 10, 12) == 0.0


def test_self_time_subtracts_union_of_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1, "end": 4}, {"start": 3, "end": 5}, {"start": 9, "end": 12}]
    # children cover [1,5] and [9,10] inside the parent: 5 s
    assert spans.self_time(parent, kids) == pytest.approx(5.0)


def test_tail_reports_sample_count_and_highest_supported_percentile():
    assert spans.tail([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0, "p": None, "value": None}
    xs = [float(i) for i in range(1, 101)]
    t = spans.tail(xs)
    # 100 samples: p90 has 10 beyond it, p95 only 5
    assert (t["n"], t["median"], t["p"], t["value"]) == (100, 50.5, 90, 90.0)
    assert spans.tail([float(i) for i in range(20)])["p"] == 50


def _query(start, build_end, end, jobs, stages):
    return {
        "start": start, "end": end,
        "build": {"start": start, "end": build_end},
        "jobs": [{"start": s, "end": e} for s, e in jobs],
        "stages": [{"start": s, "end": e, "run_s": r} for s, e, r in stages],
    }


def test_query_split_driver_share_and_utilization():
    # 10 s query; build [0,4] starts one eager job [1,3]; stages cover
    # [1,3] and [5,8] (5 s) with 8 task-seconds on 4 cores
    q = _query(0, 4, 10, [(1, 3), (5, 8)], [(1, 3, 2.0), (5, 8, 6.0)])
    s = spans.query_split(q, cores=4)
    assert s["build_s"] == pytest.approx(4.0)
    assert s["build_self_s"] == pytest.approx(2.0)
    assert s["eager_jobs"] == 1
    assert s["driver_s"] == pytest.approx(5.0)
    assert s["driver_share"] == pytest.approx(0.5)
    assert s["utilization"] == pytest.approx(8.0 / (5.0 * 4))


def test_pass_split_recomputes_ratios_from_sums():
    a = spans.query_split(_query(0, 1, 2, [], []), cores=2)  # all driver
    b = spans.query_split(_query(2, 2, 10, [(2, 10)], [(2, 10, 16.0)]), cores=2)
    p = spans.pass_split([a, b], cores=2)
    assert p["wall_s"] == pytest.approx(10.0)
    assert p["driver_share"] == pytest.approx(2.0 / 10.0)
    assert p["utilization"] == pytest.approx(1.0)


def test_metric_value_parses_spark_formats():
    assert spans.metric_value(None) == 0.0
    assert spans.metric_value("26,136") == 26136.0
    assert spans.metric_value("399 ms") == pytest.approx(0.399)
    assert spans.metric_value("1.2 s") == pytest.approx(1.2)
    assert spans.metric_value("63.5 KiB") == pytest.approx(63.5 * 1024)
    multi = "total (min, med, max (stageId: taskId))\n66.4 KiB (6.4 KiB, 9.2 KiB, 10.8 KiB (stage 72.0: task 54))"
    assert spans.metric_value(multi) == pytest.approx(66.4 * 1024)


def test_iso_epoch():
    assert spans.iso_epoch("1970-01-01T00:00:01.500Z") == pytest.approx(1.5)
