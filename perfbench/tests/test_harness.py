"""Tests for the benchmark harness's own pure code.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import (  # noqa: E402
    bfs_waves, check_clusters, check_fresh, check_pinned, check_polite,
)
from measure import quartiles, tree_usage  # noqa: E402
from spans import Tracer, read_event_log, self_time, union_length, window_summary  # noqa: E402
from spread import spread  # noqa: E402


# ---------------------------------------------------------------- reductions

def test_quartiles_match_statistics_quantiles():
    v = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.0, 11.0]
    assert quartiles(v) == tuple(statistics.quantiles(v, n=4))
    assert quartiles(v)[1] == statistics.median(v)
    assert quartiles([7.5]) == (7.5, 7.5, 7.5)


def test_spread_is_quartile_range_over_median():
    v = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5, 11.5, 12.5, 10.0, 11.0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    assert spread(v) == (q2, (q3 - q1) / q2)
    assert spread([4.0, 4.0]) == (4.0, 0.0)


def test_tree_usage_counts_this_process():
    cpu, rss = tree_usage()
    assert cpu > 0 and rss > 1 << 20


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_subtracts_children_once():
    t = Tracer("r")
    root = t.add("wave", 0.0, 10.0)
    t.add("a", 1.0, 4.0, parent=root)
    t.add("b", 3.0, 5.0, parent=root)  # overlaps a: counted once
    t.add("c", 6.0, 7.0, parent=1)  # grandchild: not subtracted from root
    assert self_time(t.spans[root], t.spans) == pytest.approx(6.0)


# ---------------------------------------------------------------- BFS oracle

# ten pages: 0 -> 1,2 ; 1 -> 3 ; 2 -> 3,4 ; 3 -> 0 ; 4 -> 5 ; 5 -> 6,7 ;
# 6 -> 6 ; 7 -> 8 ; 8 -> (none) ; 9 -> 0 (unreachable from 0)
EDGES = [(0, 1), (0, 2), (1, 3), (2, 3), (2, 4), (3, 0), (4, 5), (5, 6),
         (5, 7), (6, 6), (7, 8), (9, 0)]


def test_bfs_waves_ten_page_graph():
    src, dst = zip(*EDGES)
    rounds = bfs_waves(10, src, dst, [0, 0], 6)
    assert [r.tolist() for r in rounds] == [[0], [1, 2], [3, 4], [5], [6, 7], [8]]


def test_bfs_waves_exhausts_and_keeps_wave_count():
    src, dst = zip(*EDGES)
    rounds = bfs_waves(10, src, dst, [7], 4)
    assert [r.tolist() for r in rounds] == [[7], [8], [], []]
    # page 9 is never reached from 0
    reached = np.concatenate(bfs_waves(10, src, dst, [0], 10))
    assert 9 not in reached and len(reached) == 9


# ---------------------------------------------------------------- event log

def _ev(**kw):
    return json.dumps(kw)


EVENT_LOG = [
    _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
        "Stage IDs": [0], "Properties": {},
        "Stage Infos": [{"Stage ID": 0, "Stage Name": "count at NativeMethodAccessorImpl.java:0"}]}),
    *[_ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + d},
        "Task Metrics": {"JVM GC Time": 10, "Memory Bytes Spilled": 0,
                         "Disk Bytes Spilled": 2**20,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}})
      for d in (100, 100, 100, 400)],
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1500}),
    _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 2000,
        "Stage IDs": [1], "Properties": {}}),
    _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1,
        "Task Info": {"Launch Time": 2000, "Finish Time": 2500}, "Task Metrics": {}}),
    _ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 2500}),
    _ev(Event="SparkListenerApplicationEnd", Timestamp=3000),
    "",
]


def test_event_log_reader_and_window_summary():
    log = read_event_log(EVENT_LOG)
    assert sorted(log["jobs"]) == [0, 1]
    assert log["jobs"][0]["callsite"].startswith("count at")
    w = window_summary(log, 1.0, 3.0, cores=4)
    assert w["jobs"] == [(0, 1.0, 1.5), (1, 2.0, 2.5)]
    # task time 0.7 + 0.5 = 1.2 s over 4 cores x 2 s
    assert w["task_busy_ratio"] == pytest.approx(1.2 / 8)
    assert w["gc_s"] == pytest.approx(0.04)
    assert w["shuffle_mb"] == pytest.approx(4.0)
    assert w["spill_mb"] == pytest.approx(4.0)
    # stage 0: max 0.4 s over median 0.1 s
    assert w["max_task_over_median"] == pytest.approx(4.0)
    # a window that starts after job 0 sees only job 1
    assert [j[0] for j in window_summary(log, 1.9, 3.0, cores=4)["jobs"]] == [1]


def test_driver_idle_is_step_self_time_under_job_spans():
    t = Tracer("r")
    unit = t.add("unit", 1.0, 3.2)
    step = t.add("wave.0", 1.0, 3.0, parent=unit)
    for jid, s, e in window_summary(read_event_log(EVENT_LOG), 1.0, 3.2, 4)["jobs"]:
        t.add(f"job.{jid}", s, e, parent=step)
    # 2.0 s wave minus 1.0 s of jobs, plus the 0.2 s after the last wave
    idle = self_time(t.spans[unit], t.spans) + self_time(t.spans[step], t.spans)
    assert idle == pytest.approx(1.2)


# ---------------------------------------------------------------- checks

ORACLE = {
    "seen": {"http://h1/p1.html", "http://h1/p2.html"},
    "fetches": [3],
    "harvest": {"http://h1/p2.html", "http://h2/p3.html"},
}


def test_check_fresh_accepts_exact_result():
    assert check_fresh(set(ORACLE["seen"]), [3], set(ORACLE["harvest"]), ORACLE) == []


@pytest.mark.parametrize("seen,fetches,harvest", [
    ({"http://h1/p1.html"}, [3], ORACLE["harvest"]),  # lost a URL
    (ORACLE["seen"] | {"http://h9/x.html"}, [3], ORACLE["harvest"]),  # extra URL
    (ORACLE["seen"], [2], ORACLE["harvest"]),  # wrong fetch count
    (ORACLE["seen"], [3], {"http://h1/p2.html"}),  # link not extracted
])
def test_check_fresh_rejects_corruption(seen, fetches, harvest):
    assert check_fresh(set(seen), fetches, set(harvest), ORACLE)


POLITE_OK = [("http://a/p1.html", 0), ("http://a/p2.html", 0), ("http://a/p3.html", 1),
             ("http://b/p4.html", 1)]
REACHABLE = {u for u, _ in POLITE_OK}


def test_check_polite_accepts_valid_log():
    assert check_polite(POLITE_OK, {"http://a/p9.html"}, 2, REACHABLE) == []


@pytest.mark.parametrize("log,disallowed,reachable", [
    (POLITE_OK, {"http://a/p3.html"}, REACHABLE),  # disallowed page fetched
    (POLITE_OK + [("http://a/p5.html", 0)], set(), REACHABLE | {"http://a/p5.html"}),  # cap
    (POLITE_OK + [("http://b/p4.html", 2)], set(), REACHABLE),  # fetched twice
    (POLITE_OK, set(), REACHABLE - {"http://b/p4.html"}),  # unreachable fetch
])
def test_check_polite_rejects_corruption(log, disallowed, reachable):
    assert check_polite(log, disallowed, 2, reachable)


def test_check_pinned():
    pinned = {"counters": {"fetch": 10}, "seen_digest": "ab"}
    assert check_pinned({"counters": {"fetch": 10}, "seen_digest": "ab"}, pinned) == []
    assert check_pinned({"counters": {"fetch": 11}, "seen_digest": "ab"}, pinned)
    assert check_pinned({"counters": {"fetch": 10}, "seen_digest": "ac"}, pinned)
    assert check_pinned({"anything": 1}, None) == []


PLANTED_EXACT = [[3, 7, 9], [1, 4, 8]]
PLANTED_NEAR = [[2, 5, 6]]


def test_check_clusters_exact_and_recall():
    errs, recall = check_clusters(
        [(3, 3), (1, 3)], PLANTED_EXACT, {(2, 5), (2, 6), (3, 7)}, PLANTED_NEAR)
    assert errs == [] and recall == pytest.approx(2 / 3)


@pytest.mark.parametrize("groups", [
    [(3, 3)],  # a planted cluster missed
    [(3, 3), (1, 2)],  # wrong size
    [(3, 3), (4, 3)],  # wrong representative
    [(3, 3), (1, 3), (0, 2)],  # a false cluster
])
def test_check_clusters_rejects_corruption(groups):
    errs, _ = check_clusters(groups, PLANTED_EXACT, set(), PLANTED_NEAR)
    assert errs
