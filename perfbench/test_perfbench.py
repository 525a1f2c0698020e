"""Tests of the benchmark's own parts: oracle, generators, log parser.

Run with ``python3 -m pytest perfbench -q``; no Spark session is needed.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import eventlog  # noqa: E402
import graphgen  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402

# 1→2, 1→3, 2→3: vertex 3 is dangling.
SRC = np.array([1, 1, 2])
DST = np.array([2, 3, 3])


def test_oracle_first_iteration_by_hand():
    # r0 = 1/3 each; power step 0.05 + 0.85·Σ r/deg gives
    # [0.05, 0.05 + 0.85/6, 0.05 + 0.85/2], which sums to 43/60; the
    # missing 17/60 is spread evenly, adding 17/180 to every vertex.
    r = graphgen.pagerank_oracle(SRC, DST, max_iterations=1)
    assert r.iterations == 1
    assert r.nodes.tolist() == [1, 2, 3]
    np.testing.assert_allclose(r.ranks, [52 / 360, 103 / 360, 205 / 360],
                               rtol=0, atol=1e-15)


def test_oracle_fixed_point_by_hand():
    # With the dangling mass spread uniformly, r1 = c, r2 = 1.425c and
    # r3 = c + 0.425c + 0.85·r2 = 2.63625c; Σr = 1 gives c = 1/5.06125.
    want = np.array([1.0, 1.425, 2.63625]) / 5.06125
    r = graphgen.pagerank_oracle(SRC, DST, delta=1e-15)
    np.testing.assert_allclose(r.ranks, want, rtol=0, atol=1e-13)
    coarse = graphgen.pagerank_oracle(SRC, DST)
    assert np.abs(coarse.ranks - want).sum() < 1e-4
    assert coarse.iterations < r.iterations
    assert abs(coarse.ranks.sum() - 1.0) < 1e-12


def test_oracle_top_k_breaks_ties_by_page():
    r = graphgen.Ranks(np.array([5, 7, 9]), np.array([0.25, 0.5, 0.25]), 1)
    assert graphgen.top_k(r, 3) == [(7, 0.5), (5, 0.25), (9, 0.25)]


def test_power_law_graph_shape_and_determinism():
    g = graphgen.power_law_graph(3, 500, 4_000, 60)
    assert g.src.size == 4_000
    assert np.unique(g.src * 10**9 + g.dst).size == 4_000
    assert not np.any(g.src == g.dst)
    nodes = np.unique(np.concatenate([g.src, g.dst]))
    assert nodes.size == 500
    assert np.setdiff1d(nodes, g.src).size == 60
    again = graphgen.power_law_graph(3, 500, 4_000, 60)
    assert np.array_equal(g.src, again.src) and np.array_equal(g.dst, again.dst)
    other = graphgen.power_law_graph(4, 500, 4_000, 60)
    assert not np.array_equal(g.src, other.src)


def test_write_tsv_round_trips(tmp_path):
    g = graphgen.power_law_graph(1, 100, 500, 10)
    path = tmp_path / "edges.tsv"
    graphgen.write_tsv(g, str(path))
    back = np.loadtxt(path, dtype=np.int64, delimiter="\t")
    assert np.array_equal(back[:, 0], g.src) and np.array_equal(back[:, 1], g.dst)


def test_tables_are_seeded():
    a, b = tables.generate(5, 0.001), tables.generate(5, 0.001)
    assert set(a) == set(tables.TABLES)
    assert len(a["lineitem"]["l_orderkey"]) == 6_000
    assert np.array_equal(a["lineitem"]["l_partkey"], b["lineitem"]["l_partkey"])
    assert a["documents"]["text"] == b["documents"]["text"]
    c = tables.generate(6, 0.001)
    assert not np.array_equal(a["orders"]["o_custkey"], c["orders"]["o_custkey"])


def test_interval_algebra():
    assert eventlog.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert eventlog.length([(0, 1), (0.5, 2)]) == 2
    assert eventlog.intersect_length([(0, 2), (3, 5)], [(1, 4)]) == 2


def _event_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def _job(jid, t0, t1, stages, group=None, execution=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if execution:
        props["spark.sql.execution.id"] = execution
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid,
         "Submission Time": t0 * 1000, "Stage IDs": stages,
         "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid,
         "Completion Time": t1 * 1000},
    ]


def _task(stage, run_ms, ok=True):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20},
                             "Input Metrics": {"Bytes Read": 2 << 20},
                             "Output Metrics": {"Bytes Written": 0}}}


def test_span_profile_attributes_and_reconciles(tmp_path):
    path = str(tmp_path / "log")
    _event_log(path, [
        # before the first window (set-up or warm-up): left out
        *_job(9, 50.0, 51.0, [9], group="a"),
        _task(9, 100),
        *_job(0, 100.0, 101.0, [0], group="a", execution="7"),
        _task(0, 400), _task(0, 600, ok=False),
        # same SQL execution, another group (e.g. a broadcast): → "a"
        *_job(1, 101.5, 102.0, [1], group="other", execution="7"),
        _task(1, 100),
        # untagged, inside b's window: → "b"
        *_job(2, 105.0, 105.5, [2]),
        # outside every window: unattributed
        *_job(3, 200.0, 201.0, [3]),
    ])
    windows = [("a", 99.5, 102.5), ("b", 104.0, 106.0)]
    profile, check = eventlog.span_profile(path, windows, n_ops=1)
    a, b = profile["a"], profile["b"]
    assert a["wall_s"] == pytest.approx(3.0)
    assert a["driver_s"] == pytest.approx(1.5)
    assert a["jobs"] == 2 and a["tasks"] == 3 and a["failed_tasks"] == 1
    assert a["task_run_s"] == pytest.approx(1.1)
    assert a["shuffle_write_mb"] == pytest.approx(3.0)
    assert b["jobs"] == 1 and b["driver_s"] == pytest.approx(1.5)
    assert check["residual"] == {"a": 0.0, "b": 0.0}
    assert check["unattributed_jobs"] == 1


def test_span_profile_flags_job_time_outside_the_span(tmp_path):
    path = str(tmp_path / "log")
    _event_log(path, [*_job(0, 10.0, 14.0, [0], group="a")])
    _, check = eventlog.span_profile(path, [("a", 9.0, 12.0)], n_ops=1)
    assert check["residual"]["a"] == pytest.approx(2.0 / 3.0)


def test_tail_needs_ten_samples_beyond():
    assert run.tail([1.0] * 10)["value"] is None
    t = run.tail([float(i) for i in range(20)])
    assert t == {"value": 9.0, "percentile": 50.0, "samples": 20}


def test_compare_refuses_different_cpus(tmp_path, capsys):
    def rec(cpus):
        return json.dumps({"workload": "w", "trace": 0, "env": {"cpus": cpus},
                           "end_to_end": {"op_s.p50": 1.0}}) + "\n"

    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(rec(4) * 3)
    b.write_text(rec(32) * 3)
    assert compare.main([str(a), str(b)]) == 2
    b.write_text(rec(4) * 3)
    assert compare.main([str(a), str(b)]) == 0
    assert "op_s.p50" in capsys.readouterr().out
