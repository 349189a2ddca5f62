"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The generator and smoke tests start Spark (local mode, a few minutes in
all); the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, report
from perfbench.spans import (
    Span,
    Tracer,
    check_name,
    percentile,
    tail_percentile,
    uncovered,
    union_length,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# statistics


@pytest.mark.parametrize("n, expected", [
    (0, None), (10, None), (39, None), (40, 75), (99, 75), (100, 90),
    (199, 90), (200, 95), (999, 95), (1000, 99),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile(values, 99) == 99
    assert percentile([3.0], 90) == 3.0


def test_union_merges_overlaps_and_clips():
    assert union_length([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert union_length([(1, 2), (1, 2)], 0, 10) == pytest.approx(1)
    assert union_length([(-5, -1), (11, 20)], 0, 10) == 0
    assert union_length([], 0, 10) == 0


def _tracer_with(spans: list[Span]) -> Tracer:
    tr = Tracer("t", traced=True)
    tr.spans.extend(spans)
    return tr


def test_driver_time_is_wall_minus_union_of_job_intervals():
    tr = _tracer_with([
        Span("hnsw.build_index", "call", 0.0, 10.0),
        Span("job.1", "job", 1.0, 3.0, parent=0),
        Span("job.2", "job", 2.0, 5.0, parent=0),
        Span("job.3", "job", 8.0, 12.0, parent=0),  # ends after the call
        Span("stage.1", "stage", 1.0, 3.0, parent=1, attrs={
            "tasks": 4, "executor_run_s": 2.5, "jvm_gc_s": 0.1,
            "shuffle_write_mb": 1.5, "spill_mb": 0.0}),
    ])
    prof = tr.call_profile(0)
    assert prof["wall_s"] == 10.0
    assert prof["driver_s"] == pytest.approx(10.0 - 6.0)
    assert prof["jobs"] == 3
    assert prof["tasks"] == 4
    assert prof["executor_run_s"] == 2.5
    assert prof["shuffle_write_mb"] == 1.5


def test_self_time_subtracts_only_the_covered_part():
    tr = _tracer_with([
        Span("serve.large", "op", 0.0, 10.0),
        Span("hnsw.ann_search.large", "call", 1.0, 4.0, parent=0),
        Span("hnsw.search_serving.large", "call", 3.0, 6.0, parent=0),
        Span("job.1", "job", 1.5, 2.0, parent=1),  # a grandchild: ignored
    ])
    assert tr.self_time(0) == pytest.approx(10.0 - 5.0)
    assert uncovered(0.0, 10.0, []) == 10.0


def test_span_nesting_records_parents():
    tr = Tracer("t", traced=False)
    with tr.span("churn.insert"):
        out, wall = tr.call("hnsw.insert_batch", lambda: 7)
    assert out == 7 and wall >= 0
    assert [s.parent for s in tr.spans] == [None, 0]
    assert tr.spans[1].kind == "call"


# ---------------------------------------------------------------------------
# metric names and BENCHMARK.json


@pytest.mark.parametrize("bad", ["", "_x", ".x", "a b", "a/b", "é", "x" * 65])
def test_check_name_rejects(bad):
    with pytest.raises(ValueError):
        check_name(bad)


def test_benchmark_json_lists_what_the_run_prints():
    bench = load_benchmark()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == report.E2E
    assert layer == report.layer_metrics()
    names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
    for name in names:
        check_name(name)
    assert len(set(list(e2e) + list(layer))) == len(e2e) + len(layer)
    assert "setup_s" in e2e and 1 <= len(layer) <= 128
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup_bound = next(m["bound"] for m in bench["end_to_end"]
                       if m["name"] == "setup_s")
    assert setup_bound == max(m["bound"] for m in bench["end_to_end"])
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]


# ---------------------------------------------------------------------------
# output checks


def test_unreachable_follows_layer_zero_edges_from_the_entry():
    from perfbench.workloads import unreachable

    rows = [
        # shard 0: 1 -> 2 -> 3 on layer 0; 4 points at 1 but nothing at 4;
        # 5 is reached from 1 only through a layer-1 edge
        (0, 1, [0, 1], [2, 5]), (0, 2, [0], [3]), (0, 3, [0], [2]),
        (0, 4, [0], [1]), (0, 5, [0], [1]),
        # shard 1: a cycle through the entry
        (1, 10, [0], [11]), (1, 11, [0], [10]),
    ]
    assert unreachable(rows, {0: 1, 1: 10}) == {4, 5}
    assert unreachable(rows, {0: 4, 1: 11}) == {5}


# ---------------------------------------------------------------------------
# generators


def test_mixture_is_a_function_of_seed_and_id():
    ids = np.arange(3000)
    full = gen.mixture(5, gen.CORPUS, ids)
    rng = np.random.default_rng(0)
    sub = rng.permutation(ids)[:700]
    assert np.array_equal(gen.mixture(5, gen.CORPUS, sub), full[sub])
    assert not np.array_equal(gen.mixture(6, gen.CORPUS, ids), full)
    assert not np.array_equal(gen.mixture(5, gen.QUERIES, ids), full)


def test_churn_round_plants_duplicates_of_live_ids():
    live = np.arange(0, 5000, 3)
    cen = gen.centers(9)
    # six cells, each the mean of a run of components
    anchors = np.array([cen[i::6].mean(axis=0) for i in range(6)])
    a = gen.churn_round(9, 2, live, anchors, n_insert=100, n_dups=10,
                        n_delete=100, topics=2)
    b = gen.churn_round(9, 2, live[::-1], anchors, n_insert=100, n_dups=10,
                        n_delete=100, topics=2)
    for x, y in zip(a, b):
        assert np.array_equal(x, y)
    fresh, fresh_vecs, dup_ids, dup_src, dels = a
    assert len(fresh) == 90 and fresh_vecs.shape == (90, gen.DIM)
    assert len(dup_ids) == 10 and np.isin(dup_src, live).all()
    assert len(np.unique(dels)) == 100
    assert np.isin(dels, np.union1d(live, fresh)).all()
    assert not np.isin(np.concatenate([fresh, dup_ids]), live).any()
    # fresh vectors come from the components of exactly `topics` cells
    comp = ((fresh_vecs[:, None, :] - cen[None]) ** 2).sum(-1).argmin(1)
    cell_of = ((cen[:, None, :] - anchors[None]) ** 2).sum(-1).argmin(1)
    assert len(np.unique(cell_of[comp])) == 2


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession

    session = (SparkSession.builder.master("local[2]")
               .config("spark.ui.enabled", "false")
               .config("spark.ui.showConsoleProgress", "false")
               .getOrCreate())
    yield session
    session.stop()


def test_vector_frame_is_the_same_under_any_partitioning(spark):
    n = 2500
    expected = gen.mixture(3, gen.CORPUS, np.arange(n))
    for parts in (1, 3, 7):
        rows = gen.vector_frame(spark, 3, gen.CORPUS, n, parts).collect()
        rows.sort(key=lambda r: r["vec_id"])
        assert [r["vec_id"] for r in rows] == list(range(n))
        assert np.array_equal(np.array([r["embedding"] for r in rows]), expected)


# ---------------------------------------------------------------------------
# end to end, at tiny sizes


def _run(args, cwd):
    # the engine must come from cwd alone, as when the benchmark runs
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload, trace", [("serve", 0), ("churn", 1)])
def test_tiny_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
              "--trace", str(trace), "--tiny"], ROOT)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    bench = load_benchmark()
    listed = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "serve", "--seed", "1", "--seconds", "1",
              "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
