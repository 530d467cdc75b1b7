"""The benchmark's own tests: oracle self-checks on micro-graphs with
closed-form answers, generator determinism, the output contract of a
small-size run of every workload, and the failure mode outside a
checkout.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import oracles  # noqa: E402

D = oracles.DAMPING
WORKLOADS = ["pagerank_zipf", "transcripts_ckpt"]


# ---- oracles -------------------------------------------------------------

def test_pagerank_two_cycle_is_uniform():
    ids, pr, iters = oracles.pagerank([7, 8], [8, 7])
    assert ids.tolist() == [7, 8]
    assert np.allclose(pr, [0.5, 0.5], rtol=0, atol=1e-15)
    assert iters == 1


def test_pagerank_collapses_parallel_edges():
    _, once, _ = oracles.pagerank([1, 2, 2], [2, 3, 1])
    _, twice, _ = oracles.pagerank([1, 1, 2, 2], [2, 2, 3, 1])
    assert np.array_equal(once, twice)


def test_pagerank_dangling_mass_leaks():
    # a -> b, b dangling: pr_a = (1-d)/2, pr_b = (1-d)/2 + d * pr_a
    ids, pr, iters = oracles.pagerank([0], [1])
    a = (1 - D) / 2
    assert np.allclose(pr, [a, a + D * a], rtol=1e-12, atol=0)
    assert iters == 3
    assert pr.sum() < 1.0


def test_pagerank_weighted_matches_linear_solve():
    src, dst, w = [0, 0, 1, 2, 2], [1, 2, 0, 0, 1], [3.0, 1.0, 1.0, 2.0, 2.0]
    n = 3
    m = np.zeros((n, n))
    out = np.bincount(src, weights=w, minlength=n)
    for s, t, x in zip(src, dst, w):
        m[t, s] += x / out[s]
    exact = np.linalg.solve(np.eye(n) - D * m, np.full(n, (1 - D) / n))
    _, pr, _ = oracles.pagerank(src, dst, weight=w, tol=1e-13)
    assert np.allclose(pr, exact, rtol=1e-10, atol=0)


def test_components_minimum_labels_and_self_loops():
    ids, labels = oracles.components([1, 3, 6, 9], [2, 2, 5, 9])
    assert ids.tolist() == [1, 2, 3, 5, 6]
    assert labels.tolist() == [1, 1, 1, 5, 5]


def test_edge_counts():
    src, dst = [1, 2, 2, 9, 1], [2, 1, 3, 9, 2]
    assert oracles.undirected_edge_count(src, dst) == 4
    assert oracles.distinct_edge_count(src, dst) == 4


def test_transcript_edges_duckdb(tmp_path):
    turns = pd.DataFrame({
        "conv_id": ["a"] * 5 + ["b"] * 3,
        "turn_idx": np.array([0, 1, 2, 3, 4, 2, 0, 1], dtype=np.int32),
        "role": ["user", "assistant", "tool", "assistant", "user",
                 "assistant", "user", "user"],
        "text": ["t"] * 8,
        "tool": [None, None, "bash", None, None, None, None, None],
        "ts": pd.to_datetime(["2026-01-01"] * 8),
    })
    turns.to_parquet(tmp_path / "part-0.parquet")
    rows, n = oracles.transcript_edges(str(tmp_path / "*.parquet"))
    assert n == 8
    assert rows == [
        ("role:assistant", "role:user", 1.0),
        ("role:assistant", "tool:bash", 1.0),
        ("role:user", "role:assistant", 2.0),
        ("tool:bash", "role:assistant", 1.0),
    ]


def test_match_helpers_reject_mismatches():
    ids, pr, _ = oracles.pagerank([0, 1, 2], [1, 2, 0])
    assert oracles.ranks_match(ids[::-1], pr[::-1], ids, pr)
    assert not oracles.ranks_match(ids, pr * (1 + 1e-5), ids, pr)
    assert not oracles.ranks_match(ids[:2], pr[:2], ids, pr)
    cids, labels = oracles.components([1, 3], [2, 4])
    assert oracles.labels_match(cids[::-1], labels[::-1], cids, labels)
    assert not oracles.labels_match(cids, labels + 1, cids, labels)


# ---- generators ----------------------------------------------------------

def test_generators_are_seeded():
    from workloads import zipf_hub_edges

    a = zipf_hub_edges(np.random.default_rng(5), 1000, 100)
    b = zipf_hub_edges(np.random.default_rng(5), 1000, 100)
    c = zipf_hub_edges(np.random.default_rng(6), 1000, 100)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    assert not np.array_equal(a[0], c[0])
    assert np.bincount(a[1]).argmax() == 0  # the hub


def test_relabelling_keeps_the_pagerank_answer():
    from workloads import relabel, zipf_hub_edges

    src, dst = zipf_hub_edges(np.random.default_rng(5), 2000, 200)
    rsrc, rdst = relabel(np.random.default_rng(9), src, dst, 200)
    assert not np.array_equal(src, rsrc)
    _, pr, iters = oracles.pagerank(src, dst)
    _, rpr, riters = oracles.pagerank(rsrc, rdst)
    assert iters == riters
    assert np.allclose(np.sort(pr), np.sort(rpr), rtol=1e-12, atol=0)


# ---- the benchmark command -----------------------------------------------

def run_bench(workload, trace, cwd=ROOT, script=BENCH / "run.py"):
    proc = subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    return proc


def spec():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_benchmark_json_matches_the_code():
    import run
    from workloads import WORKLOADS

    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in s["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_end_to_end(workload):
    proc = run_bench(workload, trace=0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    expected = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == expected
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not (ROOT / ".perfbench-work").exists()


# layer metric -> workloads on which the layer is used (non-zero);
# every other workload bypasses it and must report exactly zero
ALL = set(WORKLOADS)
USED_BY = {
    "checkpoint.writes": {"transcripts_ckpt"},
    "checkpoint.bytes": {"transcripts_ckpt"},
    "checkpoint.write_s": {"transcripts_ckpt"},
    "edges.rows_out": {"transcripts_ckpt"},
    "edges.build_s": {"transcripts_ckpt"},
    "edges.turns_per_s": {"transcripts_ckpt"},
    "spark.jobs.edges": {"transcripts_ckpt"},
    "spark.jobs.checkpoint": {"transcripts_ckpt"},
    "scatter.broadcast_calls": {"transcripts_ckpt"},
    "program.prepare_edges_s": {"pagerank_zipf"},
    "spark.jobs.program.prepare_edges": {"pagerank_zipf"},
    "pregel.barrier_s": ALL,
    "pregel.startup_s": ALL,
    "pregel.materialize_s": ALL,
    "scatter.plan_s": ALL,
    "combine.plan_s": ALL,
    "spark.jobs.pregel.barrier": ALL,
    "spark.shuffle_write_bytes": ALL,
    "spark.executor_run_s": ALL,
    "fixtures.generate_s": ALL,
    "session.get_spark_s": ALL,
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_traced(workload):
    proc = run_bench(workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.splitlines()[-1])
    assert out["correct"] is True
    metrics = out["metrics"]
    assert set(metrics) == {m["name"] for m in spec()["per_layer"]}
    for name, users in USED_BY.items():
        value = metrics[name]["value"]
        assert (value > 0) == (workload in users), (name, value)
    assert metrics["spark.failed_tasks"]["value"] == 0
    assert metrics["pregel.supersteps"]["value"] >= 1


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench("pagerank_zipf", trace=0, cwd=tmp_path,
                     script=tmp_path / "perfbench" / "run.py")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
