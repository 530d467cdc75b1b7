"""P8 checkpoint/resume (SURVEY §2.1, §4.3; FIXTURES §4.4).

Contract: the checkpoint is the source of truth — resume reads the
exact stored state (bitwise, parquet round-trips doubles exactly) and
the resumed run's converged output matches straight-through allclose
1e-6 (PR) / exactly (CC)."""

import json
import math
import os

from tests.conftest import id_space

from mesos_pregel_spark.algos.cc import connected_components
from mesos_pregel_spark.algos.pagerank import pagerank
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids
from mesos_pregel_spark.plans.checkpoint import CheckpointManager


def _ranks(df):
    return {r["id"]: r["pagerank"] for r in df.collect()}


def test_pagerank_resume_equals_straight_through(spark, tmp_path):
    t = generate_transcripts(spark, n_conv=200, seed=42)
    edges = edges_with_ids(build_edges(t))

    straight, _ = pagerank(spark, edges, tol=0.0, max_supersteps=12)

    # Interrupted run: stops after 7 supersteps, checkpointing every 3.
    ck = str(tmp_path / "pr_ck")
    pagerank(spark, edges, tol=0.0, max_supersteps=7,
             checkpoint_dir=ck, checkpoint_every=3)
    # Resume and continue to 12 total supersteps.
    resumed, run = pagerank(spark, edges, tol=0.0, max_supersteps=12,
                            checkpoint_dir=ck, checkpoint_every=3)
    assert run.metrics[0]["superstep"] >= 7  # actually resumed, not re-run

    a, b = _ranks(straight), _ranks(resumed)
    assert set(a) == set(b)
    for v in a:
        assert math.isclose(a[v], b[v], abs_tol=1e-6)


def test_checkpoint_roundtrip_bitwise(spark, tmp_path):
    """State read back from a checkpoint is bit-identical to what was
    stored (the 'bit-identical resume' contract, SURVEY §4.3)."""
    ids_df, _, _ = id_space(spark, micro_graph_df(spark, "k4"))
    ck = str(tmp_path / "bw")
    ranks, _ = pagerank(spark, ids_df, tol=0.0, max_supersteps=4,
                        checkpoint_dir=ck, checkpoint_every=2)
    mgr = CheckpointManager(spark, ck)
    step, meta = mgr.latest()
    stored = mgr.read(step)
    again = mgr.read(step)
    a = sorted(map(tuple, stored.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b  # bitwise: same parquet bytes, exact doubles


def test_checkpoint_manifest_contents(spark, tmp_path):
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, "two_islands"))
    ck = str(tmp_path / "cc_ck")
    connected_components(spark, ids_df, checkpoint_dir=ck, checkpoint_every=1)
    mgr = CheckpointManager(spark, ck)
    step, meta = mgr.latest()
    assert meta["algorithm"] == "cc"
    assert "partition_lineage" in meta and len(meta["partition_lineage"]) > 0
    assert sum(int(v) for v in meta["partition_lineage"].values()) == 6
    # manifest is valid json on disk
    p = os.path.join(ck, f"superstep={step:06d}", "_meta.json")
    with open(p) as f:
        assert json.load(f)["superstep"] == step


def test_cc_resume_exact(spark, tmp_path):
    t = generate_transcripts(spark, n_conv=200, seed=42)
    edges = edges_with_ids(build_edges(t))
    straight, _ = connected_components(spark, edges)
    ck = str(tmp_path / "cc2")
    connected_components(spark, edges, max_supersteps=2,
                         checkpoint_dir=ck, checkpoint_every=1)
    resumed, _ = connected_components(spark, edges, checkpoint_dir=ck,
                                      checkpoint_every=1)
    a = {r["id"]: r["component"] for r in straight.collect()}
    b = {r["id"]: r["component"] for r in resumed.collect()}
    assert a == b


def test_crash_at_any_write_call_leaves_a_resumable_directory(
    spark, tmp_path, monkeypatch
):
    """Re-checkpoint the newest step of a run from its own files, making
    the k-th filesystem call of the write raise, for k = 1, 2, ... until
    the write goes through.  After every failure the newest complete
    manifest must name data that is there, and resuming from the
    directory must give the straight run's answer."""
    import builtins
    import shutil

    import pyarrow.parquet
    from pyspark.sql import DataFrameWriter

    import mesos_pregel_spark.plans.checkpoint as ckpt_mod

    ids_df, _, _ = id_space(spark, micro_graph_df(spark, "k4"))
    straight, _ = pagerank(spark, ids_df, tol=0.0, max_supersteps=6)
    expected = _ranks(straight)
    template = str(tmp_path / "template")
    pagerank(spark, ids_df, tol=0.0, max_supersteps=3,
             checkpoint_dir=template, checkpoint_every=1)

    for k in range(1, 50):
        ck = str(tmp_path / f"crash{k}")
        shutil.copytree(template, ck)
        mgr = CheckpointManager(spark, ck)
        step, meta = mgr.latest()
        calls = []

        def failing(fn, path_arg=0):
            def wrapped(*args, **kwargs):
                if str(args[path_arg]).startswith(ck):
                    calls.append(fn)
                    if len(calls) == k:
                        raise OSError(f"injected failure of call {k}")
                return fn(*args, **kwargs)
            return wrapped

        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet",
                      failing(DataFrameWriter.parquet, path_arg=1))
            m.setattr(os, "replace", failing(os.replace))
            m.setattr(os, "remove", failing(os.remove))
            m.setattr(shutil, "rmtree", failing(shutil.rmtree))
            m.setattr(pyarrow.parquet, "read_metadata",
                      failing(pyarrow.parquet.read_metadata))
            m.setattr(ckpt_mod, "open", failing(builtins.open), raising=False)
            try:
                mgr.write(mgr.read(step), step, meta)
                failed = False
            except OSError:
                failed = True

        latest_step, _ = mgr.latest()
        assert mgr.read(latest_step).count() == 4, (k, latest_step)
        resumed, run = pagerank(spark, ids_df, tol=0.0, max_supersteps=6,
                                checkpoint_dir=ck, checkpoint_every=1)
        assert run.metrics[0]["superstep"] == latest_step + 1
        got = _ranks(resumed)
        assert set(got) == set(expected)
        for v in expected:
            assert math.isclose(got[v], expected[v], abs_tol=1e-6)
        if not failed:
            break
    assert not failed and k > 3
