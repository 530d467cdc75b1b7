#!/usr/bin/env python
"""Bench harness (SURVEY §2.4 S5, §3.4, §7.5).

Default mode: runs the headline pipeline at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``
(default 32) and prints ONE compact JSON line LAST (the driver
json-parses the final line of the last 2000 stdout chars — r4's full
payload overflowed that window)::

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "cpus": ...,
     "value_normalized": ..., "host_speed_factor": ...,
     "full_payload": "bench_full.json"}

The full payload (throughput, detail, calibration, normalized
per-query times) is written to ``bench_full.json``.

Workloads (all seed-deterministic, no external data):
  edge_build  — X1–X6 over synthetic transcripts (~12M turns/sf-unit,
                i.e. 1.2M at sf0.1 per FIXTURES.md §1 'bench')
  pagerank    — A1 on a zipf-skewed synthetic graph (~1M edges at
                sf0.1, 100k vertices) — hub skew exercises the
                combiner's map-side partial aggregate
  cc          — A2 to fixpoint on the same graph
  lpa         — A3, 5 bounded supersteps
  hits        — A6 hubs/authorities, 5 bounded supersteps (the
                generic-API dual-direction scatter: each superstep
                joins the 2|E| dir-tagged edge union)
  triangles   — A4 exact count on the same graph
  events_e2e  — events.parquet → edges → PageRank convergence (the
                driver-testdata path; small graph, loop-overhead bound)
  dedup       — documents.parquet → fingerprint/exact dedup + MinHash
                LSH candidates + Jaccard verify (the training-data
                dedup stack at sf-scale, reporting docs/sec and
                candidate-pair counts)
  ktruss      — 5-truss peel on the zipf graph (degree-ordered round
                kernel; VERDICT r2 done-bar: <= ~2x triangles time)
  scc         — strongly connected components (coloring) on the
                directed zipf graph
  msbfs       — 16-source bit-packed BFS, one run
  landmarks   — 8-lane weighted landmark distances, one run
  dedup_scale — synthetic corpora (planted near-dup families) at n/2
                and n docs (n = 50k at sf0.1): docs/sec + candidate
                growth factor (sub-quadratic evidence: ~2x for 2x
                docs; all-pairs would be 4x)
  core_number — full k-core decomposition (H-index fixpoint)
  mis         — maximal independent set (pipelined Luby)
  walks       — 8-step deterministic walks from every vertex
  walks_weighted — same walk length with weight-proportional next hop
                (inverse-CDF over summed parallel-edge weights;
                measures the per-step window-sort overhead)
  warm_cc     — warm-start CC: 1k-edge delta on the cc-labeled graph;
                supersteps/wall vs the cold cc row (incremental
                maintenance economics, connected_components'
                prev_labels/delta_edges)
  coloring    — speculative coloring (parallel tentative bids,
                per-(dst,tent) min + bit_or combiner shuffle; the
                scale path — JP is priority-DAG-depth bound)
  structure   — one-shot structural diagnostics: clustering
                coefficients (degree-ordered kernel), hub-capped
                link prediction, densest-subgraph peel
  betweenness — 8-pivot sampled Brandes (lane-packed forward sigma
                count + depth-gated backward dependency sweep),
                radius-6
  packing     — concat-and-chunk packing on an 80%-one-stratum corpus
                (two-phase distributed prefix sum; records how many
                tasks processed the dominant stratum)
  matching    — local-max maximal matching (propose/accept-mutual
                rounds, one struct-min combiner, shrinking frontier)
  semicluster — semi-clustering [P §5.3] (top-C_max exploded cluster
                rows per vertex, hub bookkeeping capped at 64)
  boruvka     — Borůvka minimum spanning forest (per-component
                struct-min selection, mutual-pair break, pointer
                jumping; the working edge set shrinks geometrically)
  winnow      — MOSS winnowing fingerprints + stop-gram-capped
                overlap candidate pairs on the dedup corpus

Scaling mode (``--scaling``): re-runs the same workloads at
``local[8]`` and ``local[32]`` (the sandbox stand-in for N vs 4N
executors — no real cluster here; BASELINE.md documents this) in
fresh subprocesses, reports throughput at both and the efficiency
``(T_8/T_32)/(32/8)``, and appends a row to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PR_SUPERSTEPS = int(os.environ.get("SPARK_GRAFT_PR_STEPS", "25"))
# Comma-separated workloads to run (default: all).  The scaling mode
# uses ONLY=pagerank on a larger graph so compute dominates fixed
# per-superstep overhead — that's the regime a real cluster is in.
ONLY = set(filter(None, os.environ.get("SPARK_GRAFT_ONLY", "").split(",")))
EDGE_SCALE = float(os.environ.get("SPARK_GRAFT_EDGE_SCALE", "1.0"))
# Fixed partition count for scaling runs: both parallelism levels get
# the IDENTICAL plan (same task count, same shuffle layout); only the
# number of cores executing it differs — the honest analogue of N vs
# 4N executors over the same partitioned table.
SHUFFLE = os.environ.get("SPARK_GRAFT_SHUFFLE")
# Edge:vertex ratio of the synthetic graph.  Default 10 (sparse-ish);
# the scaling mode uses 50 (see run_scaling).
VERT_RATIO = float(os.environ.get("SPARK_GRAFT_VERT_RATIO", "10"))
# dst skew of the synthetic graph: 'zipf' (a=1.8 inverse-CDF — one
# extreme hub, the correctness/salting stressor) or 'mild' (the same
# power law offset by 50 ranks, capping the top vertex at ~1.6% of
# edges — a web-graph-shaped head).  The scaling mode uses 'mild':
# with semantic prep (parallel-edge collapse) an extreme hub saturates
# its |V|-bounded distinct in-edges and shrinks the prepared graph by
# >20x, leaving a latency-bound job that cannot evidence scaling.
DST_SKEW = os.environ.get("SPARK_GRAFT_DST_SKEW", "zipf")


# ---------------------------------------------------------------------------
# Drift calibration (VERDICT r3 #1): every bench run measures the HOST
# before and after the workloads — a fixed-work single-thread CPU probe
# and a fixed tiny Spark job — records both in the JSON, and reports
# each workload raw AND normalized to the pinned reference regime, so
# cross-round comparisons no longer need a forensic host-drift
# narrative.  Reference constants were measured on the round-4 host
# (2026-08-17, idle); a future round on a slower host sees
# host_speed_factor < 1 and its normalized times credit the drift.
# ---------------------------------------------------------------------------

REF_CPU_MOPS = 11.0        # r4 pin: single-thread probe, Mops/s
REF_SPARK_PROBE_SEC = 2.0  # r4 pin: 64M-row xxhash64 sum on local[n]

_CPU_PROBE_OPS = 8_000_000


def cpu_probe() -> float:
    """Fixed-work single-thread probe (pure-python integer LCG):
    Mops/s.  Fixed WORK, not fixed duration — the measured quantity is
    time, deterministic up to host speed."""
    t = time.monotonic()
    x = 0
    for i in range(_CPU_PROBE_OPS):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFFFFFF
    dt = time.monotonic() - t
    assert x >= 0
    return round(_CPU_PROBE_OPS / dt / 1e6, 3)


def cpu_probe_parallel(workers: int = 8) -> float:
    """Fixed-work MULTI-PROCESS probe: aggregate Mops/s across
    ``workers`` simultaneous copies of the single-thread probe.
    Captures the host's effective PARALLEL capacity, which the
    single-thread probe cannot: the r4 scaling runs measured local[8]
    at ~5.0M edges/s in two sessions whose single-thread factors
    disagreed by 1.5x, while local[2] reproduced r3 exactly — i.e.
    the sandbox's parallel capacity (not its per-core speed) is the
    fluctuating quantity, and only a concurrent probe sees it."""
    import concurrent.futures

    t = time.monotonic()
    with concurrent.futures.ProcessPoolExecutor(max_workers=workers) as ex:
        list(ex.map(_probe_work, range(workers)))
    dt = time.monotonic() - t
    return round(workers * _CPU_PROBE_OPS / dt / 1e6, 3)


def _probe_work(_i: int) -> int:
    x = 0
    for i in range(_CPU_PROBE_OPS):
        x = (x * 1103515245 + 12345 + i) & 0xFFFFFFFFFFFF
    return x


def io_probe(size_mb: int = 256) -> dict:
    """Fixed-work disk probe: fsync'd sequential write + cold-ish read
    of ``size_mb`` MiB in /tmp (where Spark shuffle/spill lands),
    MB/s each way.  Completes the calibration triad — run #3 of the
    r4 scaling measured local[4] ABSOLUTELY SLOWER than local[1] while
    both CPU probes read healthy, and this probe found why: the
    sandbox disk was writing at ~10 MB/s (read ~170), so any job whose
    shuffle exceeds page cache serializes on the write path and extra
    cores only add seek contention."""
    import tempfile

    chunk = b"\xa5" * (8 * 1024 * 1024)
    path = None
    try:
        with tempfile.NamedTemporaryFile(
            dir="/tmp", suffix=".ioprobe", delete=False
        ) as f:
            path = f.name
            t = time.monotonic()
            for _ in range(size_mb // 8):
                f.write(chunk)
            f.flush()
            os.fsync(f.fileno())
            w = time.monotonic() - t
        t = time.monotonic()
        with open(path, "rb") as f:
            while f.read(8 * 1024 * 1024):
                pass
        r = time.monotonic() - t
        return {
            "write_mb_s": round(size_mb / w, 1),
            "read_mb_s": round(size_mb / r, 1),
        }
    finally:
        if path and os.path.exists(path):
            os.remove(path)


def spark_probe(spark) -> float:
    """Fixed tiny Spark job (64M-row xxhash64 sum, 32 fixed
    partitions): wall seconds.  Captures JVM/parallel throughput drift
    that the single-thread probe cannot."""
    from pyspark.sql import functions as F

    t = time.monotonic()
    # bit_xor, not sum: xxhash64 yields full-range signed longs, and a
    # 64M-row sum overflows under ANSI mode; xor is overflow-free with
    # identical per-row work.
    spark.range(0, 64_000_000, 1, 32).agg(F.bit_xor(F.xxhash64("id"))).collect()
    return round(time.monotonic() - t, 3)


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def synth_graph(spark, n_edges: int, n_vertices: int, seed: int = 43,
                partitions: int = 64):
    """Zipf-skewed deterministic edge list: uniform sources, heavy-hub
    destinations (worst case for combine fan-in).  Generated
    DISTRIBUTED — pure column functions of ``spark.range`` ids with a
    fixed partition count, so the data is byte-identical at every
    parallelism level and no driver-side materialization caps the
    size."""
    from pyspark.sql import functions as F

    ids = spark.range(0, n_edges, 1, partitions)
    u = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000)) + 1
    ) / 1_000_001.0
    # Inverse-CDF power-law: dst ~ u^(-1/(a-1)) - 1 (a = 1.8), i.e. a
    # heavy head at small ids, folded into [0, n_vertices).  'mild'
    # applies the same law offset by 50 ranks (top vertex ~1.6% of
    # edges instead of ~43%) — see DST_SKEW.
    if DST_SKEW == "mild":
        dst = F.pmod(
            (F.floor(F.lit(50.0) * F.pow(u, -1.25)) - 50).cast("long"),
            F.lit(n_vertices),
        )
    else:
        dst = F.pmod(
            (F.floor(F.pow(u, -1.25)) - 1).cast("long"), F.lit(n_vertices)
        )
    src = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_vertices))
    return ids.select(
        src.alias("src"), dst.alias("dst"), F.lit(1.0).alias("weight")
    )


def run_bench(sf_dir: str, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from mesos_pregel_spark.algos.cc import connected_components
    from mesos_pregel_spark.algos.lpa import label_propagation
    from mesos_pregel_spark.algos.pagerank import pagerank
    from mesos_pregel_spark.algos.triangles import triangle_count
    from mesos_pregel_spark.fixtures import generate_transcripts_dist
    from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids
    from mesos_pregel_spark.queries import _graph_edges
    from mesos_pregel_spark.session import get_spark

    sf = _sf_from_dir(sf_dir)
    scale = sf / 0.1
    n_conv = max(2000, int(200_000 * scale))
    n_edges = max(20_000, int(1_000_000 * scale * EDGE_SCALE))
    n_vertices = max(2_000, int(n_edges // VERT_RATIO))

    def on(name: str) -> bool:
        return not ONLY or name in ONLY

    cpu_mops_start = cpu_probe()
    cpu_par_start = cpu_probe_parallel()
    io_start = io_probe()
    spark = get_spark(
        app_name=f"bench-{cpus}", cores=cpus,
        # Iterative-loop A/B at 1M edges / 18 supersteps: partitions =
        # cores (32/32) ran 16.4s vs 26.4s at 2x cores (64/64) — fewer,
        # matched partitions cut fixed per-superstep latency; AQE
        # coalesces the non-iterative operators either way.
        shuffle_partitions=int(SHUFFLE) if SHUFFLE else cpus,
    )
    spark_probe_start = spark_probe(spark)
    nparts = int(SHUFFLE) if SHUFFLE else cpus
    queries: dict[str, float] = {}
    throughput: dict[str, float] = {}
    detail: dict = {}

    if on("edge_build"):
        t = time.monotonic()
        # Distributed generation (spark.range + column exprs): no
        # driver-side rows, no outsized task binaries, scales to 10^8
        # turns (round-1 shipped 4975 KiB tasks from the pandas path).
        transcripts = generate_transcripts_dist(
            spark, n_conv=n_conv, partitions=cpus * 2)
        transcripts = transcripts.persist()
        n_turns = transcripts.count()
        detail["transcript_gen_sec"] = round(time.monotonic() - t, 3)
        detail["n_turns"] = n_turns

        t = time.monotonic()
        tedges = edges_with_ids(build_edges(transcripts))
        detail["transcript_edge_rows"] = tedges.count()
        queries["edge_build"] = round(time.monotonic() - t, 3)
        throughput["edge_build_turns_per_sec"] = round(n_turns / queries["edge_build"])
        transcripts.unpersist()

    # One-time graph load: partition by src and cache BEFORE timing —
    # at cluster scale the graph is loaded once and amortized over all
    # supersteps/algorithms, so throughput measures supersteps, not
    # ingest (Pregel-paper convention).  When ONLY pagerank runs (the
    # scaling mode), the raw multigraph is never re-read after prep —
    # skip its persist so a 512M-row table isn't cached twice.
    from pyspark.storagelevel import StorageLevel
    g = synth_graph(spark, n_edges, n_vertices, partitions=nparts)
    if ONLY != {"pagerank"}:
        # shared across many workloads: co-partition and cache once
        g = g.repartition(nparts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    # else (scaling mode): prepare_edges makes its own partitioned,
    # persisted table from the raw generator — pre-shuffling the raw
    # multigraph here would just add a third 512M-row shuffle.
    g_edges = g.count()
    detail["synthetic_edges"] = g_edges
    detail["synthetic_vertices"] = n_vertices

    if on("pagerank"):
        # The engine's pinned PageRank semantics collapse parallel
        # (src,dst) rows (outdeg = distinct out-neighbors).  Hand the
        # runner a table prepared through the program's OWN prep path
        # (prepare_edges) — benching on the raw multigraph with
        # edge_partitions=0 silently skipped that collapse (and the
        # runner now rejects semantically unprepared handovers).  Prep
        # runs untimed like the graph load: at cluster scale it is a
        # one-time cost amortized over all supersteps/algorithms.
        from mesos_pregel_spark.algos.pagerank import pagerank_program
        from mesos_pregel_spark.plans.program import prepare_edges

        gp = prepare_edges(spark, g, pagerank_program(), edge_partitions=nparts)
        pr_edges = gp.count()
        detail["pagerank_distinct_edges"] = pr_edges
        t = time.monotonic()
        _ranks, run = pagerank(
            spark, gp, tol=1e-6, max_supersteps=PR_SUPERSTEPS,
            edge_partitions=0,
        )
        pr_sec = time.monotonic() - t
        pr_steps = len(run.metrics)
        queries["pagerank"] = round(pr_sec, 3)
        throughput["pagerank_supersteps_per_hour"] = round(pr_steps / pr_sec * 3600)
        throughput["pagerank_edges_per_sec"] = round(pr_edges * pr_steps / pr_sec)
        detail["pagerank_supersteps"] = pr_steps
        detail["pagerank_final_max_delta"] = run.metrics[-1]["max_delta"]
        gp.unpersist()

    if on("eigenvector"):
        # Bare power iteration: same scatter/combine plan as PageRank
        # minus the damping arithmetic — its per-superstep time is the
        # floor the ranking family pays for one message shuffle.
        from mesos_pregel_spark.algos.eigenvector import eigenvector

        t = time.monotonic()
        escores, erun = eigenvector(
            spark, g, max_supersteps=4, edge_partitions=nparts)
        n_ev = escores.count()
        ev_sec = time.monotonic() - t
        e_edges = detail.get("pagerank_distinct_edges", g_edges)
        queries["eigenvector"] = round(ev_sec, 3)
        throughput["eigenvector_edges_per_sec"] = round(
            e_edges * len(erun.metrics) / ev_sec)
        detail["eigenvector_vertices"] = n_ev

    comps_cc = None
    if on("cc"):
        t = time.monotonic()
        comps_cc, run_cc = connected_components(spark, g, edge_partitions=nparts)
        cc_sec = time.monotonic() - t
        queries["cc"] = round(cc_sec, 3)
        throughput["cc_supersteps_per_hour"] = round(
            len(run_cc.metrics) / cc_sec * 3600)
        detail["cc_supersteps"] = len(run_cc.metrics)

    if on("warm_cc"):
        # Incremental-maintenance economics (warm-started CC): a
        # tiny deterministic delta lands on the already-labeled graph;
        # warm CC re-propagates only through the delta frontier and the
        # quotient of old components, so its supersteps/wall should be
        # a fraction of cold's on the SAME full graph.  Previous labels
        # come from the cc row (or an untimed cold run when cc is
        # filtered out); both label-materialize and delta-build are
        # untimed, like graph load.
        from pyspark.sql import functions as F

        if comps_cc is None:
            comps_cc, _ = connected_components(spark, g, edge_partitions=nparts)
        prev = comps_cc.localCheckpoint(eager=True)
        dids = spark.range(0, 1000, 1, 4)
        delta = dids.select(
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_vertices)).alias("src"),
            F.pmod(F.xxhash64("id", F.lit(8)), F.lit(n_vertices)).alias("dst"),
            F.lit(1.0).alias("weight"),
        ).where(F.col("src") != F.col("dst")).localCheckpoint(eager=True)
        full = g.select("src", "dst", "weight").unionByName(delta)
        t = time.monotonic()
        wcomps, run_warm = connected_components(
            spark, full, prev_labels=prev, delta_edges=delta,
            edge_partitions=nparts,
        )
        wcomps.count()
        wc_sec = time.monotonic() - t
        queries["warm_cc"] = round(wc_sec, 3)
        detail["warm_cc_supersteps"] = len(run_warm.metrics)
        if "cc_supersteps" in detail:
            detail["warm_cc_superstep_ratio"] = round(
                len(run_warm.metrics) / detail["cc_supersteps"], 3)

    if on("lpa"):
        t = time.monotonic()
        _labels, _run_lpa = label_propagation(
            spark, g, max_supersteps=5, edge_partitions=nparts
        )
        queries["lpa"] = round(time.monotonic() - t, 3)

    if on("communities"):
        from mesos_pregel_spark.algos.communities import (
            community_stats,
            modularity as newman_modularity,
        )

        # labels are an input, not the measured work: time the two
        # labelled-edge aggregation passes (stats + global Q), which is
        # what a snapshot-quality job re-runs per refresh
        labels_c, _run_lc = label_propagation(
            spark, g, max_supersteps=5, edge_partitions=nparts
        )
        labels_c = labels_c.persist(StorageLevel.MEMORY_AND_DISK)
        labels_c.count()
        t = time.monotonic()
        cs = community_stats(spark, g, labels_c)
        n_comm = cs.count()
        mod_row = newman_modularity(spark, g, labels_c).collect()[0]
        c_sec = time.monotonic() - t
        queries["communities"] = round(c_sec, 3)
        # each pass joins labels onto both endpoints of |und| edges
        throughput["communities_edge_label_joins_per_sec"] = round(
            4 * g_edges / c_sec)
        detail["communities_count"] = n_comm
        detail["communities_modularity"] = mod_row["modularity"]
        labels_c.unpersist()

    if on("harmonic"):
        from mesos_pregel_spark.algos.harmonic import harmonic_sampled

        t = time.monotonic()
        hc, run_hc = harmonic_sampled(
            spark, g, n_pivots=16, max_depth=10, edge_partitions=nparts
        )
        hc.count()
        hc_sec = time.monotonic() - t
        queries["harmonic"] = round(hc_sec, 3)
        hc_steps = len(run_hc.metrics)
        # one symmetric edge pass per BFS level
        throughput["harmonic_edge_scans_per_sec"] = round(
            2 * g_edges * hc_steps / hc_sec)
        detail["harmonic_supersteps"] = hc_steps

    if on("greedy_mod"):
        from mesos_pregel_spark.algos.communities import greedy_modularity

        t = time.monotonic()
        gm_labels = greedy_modularity(spark, g, steps=3)
        gm_n = gm_labels.select("label").distinct().count()
        gm_sec = time.monotonic() - t
        queries["greedy_mod"] = round(gm_sec, 3)
        # each round scatters labels over the 2|E| symmetric adjacency
        throughput["greedy_mod_edge_label_joins_per_sec"] = round(
            2 * g_edges * 3 / gm_sec)
        detail["greedy_mod_communities"] = gm_n

    if on("hits"):
        from mesos_pregel_spark.algos.hits import hits as run_hits_algo

        t = time.monotonic()
        _scores, run_h = run_hits_algo(
            spark, g, max_supersteps=5, edge_partitions=nparts
        )
        h_sec = time.monotonic() - t
        queries["hits"] = round(h_sec, 3)
        # every superstep scatters the full 2|E| dir-tagged union
        throughput["hits_edges_per_sec"] = round(
            2 * g_edges * len(run_h.metrics) / h_sec)
        detail["hits_supersteps"] = len(run_h.metrics)

    if on("triangles"):
        t = time.monotonic()
        # Round 2: the vectorized CSR kernel and the wedge join are now
        # comparable at toy scale (5.1 vs 4.5 s warm, 1M edges) and the
        # join is the plan that survives 100x, so it is the default;
        # kernel='csr' stays available as an explicit opt-in.
        tri_kernel = "join"
        _pv, total_tri = triangle_count(spark, g, kernel=tri_kernel)
        queries["triangles"] = round(time.monotonic() - t, 3)
        detail["triangles_total"] = total_tri
        detail["triangles_kernel"] = tri_kernel

    if on("cliques"):
        from mesos_pregel_spark.algos.cliques import four_clique_count

        t = time.monotonic()
        _pv4, total_k4 = four_clique_count(spark, g)
        k4_sec = time.monotonic() - t
        queries["cliques"] = round(k4_sec, 3)
        detail["k4_total"] = total_k4
        # dominated by the triangle-extension joins over the oriented
        # table; report per-triangle extension throughput
        if detail.get("triangles_total"):
            throughput["cliques_tri_extensions_per_sec"] = round(
                detail["triangles_total"] / k4_sec)

    if on("ktruss"):
        from mesos_pregel_spark.algos.ktruss import k_truss

        # Degree-ordered peel on the SAME zipf hub graph as triangles —
        # the kernel whose round-2 id-canonical shape was the one
        # remaining O(deg^2) scale risk; VERDICT's done-bar is ktruss
        # time <= ~2x triangles time here.
        t = time.monotonic()
        truss_edges, run_kt = k_truss(
            spark, g, k=5, max_rounds=10, edge_partitions=nparts
        )
        n_truss = truss_edges.count()
        kt_sec = time.monotonic() - t
        queries["ktruss"] = round(kt_sec, 3)
        kt_rounds = len(run_kt.metrics)
        throughput["ktruss_rounds_per_hour"] = round(kt_rounds / kt_sec * 3600)
        throughput["ktruss_edges_per_sec"] = round(
            sum(m["edges"] for m in run_kt.metrics) / kt_sec)
        detail["ktruss_rounds"] = kt_rounds
        detail["ktruss_surviving_edges"] = n_truss

    if on("scc"):
        from mesos_pregel_spark.algos.scc import strongly_connected_components

        t = time.monotonic()
        labels, run_scc = strongly_connected_components(
            spark, g, edge_partitions=nparts
        )
        n_sccs = labels.select("scc").distinct().count()
        scc_sec = time.monotonic() - t
        queries["scc"] = round(scc_sec, 3)
        throughput["scc_phases_per_hour"] = round(
            len(run_scc.metrics) / scc_sec * 3600)
        detail["scc_count"] = n_sccs
        detail["scc_phases"] = len(run_scc.metrics)

    if on("condense"):
        # Capped longest-path levels on the low→high orientation of
        # the zipf graph (acyclic by construction, so the SCC pass —
        # timed by its own row — is skipped): times the NEW level
        # kernel alone, one max-combine scatter per superstep over the
        # full edge set.
        from mesos_pregel_spark.algos.condense import dag_levels as run_dag

        gd = g.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).where(F.col("src") < F.col("dst"))
        t = time.monotonic()
        lv, run_cl = run_dag(
            spark, gd, max_supersteps=8, edge_partitions=nparts
        )
        prof = lv.groupBy("level").count().collect()
        cl_sec = time.monotonic() - t
        n_csteps = len(run_cl.metrics) if run_cl is not None else 0
        queries["condense"] = round(cl_sec, 3)
        throughput["condense_edges_per_sec"] = round(
            g_edges * max(n_csteps, 1) / cl_sec)
        detail["condense_levels"] = len(prof)
        detail["condense_supersteps"] = n_csteps

    if on("msbfs"):
        from mesos_pregel_spark.algos.msbfs import multi_source_bfs

        sources = [r["src"] for r in
                   g.select("src").distinct().orderBy("src").limit(16).collect()]
        t = time.monotonic()
        reach, run_mb = multi_source_bfs(
            spark, g, sources, edge_partitions=nparts
        )
        reach.count()
        mb_sec = time.monotonic() - t
        queries["msbfs"] = round(mb_sec, 3)
        # 16 BFS lanes ride ONE edge scan per superstep (bit_or masks)
        throughput["msbfs_source_edge_scans_per_sec"] = round(
            len(sources) * g_edges * len(run_mb.metrics) / mb_sec)
        detail["msbfs_supersteps"] = len(run_mb.metrics)
        detail["msbfs_sources"] = len(sources)

    if on("core_number"):
        from mesos_pregel_spark.algos.kcore import core_number

        t = time.monotonic()
        _cores, run_cn = core_number(spark, g, edge_partitions=nparts)
        cn_sec = time.monotonic() - t
        queries["core_number"] = round(cn_sec, 3)
        cn_steps = len(run_cn.metrics)
        throughput["core_number_edges_per_sec"] = round(
            2 * g_edges * cn_steps / cn_sec)  # symmetrized scan/superstep
        detail["core_number_supersteps"] = cn_steps
        detail["core_number_max_core"] = run_cn.metrics[-1]["max_core"]

    if on("mis"):
        from mesos_pregel_spark.algos.mis import maximal_independent_set

        t = time.monotonic()
        _mem, run_mis = maximal_independent_set(spark, g, edge_partitions=nparts)
        mis_sec = time.monotonic() - t
        queries["mis"] = round(mis_sec, 3)
        throughput["mis_edges_per_sec"] = round(
            2 * g_edges * len(run_mis.metrics) / mis_sec)
        detail["mis_supersteps"] = len(run_mis.metrics)
        detail["mis_size"] = run_mis.metrics[-1]["mis_size"]

    if on("walks"):
        from mesos_pregel_spark.algos.walks import deterministic_walks

        t = time.monotonic()
        w = deterministic_walks(spark, g, length=8, edge_partitions=nparts)
        n_walk_rows = w.count()
        wk_sec = time.monotonic() - t
        queries["walks"] = round(wk_sec, 3)
        throughput["walks_rows_per_sec"] = round(n_walk_rows / wk_sec)
        detail["walk_rows"] = n_walk_rows

    if on("walks_weighted"):
        # Weight-proportional next hop (derandomized inverse-CDF): the
        # multigraph's parallel edges collapse by summing weight, so
        # the walk actually follows interaction counts.  Same join
        # economics as unweighted plus one hub-bounded window sort per
        # step — this row measures that overhead at scale.
        from mesos_pregel_spark.algos.walks import deterministic_walks

        t = time.monotonic()
        w = deterministic_walks(
            spark, g, length=8, weighted=True, edge_partitions=nparts)
        n_wrows = w.count()
        ww_sec = time.monotonic() - t
        queries["walks_weighted"] = round(ww_sec, 3)
        throughput["walks_weighted_rows_per_sec"] = round(n_wrows / ww_sec)
        detail["walks_weighted_rows"] = n_wrows

    if on("anf"):
        # A14 neighborhood-function sketches: h linear bit_or passes
        # (k longs of state per vertex) — the cheapest whole-graph
        # analytic; this row pins that it STAYS cheap relative to
        # pagerank on the same graph.
        from mesos_pregel_spark.algos.anf import anf as run_anf

        t = time.monotonic()
        nf, run_a = run_anf(spark, g, h=4, k=4, edge_partitions=nparts)
        nf.count()
        anf_sec = time.monotonic() - t
        queries["anf"] = round(anf_sec, 3)
        throughput["anf_edge_scans_per_sec"] = round(
            g_edges * len(run_a.metrics) / anf_sec)
        detail["anf_supersteps"] = len(run_a.metrics)

    if on("coloring"):
        # Speculative coloring — the scale path (parallel tentative
        # bids, per-color conflict resolution).  Jones-Plassmann on
        # this graph is priority-DAG-depth bound (hit the 50-superstep
        # cap); speculative's round count grows far slower with n
        # (python replay: 47 vs 21 at 10k vertices).  Combiner shuffle
        # is LPA-shaped: per-(dst,tent) min + bit_or, one scatter per
        # superstep.
        from pyspark.sql import functions as F

        from mesos_pregel_spark.algos.coloring import speculative_coloring

        t = time.monotonic()
        colors, run_col = speculative_coloring(
            spark, g, max_supersteps=60, edge_partitions=nparts)
        n_colors = colors.agg(F.max("color")).collect()[0][0] + 1
        col_sec = time.monotonic() - t
        queries["coloring"] = round(col_sec, 3)
        throughput["coloring_edges_per_sec"] = round(
            2 * g_edges * len(run_col.metrics) / col_sec)
        detail["coloring_supersteps"] = len(run_col.metrics)
        detail["coloring_colors"] = n_colors

    if on("structure"):
        # One-shot structural diagnostics on the zipf graph: LCC rides
        # the degree-ordered triangle kernel; link prediction runs
        # HUB-CAPPED (max_degree=64) — uncapped wedge enumeration on a
        # zipf hub is the documented quadratic trap the cap exists for;
        # densest-subgraph peels O(log n) integer-cut rounds.
        from mesos_pregel_spark.algos.structure import (
            clustering_coefficients,
            densest_subgraph,
            link_prediction,
        )

        t = time.monotonic()
        lcc = clustering_coefficients(spark, g)
        n_lcc = lcc.count()
        lcc_sec = time.monotonic() - t

        t = time.monotonic()
        lp = link_prediction(spark, g, min_common=2, top_k=100,
                             max_degree=64)
        lp.count()
        lp_sec = time.monotonic() - t

        t = time.monotonic()
        ds, run_ds = densest_subgraph(spark, g, edge_partitions=nparts)
        ds_members = ds.count()
        ds_sec = time.monotonic() - t

        queries["structure"] = round(lcc_sec + lp_sec + ds_sec, 3)
        throughput["structure_lcc_vertices_per_sec"] = round(n_lcc / lcc_sec)
        detail["structure_lcc_sec"] = round(lcc_sec, 3)
        detail["structure_linkpred_sec"] = round(lp_sec, 3)
        detail["structure_densest_sec"] = round(ds_sec, 3)
        detail["structure_densest_rounds"] = len(
            [m for m in run_ds.metrics if "round" in m])
        detail["structure_densest_members"] = ds_members

    if on("localstruct"):
        # The round's late structural trio on the shared zipf graph:
        # ACL sweep cut (4-superstep PPR + one edge scan against a
        # broadcast <=64-row rank map), 3-round Weisfeiler-Lehman
        # refinement (one shuffle per round, hub lists collapse to a
        # 32-byte digest), and the Molloy-Reed closed form (one
        # aggregate).
        from mesos_pregel_spark.algos.sweep import sweep_cut
        from mesos_pregel_spark.algos.wl import wl_colors

        und_g = (
            g.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .where(F.col("src") < F.col("dst"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_und = und_g.count()
        t = time.monotonic()
        sc_rows = sweep_cut(spark, und_g).count()
        sc_sec = time.monotonic() - t
        t = time.monotonic()
        wl = wl_colors(spark, und_g, rounds=3)
        n_classes = wl.select("wl_color").distinct().count()
        wl_sec = time.monotonic() - t
        t = time.monotonic()
        deg_g = (
            und_g.select(F.explode(F.array("src", "dst")).alias("id"))
            .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        )
        mr = deg_g.agg(
            (F.sum(F.col("deg") * F.col("deg")).cast("double")
             / F.sum("deg").cast("double")).alias("kappa")
        ).collect()[0]
        mr_sec = time.monotonic() - t
        queries["localstruct"] = round(sc_sec + wl_sec + mr_sec, 3)
        throughput["localstruct_wl_edges_per_sec"] = round(
            n_und * 3 / wl_sec)
        detail["localstruct_und_edges"] = n_und
        detail["localstruct_sweep_rows"] = sc_rows
        detail["localstruct_sweep_sec"] = round(sc_sec, 3)
        detail["localstruct_wl_classes"] = n_classes
        detail["localstruct_wl_sec"] = round(wl_sec, 3)
        detail["localstruct_kappa"] = round(mr["kappa"], 3)
        und_g.unpersist()

    if on("landmarks"):
        from mesos_pregel_spark.algos.landmarks import landmark_distances

        lms = [r["src"] for r in
               g.select("src").distinct().orderBy("src").limit(8).collect()]
        t = time.monotonic()
        dists, run_lm = landmark_distances(spark, g, lms, edge_partitions=nparts)
        dists.count()
        lm_sec = time.monotonic() - t
        queries["landmarks"] = round(lm_sec, 3)
        throughput["landmarks_lane_edge_scans_per_sec"] = round(
            len(lms) * g_edges * len(run_lm.metrics) / lm_sec)
        detail["landmarks_supersteps"] = len(run_lm.metrics)
        detail["landmarks_lanes"] = len(lms)

    if on("events_e2e"):
        t = time.monotonic()
        ev_edges = _graph_edges(spark, sf_dir)
        _ranks2, run_ev = pagerank(
            spark, ev_edges, tol=1e-6, max_supersteps=100, edge_partitions=8
        )
        ev_sec = time.monotonic() - t
        queries["events_e2e"] = round(ev_sec, 3)
        throughput["events_supersteps_per_hour"] = round(
            len(run_ev.metrics) / ev_sec * 3600
        )

    if on("dedup"):
        from mesos_pregel_spark.functions.dedup import (
            exact_duplicates,
            lsh_candidates,
            near_duplicates,
        )
        # The sandbox parquet is a single row-group => one input split;
        # spread the shingle/minhash work across cores (a real lake
        # splits at maxPartitionBytes and never hits this).
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .repartition(nparts, "doc_id").persist()
        n_docs = docs.count()
        t = time.monotonic()
        n_dup_rows = exact_duplicates(docs).where("is_duplicate").count()
        # Scale-true banding: r = k/bands = 8 rows/band makes the
        # candidate probability s^8 per band — measured on this corpus,
        # the toy correctness defaults (r=2) admit 1.1M of the 12.5M
        # possible pairs (42 docs/s); r=8 keeps candidates ~ true dups.
        # hash_fn='xxhash64': native 64-bit minhash (the scale variant;
        # md5 hex strings stay the oracle-parity path).
        n_cand = lsh_candidates(docs, k=32, bands=4, hash_fn="xxhash64").count()
        n_near = near_duplicates(docs, k=32, bands=4, hash_fn="xxhash64") \
            .where("jaccard >= 0.8").count()
        dd_sec = time.monotonic() - t
        queries["dedup"] = round(dd_sec, 3)
        throughput["dedup_docs_per_sec"] = round(n_docs / dd_sec)
        detail["dedup_docs"] = n_docs
        detail["dedup_exact_dups"] = n_dup_rows
        detail["dedup_lsh_candidates"] = n_cand
        detail["dedup_near_dups_j08"] = n_near
        docs.unpersist()
        from mesos_pregel_spark.functions.dedup import release_dedup_caches
        release_dedup_caches()

    if on("dedup_scale"):
        # Sub-quadratic evidence at 10x the driver corpus: the SAME
        # LSH stack over synthetic corpora with planted near-dup
        # families at n/2 and n docs — candidate pairs should grow
        # ~linearly (~2x for 2x docs; all-pairs would grow 4x).
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.dedup import (
            lsh_candidates,
            release_dedup_caches,
        )

        n_big = max(5_000, int(50_000 * scale))
        counts = {}
        for n in (n_big // 2, n_big):
            sdocs = generate_documents_dist(
                spark, n, dup_frac=0.2, partitions=nparts
            ).select("doc_id", "text").persist()
            sdocs.count()
            t = time.monotonic()
            counts[n] = lsh_candidates(
                sdocs, k=32, bands=4, hash_fn="xxhash64").count()
            dt = time.monotonic() - t
            queries[f"dedup_scale_{n}"] = round(dt, 3)
            throughput[f"dedup_scale_{n}_docs_per_sec"] = round(n / dt)
            detail[f"dedup_scale_{n}_candidates"] = counts[n]
            sdocs.unpersist()
            release_dedup_caches()
        lo, hi = sorted(counts)
        detail["dedup_scale_candidate_growth_2x_docs"] = round(
            counts[hi] / max(counts[lo], 1), 3)

    if on("decontam"):
        # Eval-set decontamination at 10x the driver corpus: distinct
        # word-8-gram hashes per doc joined against a ~1%-of-corpus
        # eval blocklist — linear scans + one hash-partitioned
        # equi-join, the shape that survives 100 TB.
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.decontam import decontaminate

        n_docs_dc = max(5_000, int(50_000 * scale))
        sdocs = generate_documents_dist(
            spark, n_docs_dc, dup_frac=0.2, partitions=nparts
        ).select("doc_id", "text").persist()
        sdocs.count()
        t = time.monotonic()
        train = sdocs.where(F.col("doc_id") % 100 != 0)
        ev = sdocs.where(F.col("doc_id") % 100 == 0)
        rep = decontaminate(train, ev, n=8).persist()
        n_train = rep.count()
        n_contam = rep.where("contaminated").count()
        dc_sec = time.monotonic() - t
        queries["decontam"] = round(dc_sec, 3)
        throughput["decontam_docs_per_sec"] = round(n_train / dc_sec)
        detail["decontam_train_docs"] = n_train
        detail["decontam_contaminated"] = n_contam
        rep.unpersist()
        sdocs.unpersist()

    if on("fuzzydecon"):
        # Fuzzy (MinHash-LSH) decontamination on the decontam corpus
        # shape: both sides signatured, banded cross-corpus equi-join,
        # exact Jaccard verify, best-match per flagged train doc.
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.dedup import (
            fuzzy_decontaminate,
            release_dedup_caches,
        )

        n_docs_fz = max(5_000, int(50_000 * scale))
        fdocs = generate_documents_dist(
            spark, n_docs_fz, dup_frac=0.2, partitions=nparts
        ).select("doc_id", "text").persist()
        fdocs.count()
        t = time.monotonic()
        ftrain = fdocs.where(F.col("doc_id") % 100 != 0)
        fev = fdocs.where(F.col("doc_id") % 100 == 0)
        n_flagged = fuzzy_decontaminate(ftrain, fev, threshold=0.5).count()
        fz_sec = time.monotonic() - t
        queries["fuzzydecon"] = round(fz_sec, 3)
        throughput["fuzzydecon_docs_per_sec"] = round(n_docs_fz / fz_sec)
        detail["fuzzydecon_docs"] = n_docs_fz
        detail["fuzzydecon_flagged"] = n_flagged
        release_dedup_caches()
        fdocs.unpersist()

    if on("bowtie"):
        # Bow-tie structure of the shared zipf DIGRAPH (raw directed
        # rows, no symmetrize): one SCC run + two monotone BFS flag
        # propagations + the class aggregate.
        from mesos_pregel_spark.algos.bowtie import bowtie as bowtie_profile

        t = time.monotonic()
        prof = {
            r["cls"]: r["n_vertices"]
            for r in bowtie_profile(
                spark, g, edge_partitions=nparts
            ).collect()
        }
        bt_sec = time.monotonic() - t
        queries["bowtie"] = round(bt_sec, 3)
        throughput["bowtie_edges_per_sec"] = round(g_edges / bt_sec)
        detail["bowtie_profile"] = prof

    if on("betweenness"):
        # Pivot-sampled Brandes on the shared zipf graph: 8 lanes ride
        # one scatter per round (forward sigma counting + backward
        # dependency sweep), radius-6 truncation.
        from mesos_pregel_spark.algos.betweenness import betweenness_sampled

        t = time.monotonic()
        bc, run_bw = betweenness_sampled(
            spark, g, n_pivots=8, max_depth=6, edge_partitions=nparts,
        )
        n_bc = bc.count()
        bw_sec = time.monotonic() - t
        bw_rounds = len(run_bw.metrics)
        queries["betweenness"] = round(bw_sec, 3)
        throughput["betweenness_lane_edge_scans_per_sec"] = round(
            g_edges * 8 * bw_rounds / bw_sec)
        detail["betweenness_rounds"] = bw_rounds
        detail["betweenness_vertices"] = n_bc

    if on("cpm"):
        # Clique-percolation communities on the shared zipf graph:
        # triangle enumeration (A4 kernel) + 2-links-per-triangle star
        # build + pointer-jumping CC over the link graph — the whole
        # pipeline is triangle-count-bound, never triangle-PAIR-bound.
        from mesos_pregel_spark.algos.cpm import clique_communities

        t = time.monotonic()
        memb, run_cpm = clique_communities(
            spark, g, edge_partitions=nparts,
        )
        n_memb = memb.count()
        cpm_sec = time.monotonic() - t
        queries["cpm"] = round(cpm_sec, 3)
        throughput["cpm_memberships_per_sec"] = round(n_memb / cpm_sec)
        detail["cpm_membership_rows"] = n_memb
        detail["cpm_cc_rounds"] = len(run_cpm.metrics)

    if on("hitting"):
        # Integer Bellman hitting time: 8 supersteps, one scatter+sum
        # combine each over the sym edge set — the markov/pagerank
        # shuffle shape with zero-FP integer state.
        from mesos_pregel_spark.algos.hitting import hitting_time

        t = time.monotonic()
        ht, _run_ht = hitting_time(
            spark, g, max_supersteps=8, edge_partitions=nparts,
        )
        n_ht = ht.count()
        ht_sec = time.monotonic() - t
        queries["hitting"] = round(ht_sec, 3)
        throughput["hitting_edge_scans_per_sec"] = round(
            2 * g_edges * 8 / ht_sec)
        detail["hitting_vertices"] = n_ht

    if on("matching"):
        # Local-max maximal matching on the shared zipf graph: two
        # supersteps per round, one struct-min combiner; the active
        # subgraph shrinks every round (matched vertices leave the
        # sending side).
        from mesos_pregel_spark.algos.matching import maximal_matching

        t = time.monotonic()
        mm, run_mm = maximal_matching(
            spark, g, max_rounds=8, edge_partitions=nparts,
        )
        n_matched = mm.where("matched").count()
        mm_sec = time.monotonic() - t
        mm_steps = len(run_mm.metrics)
        queries["matching"] = round(mm_sec, 3)
        throughput["matching_edge_scans_per_sec"] = round(
            2 * g_edges * mm_steps / mm_sec)
        detail["matching_supersteps"] = mm_steps
        detail["matching_matched_vertices"] = n_matched

    if on("semicluster"):
        # Semi-clustering on the shared zipf graph: message volume is
        # O(E * C_max) exploded cluster rows per superstep; hub
        # extension bookkeeping capped at 64 neighbors (cap_degree) so
        # the per-vertex weight map stays bounded under zipf skew.
        from mesos_pregel_spark.algos.semicluster import semi_clusters

        t = time.monotonic()
        sc_out = semi_clusters(
            spark, g, supersteps=2, c_max=3, m_max=4, cap_degree=64,
            edge_partitions=nparts,
        )
        n_sc_rows = sc_out.count()
        sc_sec = time.monotonic() - t
        queries["semicluster"] = round(sc_sec, 3)
        throughput["semicluster_cluster_rows_per_sec"] = round(
            2 * g_edges * 3 * 2 / sc_sec)  # sym edges x C_max x steps
        detail["semicluster_kept_rows"] = n_sc_rows

    if on("winnow"):
        # Winnowing fingerprints + capped overlap candidates on the
        # same planted-near-dup corpus the dedup row uses: one
        # per-doc sliding frame + one bounded bucket join.
        from mesos_pregel_spark.functions.dedup import (
            overlap_candidates,
            winnow_fingerprints,
        )

        wdocs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .repartition(nparts, "doc_id").persist()
        n_wdocs = wdocs.count()
        t = time.monotonic()
        n_fps = winnow_fingerprints(wdocs).count()
        n_ovl = overlap_candidates(wdocs, min_shared=4).count()
        wn_sec = time.monotonic() - t
        queries["winnow"] = round(wn_sec, 3)
        throughput["winnow_docs_per_sec"] = round(n_wdocs / wn_sec)
        detail["winnow_fingerprints"] = n_fps
        detail["winnow_overlap_pairs"] = n_ovl
        wdocs.unpersist()

    if on("boruvka"):
        # Borůvka MSF on the shared zipf graph: the round-1 struct-min
        # dominates (full edge set); later rounds see the geometrically
        # collapsed component-pair working set, so total work is a
        # small multiple of one edge scan.
        from mesos_pregel_spark.algos.boruvka import boruvka_msf

        t = time.monotonic()
        msf, run_msf = boruvka_msf(
            spark, g, max_rounds=12, jump_depth=5, edge_partitions=nparts,
        )
        n_msf = msf.count()
        msf_sec = time.monotonic() - t
        msf_rounds = len(run_msf.metrics)
        queries["boruvka"] = round(msf_sec, 3)
        # work per round shrinks geometrically; charge the measured
        # per-round working-set sizes, not rounds x full edge set
        msf_scans = sum(m.get("n_work", 0) for m in run_msf.metrics)
        throughput["boruvka_work_edges_per_sec"] = round(msf_scans / msf_sec)
        detail["boruvka_rounds"] = msf_rounds
        detail["boruvka_forest_edges"] = n_msf

    if on("packing"):
        # Concat-and-chunk packing on a SKEWED-stratum corpus: 80% of
        # docs in one source — the shape the r4 serial per-stratum
        # window died on.  packing_big_stratum_tasks > 1 is the
        # recorded evidence that the dominant stratum's prefix sum ran
        # distributed.
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.packing import pack_concat

        n_docs_pk = max(20_000, int(200_000 * scale))
        pdocs = (
            generate_documents_dist(
                spark, n_docs_pk, dup_frac=0.0, partitions=nparts)
            .select(
                "doc_id", "text",
                F.when(F.col("doc_id") % 5 != 0, F.lit("big"))
                .otherwise((F.col("doc_id") % 3).cast("string"))
                .alias("source"),
            )
            .persist()
        )
        n_pdocs = pdocs.count()
        # warm the Arrow python workers untimed (first mapInPandas of a
        # session pays worker spawn + pandas/pyarrow imports — measured
        # 20-70s cold vs ~3s warm; a long-lived cluster amortizes it
        # like the graph load)
        spark.range(cpus).mapInPandas(lambda it: it, "id long").count()
        t = time.monotonic()
        packed = pack_concat(
            pdocs, chunk_tokens=512, partitions=nparts, _keep_pid=True,
        ).persist()
        n_pk = packed.count()
        big_tasks = (
            packed.where("stratum = 'big'").select("pid").distinct().count()
        )
        pk_sec = time.monotonic() - t
        queries["packing"] = round(pk_sec, 3)
        throughput["packing_docs_per_sec"] = round(n_pk / pk_sec)
        detail["packing_docs"] = n_pdocs
        detail["packing_big_stratum_tasks"] = big_tasks
        packed.unpersist()
        pdocs.unpersist()

    if on("textprep"):
        # The round-5 text-prep additions end to end on a planted-dup
        # corpus: C4-style span dedup, sliding-window chunking, corpus
        # n-gram hotspots, and per-source unigram KL — one persisted
        # documents scan feeds all four (the real pipeline shape: prep
        # operators share the corpus cache, not re-reads).
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.composition import (
            ngram_hotspots,
            source_kl,
        )
        from mesos_pregel_spark.functions.dedup import span_dedup_stats
        from mesos_pregel_spark.functions.packing import chunk_windows

        n_docs_tp = max(20_000, int(200_000 * scale))
        tdocs = (
            generate_documents_dist(
                spark, n_docs_tp, dup_frac=0.3, partitions=nparts)
            .select(
                "doc_id", "text",
                (F.col("doc_id") % 8).cast("string").alias("source"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_tdocs = tdocs.count()
        t = time.monotonic()
        sd = span_dedup_stats(tdocs, span_tokens=8)
        dup_spans = sd.agg(F.sum("dup_spans")).collect()[0][0]
        n_chunks = chunk_windows(tdocs, window_tokens=16, stride=8).count()
        hot = ngram_hotspots(tdocs, n=3, top_k=100).count()
        n_kl = source_kl(tdocs).count()
        tp2_sec = time.monotonic() - t
        queries["textprep"] = round(tp2_sec, 3)
        throughput["textprep_docs_per_sec"] = round(
            n_tdocs * 4 / tp2_sec)   # 4 full-corpus passes
        detail["textprep_docs"] = n_tdocs
        detail["textprep_dup_spans"] = dup_spans
        detail["textprep_chunks"] = n_chunks
        detail["textprep_hotspots"] = hot
        detail["textprep_sources"] = n_kl
        tdocs.unpersist()

    if on("corpusfit"):
        # The round-5 corpus-statistics additions: bigram PMI
        # collocations (one scan into the materialized bigram
        # aggregate) and the Heaps'-law vocabulary-growth fit (two-
        # phase distributed prefix sum + exact-integer regression) on
        # one persisted corpus; Hill power-law alpha on its doc-length
        # proxy degrees rides the same cache.
        from mesos_pregel_spark.algos.structure import hill_alpha
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.composition import (
            heaps_law,
            pmi_topk,
        )
        from mesos_pregel_spark.functions.text import tokens_col

        n_docs_cf = max(20_000, int(200_000 * scale))
        cdocs = (
            generate_documents_dist(
                spark, n_docs_cf, dup_frac=0.2, partitions=nparts)
            .select("doc_id", "text")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_cdocs = cdocs.count()
        t = time.monotonic()
        n_pmi = pmi_topk(cdocs, min_count=5, top_k=100).count()
        hrow = heaps_law(cdocs).collect()[0]
        deg = cdocs.select(
            F.size(tokens_col(F.col("text"))).cast("long").alias("degree")
        )
        arow = hill_alpha(deg, dmin=2).collect()[0]
        cf_sec = time.monotonic() - t
        queries["corpusfit"] = round(cf_sec, 3)
        throughput["corpusfit_docs_per_sec"] = round(
            n_cdocs * 3 / cf_sec)   # 3 full-corpus passes
        detail["corpusfit_docs"] = n_cdocs
        detail["corpusfit_pmi_rows"] = n_pmi
        detail["corpusfit_heaps_beta"] = hrow["beta"]
        detail["corpusfit_hill_alpha"] = arow["alpha"]
        cdocs.unpersist()

    if on("textrank"):
        # Text-to-graph synthesis: one corpus scan builds the word
        # co-occurrence graph, then the engine's weighted-PageRank
        # kernel ranks the vocabulary — the bench row times BOTH the
        # graph build and 4 supersteps (a real pipeline pays both).
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.composition import textrank

        n_docs_tr = max(10_000, int(100_000 * scale))
        tdocs = (
            generate_documents_dist(
                spark, n_docs_tr, dup_frac=0.2, partitions=nparts)
            .select("doc_id", "text")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_tdocs = tdocs.count()
        t = time.monotonic()
        tr = textrank(tdocs, max_supersteps=4, edge_partitions=nparts)
        n_words = tr.count()
        tr_sec = time.monotonic() - t
        queries["textrank"] = round(tr_sec, 3)
        throughput["textrank_docs_per_sec"] = round(n_tdocs / tr_sec)
        detail["textrank_docs"] = n_tdocs
        detail["textrank_vocab_vertices"] = n_words
        tdocs.unpersist()

    if on("triads"):
        # Directed triangle census + reciprocity + rich-club profile
        # on the shared zipf graph.  The census path join is
        # Σ_v indeg·outdeg, which the zipf head dominates — the
        # max_degree cap (the documented approximate-census knob)
        # bounds it; reciprocity and rich_club run uncapped (both are
        # histogram/semi-join shaped).
        from mesos_pregel_spark.algos.directed import (
            reciprocity,
            triangle_census,
        )
        from mesos_pregel_spark.algos.structure import rich_club

        t = time.monotonic()
        rec = reciprocity(spark, g).collect()[0]
        cen = triangle_census(spark, g, max_degree=256).collect()[0]
        n_rc = rich_club(spark, g).count()
        td_sec = time.monotonic() - t
        queries["triads"] = round(td_sec, 3)
        throughput["triads_edges_per_sec"] = round(
            rec["total_edges"] / td_sec)
        detail["triads_distinct_edges"] = rec["total_edges"]
        detail["triads_reciprocity"] = rec["reciprocity"]
        detail["triads_cyclic"] = cen["cyclic_triangles"]
        detail["triads_transitive"] = cen["transitive_triplets"]
        detail["triads_rich_club_rows"] = n_rc

    if on("temporal"):
        # Day-windowed transition edges + per-window rank drift +
        # day-over-day edge-set Jaccard over the real events table —
        # the time-sliced link-analysis pipeline end to end.
        from mesos_pregel_spark.functions.edges import (
            build_edges_windowed,
            window_edge_drift,
            window_rank_drift,
        )

        ev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(nparts, "user_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_ev = ev.count()
        t = time.monotonic()
        wedges = build_edges_windowed(
            ev, "user_id", ["ts", "event_id"], F.col("event_type")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        n_we = wedges.count()
        n_rd = window_rank_drift(wedges).count()
        n_dr = window_edge_drift(wedges).count()
        tp_sec = time.monotonic() - t
        queries["temporal"] = round(tp_sec, 3)
        throughput["temporal_events_per_sec"] = round(n_ev / tp_sec)
        detail["temporal_window_edges"] = n_we
        detail["temporal_rank_rows"] = n_rd
        detail["temporal_drift_rows"] = n_dr
        wedges.unpersist()
        ev.unpersist()

    if on("convstats"):
        # Conversation-analytics batch over the real events table:
        # sessionization rollup, turn-taking entropy, reply-latency
        # profile, and the JSON props rollup — four one-or-two-
        # aggregate scans sharing one cached input.
        from mesos_pregel_spark.functions.sessions import (
            session_stats,
            turn_entropy,
        )
        from mesos_pregel_spark.queries import (
            q_props_rollup,
            q_reply_latency,
        )

        cev = (
            spark.read.parquet(f"{sf_dir}/events.parquet")
            .repartition(nparts, "user_id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_cev = cev.count()
        t = time.monotonic()
        n_sess = session_stats(cev).count()
        n_ent = turn_entropy(cev).count()
        n_lat = q_reply_latency(spark, sf_dir).count()
        n_pr = q_props_rollup(spark, sf_dir).count()
        cs_sec = time.monotonic() - t
        queries["convstats"] = round(cs_sec, 3)
        throughput["convstats_events_per_sec"] = round(
            n_cev * 4 / cs_sec)   # 4 passes over the log
        detail["convstats_events"] = n_cev
        detail["convstats_sessions"] = n_sess
        detail["convstats_conversations"] = n_ent
        detail["convstats_actor_pairs"] = n_lat
        detail["convstats_prop_cells"] = n_pr
        cev.unpersist()

    if on("retrieval"):
        # The final round-5 corpus additions over one persisted corpus:
        # BM25 top-k relevance mining, per-doc n-gram novelty against
        # the rest of the corpus, and the FM-sketch vocab audit — three
        # full-corpus passes sharing one cache (the textprep shape).
        from mesos_pregel_spark.fixtures import generate_documents_dist
        from mesos_pregel_spark.functions.decontam import ngram_novelty
        from mesos_pregel_spark.functions.text import approx_vocab, bm25_topk

        n_docs_rt = max(20_000, int(200_000 * scale))
        rdocs = (
            generate_documents_dist(
                spark, n_docs_rt, dup_frac=0.1, partitions=nparts)
            .select(
                "doc_id", "text",
                (F.col("doc_id") % 8).cast("string").alias("source"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_rdocs = rdocs.count()
        t = time.monotonic()
        n_bm = bm25_topk(rdocs, n_query_terms=6, topk=20).count()
        n_nv = ngram_novelty(rdocs, n=5).count()
        n_av = approx_vocab(rdocs).count()
        rt_sec = time.monotonic() - t
        queries["retrieval"] = round(rt_sec, 3)
        throughput["retrieval_docs_per_sec"] = round(n_rdocs * 3 / rt_sec)
        detail["retrieval_docs"] = n_rdocs
        detail["retrieval_topk_rows"] = n_bm
        detail["retrieval_novelty_rows"] = n_nv
        detail["retrieval_vocab_sources"] = n_av
        rdocs.unpersist()

    if on("multilevel"):
        # One METIS-style coarsening level of the bench graph: the
        # matching runs on the already-persisted multigraph; the
        # reported ratio is the vertex compression a multilevel
        # partitioner would bank before refining.
        from mesos_pregel_spark.algos.coarsen import coarsen_graph

        t = time.monotonic()
        coarse, sup = coarsen_graph(
            spark, g, max_rounds=4, edge_partitions=nparts)
        n_coarse = coarse.count()
        n_super = sup.select("super").distinct().count()
        n_fine = sup.count()
        ml_sec = time.monotonic() - t
        queries["multilevel"] = round(ml_sec, 3)
        throughput["multilevel_edges_per_sec"] = round(g_edges / ml_sec)
        detail["multilevel_fine_vertices"] = n_fine
        detail["multilevel_super_vertices"] = n_super
        detail["multilevel_coarse_edges"] = n_coarse
        detail["multilevel_compression"] = round(n_super / n_fine, 3)

    if on("temporal_reach"):
        # Time-respecting earliest arrival over the bench multigraph
        # with deterministic pseudo-timestamps (xxhash64 over a fixed
        # 10^9-µs window), then a warm refresh after a 0.1% delta
        # batch — the cold kernel AND temporal_reach's warm refresh
        # at bench scale.
        from mesos_pregel_spark.algos.temporal import temporal_reach

        tre = g.select(
            "src", "dst",
            (F.abs(F.xxhash64("src", "dst", F.lit(7)))
             % F.lit(1_000_000_000)).alias("t"),
        )
        # t is a pure function of (src, dst), so the kernel's prep
        # collapses the multigraph — throughput must divide the
        # DISTINCT transition count, not g_edges (the pagerank
        # distinct-edges convention)
        n_tr = tre.where(F.col("src") != F.col("dst")).distinct().count()
        seed0 = tre.agg(F.min("src")).collect()[0][0]
        t = time.monotonic()
        reach, trun = temporal_reach(
            spark, tre, seed0, max_supersteps=12, edge_partitions=nparts)
        n_reached = reach.where(F.col("arrival_us").isNotNull()).count()
        cold_sec = time.monotonic() - t
        at_fixpoint = trun.metrics[-1]["active"] == 0

        delta = g.where(
            F.abs(F.xxhash64("src", "dst", F.lit(13))) % 1000 == 0
        ).select(
            "src", "dst",
            (F.abs(F.xxhash64("src", "dst", F.lit(29)))
             % F.lit(1_000_000_000)).alias("t"),
        )
        t = time.monotonic()
        # the delta-frontier shrink is sound only from a converged
        # previous run; from a capped one every reached vertex re-sends
        warm, _ = temporal_reach(
            spark, tre.unionByName(delta), seed0, prev_arrivals=reach,
            delta_transitions=delta if at_fixpoint else None,
            max_supersteps=12, edge_partitions=nparts,
        )
        n_warm = warm.where(F.col("arrival_us").isNotNull()).count()
        warm_sec = time.monotonic() - t
        queries["temporal_reach"] = round(cold_sec + warm_sec, 3)
        throughput["temporal_reach_edges_per_sec"] = round(
            n_tr * len(trun.metrics) / cold_sec)
        detail["temporal_reach_distinct_transitions"] = n_tr
        detail["temporal_reach_cold_sec"] = round(cold_sec, 3)
        detail["temporal_reach_warm_sec"] = round(warm_sec, 3)
        detail["temporal_reach_reached"] = n_reached
        detail["temporal_reach_warm_reached"] = n_warm
        detail["temporal_reach_cold_at_fixpoint"] = at_fixpoint

    spark_probe_end = spark_probe(spark)
    spark.stop()
    cpu_mops_end = cpu_probe()
    cpu_par_end = cpu_probe_parallel()
    io_end = io_probe()
    mops_avg = (cpu_mops_start + cpu_mops_end) / 2
    # host_speed_factor: >1 = faster than the pinned r4 reference host,
    # <1 = slower.  normalized_time = raw * factor ≈ what the workload
    # would take on the reference regime.
    factor = round(mops_avg / REF_CPU_MOPS, 3)
    total = round(sum(queries.values()), 3)
    result = {
        "metric": "pregel_link_graph_bench_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "queries_normalized": {
            k: round(v * factor, 3) for k, v in queries.items()
        },
        "value_normalized": round(total * factor, 3),
        "calibration": {
            "cpu_mops": {"start": cpu_mops_start, "end": cpu_mops_end},
            "cpu_mops_parallel8": {
                "start": cpu_par_start, "end": cpu_par_end,
            },
            "io_mb_s": {"start": io_start, "end": io_end},
            "spark_probe_sec": {
                "start": spark_probe_start, "end": spark_probe_end,
            },
            "reference_cpu_mops": REF_CPU_MOPS,
            "reference_spark_probe_sec": REF_SPARK_PROBE_SEC,
            "host_speed_factor": factor,
        },
        "sf": sf,
        "cpus": cpus,
        "throughput": throughput,
        "detail": detail,
    }
    return result


def _fastest_scratch() -> tuple[str, dict]:
    """Probe candidate scratch volumes and return (dir, probe_mb_s).

    r4 root-caused the scaling-efficiency misses to the sandbox's /tmp
    (measured ~10 MB/s fsync'd writes some sessions): shuffle-bound
    legs serialize on the disk, not the plan.  Spark's shuffle scratch
    is pointed at the fastest WRITABLE volume instead — on this host
    /dev/shm (tmpfs) writes >1 GB/s.  Probes are recorded in the
    summary so the chosen regime is part of the evidence."""
    import tempfile
    import time as _t

    speeds = {}
    for cand in ("/dev/shm", tempfile.gettempdir()):
        try:
            d = os.path.join(cand, f"spark_graft_probe_{os.getpid()}")
            os.makedirs(d, exist_ok=True)
            buf = os.urandom(1 << 20)
            path = os.path.join(d, "probe.bin")
            t0 = _t.time()
            n = 0
            with open(path, "wb") as f:
                while _t.time() - t0 < 1.5:
                    f.write(buf)
                    n += 1
                f.flush()
                os.fsync(f.fileno())
            speeds[cand] = round(n / (_t.time() - t0), 1)
            os.remove(path)
            os.rmdir(d)
        except OSError:
            continue
    best = max(speeds, key=speeds.get) if speeds else None
    return best, speeds


def run_scaling() -> None:
    """local[8] vs local[32] on identical inputs; efficiency =
    (throughput_32/throughput_8)/4 (BASELINE.md row)."""
    results = {}
    cores_pair = tuple(
        int(c) for c in os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8").split(",")
    )
    scratch, scratch_probes = _fastest_scratch()
    if scratch and "SPARK_LOCAL_DIRS" not in os.environ:
        d = os.path.join(scratch, "spark_graft_scratch")
        os.makedirs(d, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = d
    for cpus in cores_pair:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            # PageRank only, on a 512M-edge hub-regime graph (|V| ≪ |E|,
            # the transcript-flagship shape): compute-dominated, so the
            # measurement reflects scaling of the engine rather than of
            # fixed per-superstep scheduling latency.  Default pair is
            # 2 vs 8 cores: CPU calibration (BENCH/BASELINE.md) shows
            # this sandbox's 32 "cores" deliver only ~2x the parallel
            # throughput of 8 (SMT/host contention), so 8→32 cannot
            # evidence scaling even for perfect code; 2→8 sits in the
            # machine's linear regime and is the honest N-vs-4N stand-in.
            SPARK_GRAFT_ONLY="pagerank",
            SPARK_GRAFT_EDGE_SCALE=os.environ.get("SPARK_GRAFT_EDGE_SCALE", "512"),
            # 50 edges/vertex + the capped-head 'mild' skew keep the
            # PREPARED graph ~the raw size (r2 used ratio 4000 + the
            # extreme hub, whose collapse under semantic prep left a
            # 22M-edge latency-bound job — measured eff 0.591, not a
            # scaling signal).
            SPARK_GRAFT_VERT_RATIO=os.environ.get("SPARK_GRAFT_VERT_RATIO", "50"),
            SPARK_GRAFT_DST_SKEW=os.environ.get("SPARK_GRAFT_DST_SKEW", "mild"),
            SPARK_GRAFT_PR_STEPS=os.environ.get("SPARK_GRAFT_PR_STEPS", "6"),
            SPARK_GRAFT_SHUFFLE=os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
            SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        )
        # the child prints a compact final line (driver contract) and
        # writes the full payload — throughput/detail — to
        # bench_full_partial.json (the child runs with SPARK_GRAFT_ONLY
        # set, so it takes the partial-file path and the committed
        # full-suite bench_full.json survives).  Remove any stale copy
        # BEFORE launching: without this, a crashed leg would silently
        # reuse the previous leg's payload and report a bogus ~0.25
        # efficiency.
        full_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_full_partial.json")
        try:
            os.remove(full_path)
        except OSError:
            pass
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env, capture_output=True, text=True, timeout=3600,
        )
        if out.returncode != 0:
            raise RuntimeError(
                f"scaling leg local[{cpus}] failed rc={out.returncode}: "
                f"{out.stderr.strip().splitlines()[-3:]}"
            )
        try:
            with open(full_path) as f:
                results[cpus] = json.load(f)
        except (OSError, json.JSONDecodeError):
            results[cpus] = json.loads(out.stdout.strip().splitlines()[-1])
        if results[cpus].get("cpus") != cpus:
            raise RuntimeError(
                f"scaling leg local[{cpus}] produced a payload for "
                f"cpus={results[cpus].get('cpus')} — stale or mislabeled"
            )
    lo, hi = cores_pair
    thr_lo = results[lo]["throughput"]["pagerank_edges_per_sec"]
    thr_hi = results[hi]["throughput"]["pagerank_edges_per_sec"]
    eff = (thr_hi / thr_lo) / (hi / lo)
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "scaling_full.json")
    with open(full_path, "w") as f:
        json.dump({str(k): v for k, v in results.items()}, f, indent=1)
    summary = {
        "metric": f"scaling_efficiency_local{lo}_vs_local{hi}",
        "value": round(eff, 3),
        "unit": "ratio",
        "pagerank_edges_per_sec": {f"local{lo}": thr_lo, f"local{hi}": thr_hi},
        "io_mb_s": {
            f"local{k}": results[k]["calibration"]["io_mb_s"]
            for k in (lo, hi) if "calibration" in results[k]
        },
        "scratch_dir": os.environ.get("SPARK_LOCAL_DIRS"),
        "scratch_probes_mb_s": scratch_probes,
        "full_payload": "scaling_full.json",
    }
    print(json.dumps(summary))
    _append_baseline_row(results, cores_pair, eff)


def _append_baseline_row(results: dict, cores_pair: tuple, eff: float) -> None:
    import datetime

    lo, hi = cores_pair
    row = (
        f"| {datetime.date.today()} | pagerank | synth zipf "
        f"{results[hi]['detail']['synthetic_edges']} edges | "
        f"local[{lo}]→local[{hi}] | "
        f"{results[hi]['throughput']['pagerank_supersteps_per_hour']} | "
        f"{results[hi]['throughput']['pagerank_edges_per_sec']} | "
        f"{eff:.3f} |\n"
    )
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH", "BASELINE.md")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    header = (
        "# BENCH/BASELINE.md — measured rows\n\n"
        "Sandbox stand-in for N vs 4N executors: same job+input at "
        "local[8] vs local[32] (SURVEY §7.6 risk 7).\n\n"
        "| date | algo | fixture | parallelism | supersteps/hour | "
        "edges/sec | scaling eff |\n|---|---|---|---|---|---|---|\n"
    )
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(header)
    with open(path, "a") as f:
        f.write(row)


def _print_compact(result: dict) -> None:
    """Final-line contract: the driver keeps only the LAST 2000 chars of
    stdout and json-parses the last line — round 4's full payload
    (detail + calibration + normalized times) overflowed that window and
    BENCH_r04.json recorded ``parsed: null``.  So: write the FULL payload
    to bench_full.json, print a compact line (metric/value/queries +
    normalization scalars only) LAST, and hard-assert it stays ≤1500
    chars to leave margin.

    Partial runs (``SPARK_GRAFT_ONLY``) write ``bench_full_partial.json``
    instead: the committed bench_full.json is the FULL-suite record, and
    a quick --only smoke run must not clobber it (it did, twice)."""
    fname = "bench_full_partial.json" if ONLY else "bench_full.json"
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), fname)
    with open(full_path, "w") as f:
        json.dump(result, f, indent=1)
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "cpus": result["cpus"],
        "value_normalized": result["value_normalized"],
        "host_speed_factor": result["calibration"]["host_speed_factor"],
        "full_payload": fname,
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # drop per-query detail before breaking the parse
        compact["queries"] = {"_overflow": "see bench_full.json"}
        line = json.dumps(compact)
    assert len(line) <= 1500, f"bench final line {len(line)} chars > 1500"
    print(line)


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        run_scaling()
    else:
        # Same disk-out-of-the-loop policy as --scaling: point shuffle
        # scratch at the fastest writable volume (this sandbox's /tmp
        # measured ~10 MB/s fsync'd writes in r4 — see BENCH/BASELINE.md;
        # /dev/shm tmpfs >1 GB/s).  The chosen dir + probe speeds land in
        # bench_full.json so the regime is part of the evidence.
        scratch, scratch_probes = _fastest_scratch()
        if scratch and "SPARK_LOCAL_DIRS" not in os.environ:
            d = os.path.join(scratch, "spark_graft_scratch")
            os.makedirs(d, exist_ok=True)
            os.environ["SPARK_LOCAL_DIRS"] = d
        result = run_bench(SF_DIR, CPUS)
        result["scratch_dir"] = os.environ.get("SPARK_LOCAL_DIRS")
        result["scratch_probes_mb_s"] = scratch_probes
        _print_compact(result)
