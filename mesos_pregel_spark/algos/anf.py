"""A9 — Approximate Neighborhood Function (ANF / HyperBall family):
per-vertex estimates of |B_h(v)| — how many vertices are within h hops
— via Flajolet-Martin bitmask sketches riding the engine's ``bit_or``
combiner, plus the effective-diameter read-out.

The web-graph classic (Palmer-Gibbons-Faloutsos ANF; Boldi-Vigna
HyperBall runs the same iteration with HyperLogLog registers): the
exact neighborhood function needs an all-pairs BFS, but a b-bit FM
sketch per vertex makes it one bit-or Pregel fixpoint —

    S_0(v)   = {rho(v)};
    S_{h+1}(v) = S_h(v)  OR  bit_or over out-neighbors w of S_h(w)

so after h supersteps S_h(v) sketches exactly the set B_h(v), because
bit-or is a union homomorphism.  Messages are k longs; the combiner is
mergeable (bit_or ∘ bit_or = bit_or), so hub fan-in collapses
map-side — the identical economics as multi-source BFS
(algos/msbfs.py), which shares the operator path.

DERANDOMIZED, like every sampler in this engine: register j of vertex
v holds ``2^rho_j(v)`` where ``rho_j(v)`` = number of trailing zeros
of the 48-bit integer ``int(md5(seed:j:id)[:12 hex])`` (the all-zero
hash, probability 2^-48, pins rho = 48).  Estimates are the classic FM
read-out: R_j = position of the lowest UNSET bit of register j,
``est = 2^(mean_j R_j) / 0.77351``.  Every step — md5, trailing-zero
isolation ``h & -h``, lowest-zero ``(~m) & (m+1)``, exact log2 of a
power of two, one pow, one divide — is bit-reproducible in DuckDB, so
the radius-h driver query has a hash-exact SQL twin despite being an
"approximate" algorithm: the APPROXIMATION is pinned, the computation
is exact.

Semantics (pinned, shared with the unrolled oracle in queries.py and
tests/oracle_pregel.py::oracle_anf):
- directed out-neighborhoods over the DISTINCT (src, dst) edge set;
  v ∈ B_h(v) (radius 0 = self);
- a capped h-round run IS the radius-h sketch (``converged_at_cap`` —
  monotone, like k-core peeling), and the run halts early when no
  register changes (sketches reached the transitive closure).

Scale: state is k longs per vertex (k=4 default → 32 bytes; HyperBall
at 100× would swap registers for HLL bytes, same plan shape).  One
scatter over dst-partitioned REVERSED edges + one map-side-combinable
bit_or per superstep; h is small (effective diameters of web graphs
are ~6-20), so the whole run is h linear passes — the cheapest
whole-graph analytic the engine ships.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

FM_PHI = 0.77351  # Flajolet-Martin bias correction


def _init_register(seed: str, j: int) -> Column:
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(seed), F.lit(str(j)), F.col("id").cast("string")
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    # lowest set bit of the 48-bit hash == 2^(trailing zeros); all-zero
    # hash pins rho = 48
    return (
        F.when(h == 0, F.lit(1 << 48).cast("long"))
        .otherwise(h.bitwiseAND(F.lit(0).cast("long") - h))
    )


def fractional_powers_of_two(k: int) -> list[float]:
    """2^(f/k) for f = 0..k-1 as the doubles BOTH engines will use —
    computed once in python, shipped as shortest-round-trip literals."""
    return [2.0 ** (f / k) for f in range(k)]


def fm_estimate_sql(mask_cols: list[str], shift: str) -> str:
    """The FM read-out as a SQL expression string over ``mask_cols``:
    2^(mean lowest-zero-bit position) / 0.77351, rounded to 6 dp.

    Evaluated WITHOUT a fractional ``pow`` — libm pow is not
    correctly-rounded, so ``pow(2.0, s/k)`` can differ in the last ULP
    between the JVM and DuckDB.  Instead 2^(s/k) is decomposed as
    ``(1 << s div k) * 2^((s mod k)/k)`` with the fractional powers
    pinned as shortest-round-trip double LITERALS (repr) — every
    remaining op (integer shift, one multiply, one divide, round) is
    exact IEEE and bit-identical across engines.  ``shift`` is the
    dialect's shift-left template with ``{i}`` for the bit count:
    Spark ``shiftleft(cast(1 as bigint), {i})``, DuckDB
    ``(CAST(1 AS BIGINT) << ({i}))``."""
    k = len(mask_cols)
    rs = " + ".join(
        f"cast(log2((~{c}) & ({c} + 1)) as bigint)" for c in mask_cols
    )
    s = f"({rs})"
    i = f"cast(floor({s} / {float(k)!r}) as int)"
    frac = f"({s} % {k})"
    cs = fractional_powers_of_two(k)
    whens = " ".join(f"WHEN {f} THEN {cs[f]!r}" for f in range(1, k))
    c = f"(CASE {frac} {whens} ELSE 1.0 END)"
    two_i = f"cast({shift.format(i=i)} as double)"
    return f"round({two_i} * {c} / {FM_PHI!r}, 6)"


SPARK_SHIFT = "shiftleft(cast(1 as bigint), {i})"
DUCKDB_SHIFT = "(CAST(1 AS BIGINT) << ({i}))"


def fm_estimate(mask_cols: list[str]) -> Column:
    """Spark Column form of :func:`fm_estimate_sql`."""
    return F.expr(fm_estimate_sql(mask_cols, SPARK_SHIFT))


def neighborhood_sketches(
    spark: SparkSession,
    edges: DataFrame,
    h: int = 3,
    k: int = 4,
    seed: str = "anf42",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
    extra_aggregators: list[Column] | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Radius-``h`` FM sketches of every vertex's out-neighborhood:
    returns (sketches(id, r0..r{k-1}), run).  Feed the result to
    :func:`fm_estimate` (or use :func:`anf` for the one-call per-vertex
    estimates)."""
    if not 1 <= k <= 16:
        raise ValueError(f"need 1..16 registers, got {k}")
    regs = [f"r{j}" for j in range(k)]

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        return verts.select(
            "id",
            *[_init_register(seed, j).alias(regs[j]) for j in range(k)],
            F.lit(True).alias("changed"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new = [
            state[r].bitwiseOR(
                F.coalesce(combined[f"c{j}"], F.lit(0).cast("long"))
            )
            for j, r in enumerate(regs)
        ]
        changed = new[0] != state[regs[0]]
        for j in range(1, k):
            changed = changed | (new[j] != state[regs[j]])
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                *[n.alias(r) for n, r in zip(new, regs)],
                changed.alias("changed"),
            )
        )

    program = VertexProgram(
        name="anf",
        init=init,
        # REVERSED distinct edges: v's sketch absorbs its OUT-neighbors'
        # sketches, so the message flows w -> v for each original edge
        # (v, w) — scatter's sender side must be w.
        prep_edges=lambda e: e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).distinct(),
        edge_cols=("src", "dst"),
        msg_cols=[F.col(r).alias(f"m{j}") for j, r in enumerate(regs)],
        active_filter=F.col("changed"),
        combiner={f"c{j}": (f"m{j}", "bit_or") for j in range(k)},
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("active"),
            *(extra_aggregators or []),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select("id", *regs),
        converged_at_cap=True,  # an h-capped run IS the radius-h answer
        params={"h": h, "k": k, "seed": seed},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=h,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )


def anf(
    spark: SparkSession,
    edges: DataFrame,
    h: int = 3,
    k: int = 4,
    seed: str = "anf42",
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """Per-vertex estimated |B_h(v)|: (id, nf), nf rounded to 6 dp."""
    sketches, run = neighborhood_sketches(
        spark, edges, h=h, k=k, seed=seed, **kwargs
    )
    regs = [f"r{j}" for j in range(k)]
    return sketches.select("id", fm_estimate(regs).alias("nf")), run


def centralities(
    spark: SparkSession,
    edges: DataFrame,
    h: int = 3,
    k: int = 4,
    seed: str = "anf42",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """HyperBall's actual read-outs (Boldi-Vigna): per-vertex HARMONIC
    centrality ``Σ_h (|B_h|-|B_{h-1}|)/h`` and CLOSENESS sum
    ``Σ_h h·(|B_h|-|B_{h-1}|)`` estimated from the per-round sketch
    deltas, accumulated IN the superstep loop — one run, no sketch
    history retained.  Returns ((id, nf, harmonic, closeness_sum),
    run), all estimates 6-dp-pinned and hash-exact against the
    unrolled DuckDB twin (the per-round accumulation is a fixed-order
    chain of exact IEEE ops over the pinned 6-dp estimates).

    Early halt is exact: once sketches stop changing every remaining
    delta is 0, so a converged run equals the full h-round unroll.
    State is k longs + three doubles + a round counter per vertex."""
    if not 1 <= k <= 16:
        raise ValueError(f"need 1..16 registers, got {k}")
    regs = [f"r{j}" for j in range(k)]

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        base = verts.select(
            "id",
            *[_init_register(seed, j).alias(regs[j]) for j in range(k)],
        )
        return base.select(
            "id", *regs,
            fm_estimate(regs).alias("est"),
            F.lit(0.0).alias("harm"),
            F.lit(0.0).alias("close"),
            F.lit(0).cast("long").alias("hround"),
            F.lit(True).alias("changed"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new = [
            state[r].bitwiseOR(
                F.coalesce(combined[f"c{j}"], F.lit(0).cast("long"))
            )
            for j, r in enumerate(regs)
        ]
        changed = new[0] != state[regs[0]]
        for j in range(1, k):
            changed = changed | (new[j] != state[regs[j]])
        t1 = (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                *[n.alias(r) for n, r in zip(new, regs)],
                state["est"].alias("est_old"),
                state["harm"].alias("harm"),
                state["close"].alias("close"),
                (state["hround"] + 1).alias("hround"),
                changed.alias("changed"),
            )
        )
        new_est = fm_estimate(regs)
        delta = new_est - F.col("est_old")
        hh = F.col("hround").cast("double")
        return t1.select(
            "id", *regs,
            new_est.alias("est"),
            (F.col("harm") + delta / hh).alias("harm"),
            (F.col("close") + hh * delta).alias("close"),
            "hround",
            "changed",
        )

    program = VertexProgram(
        name="anf_centralities",
        init=init,
        prep_edges=lambda e: e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        ).distinct(),
        edge_cols=("src", "dst"),
        msg_cols=[F.col(r).alias(f"m{j}") for j, r in enumerate(regs)],
        active_filter=F.col("changed"),
        combiner={f"c{j}": (f"m{j}", "bit_or") for j in range(k)},
        apply=apply,
        aggregators=[F.sum(F.col("changed").cast("long")).alias("active")],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id",
            F.col("est").alias("nf"),
            F.round("harm", 6).alias("harmonic"),
            F.round("close", 6).alias("closeness_sum"),
        ),
        converged_at_cap=True,
        params={"h": h, "k": k, "seed": seed, "read_out": "hyperball"},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=h,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    q: float = 0.9,
    max_h: int = 32,
    k: int = 8,
    seed: str = "anf42",
    **kwargs,
) -> tuple[int, list[float], PregelRun]:
    """Smallest h with N(h) ≥ q · N(max_h), where N(h) = Σ_v est
    |B_h(v)| — the standard ANF effective-diameter read-out.  Returns
    (h_eff, [N(1)..N(h_stop)], run); the sketch loop stops early once
    no register changes (N has reached the transitive-closure
    plateau).  Driver-side work is one tiny aggregator per round; the
    per-round N(h) values ride the run's existing aggregator channel,
    so this costs exactly one sketch run."""
    regs = [f"r{j}" for j in range(k)]
    _sketches, run = neighborhood_sketches(
        spark, edges, h=max_h, k=k, seed=seed,
        extra_aggregators=[F.sum(fm_estimate(regs)).alias("nf_sum")],
        **kwargs,
    )
    ns = [m["nf_sum"] for m in run.metrics if "nf_sum" in m]
    target = q * ns[-1]
    for i, n in enumerate(ns):
        if n >= target:
            return i + 1, ns, run
    return len(ns), ns, run
