"""Maximal matching — the Pregel paper's bipartite-matching example
[P §5.2] generalized to any undirected graph, with DETERMINISTIC md5
edge priorities (local-max / handshake matching, Hoepman 2004's
algorithm under a fixed weight order).  mesos-pregel ships matching as
a user Compute program; here it is ~30 declarative lines on the same
generic vertex-program substrate as MIS (SURVEY §2 P1–P5; reference
dir empty — SURVEY §0 — so semantics are pinned to [P §5.2] and the
published local-max algorithm, not to Go file:line).

Pinned semantics:

- UNDIRECTED simple graph (symmetrized, self-loops dropped, parallel
  edges collapsed).
- Edge priority prio{u,v} = md5(least(u,v) || '|' || greatest(u,v)) —
  symmetric, engine-independent (DuckDB computes the identical hex),
  fixed 32-char width so string concat order == struct order; ties
  broken by the neighbor id appended after '|'.
- One matching ROUND = two supersteps, lockstep via a phase bit on
  the state (all unmatched vertices share it):
    * phase A (propose): every unmatched vertex sends
      struct(prio, src) along every incident edge; each unmatched
      vertex keeps the MIN — its candidate partner ``cand`` (the
      other endpoint of its locally-best still-active edge);
    * phase B (accept): every unmatched vertex with a candidate sends
      struct(prio, src) to ``cand`` ONLY; a vertex matches iff the
      min suitor it receives IS its own candidate.
  The min-suitor rule equals the mutual-pointer rule: if v's cand is
  u and u proposed to v, then prio(v,u) is v's minimum over ALL
  active neighbors, hence over the suitor subset, so min-suitor = u.
  Conversely a matched pair is always mutual.  Each round the
  globally minimum active-active edge is mutual, so >=1 edge matches
  per round — termination is guaranteed, and the result is a MAXIMAL
  matching (the run halts only when no active-active edge remains).
- Matching is MONOTONE (matched never unmatches), so a run capped at
  R rounds equals the R-round unrolled oracle exactly — same
  capped==unrolled contract as MIS/coloring.

Execution shape (design-for-100x): one scatter over src-partitioned
symmetrized edges per superstep with a single mergeable min combiner
(struct(prio, id)) — CC's shuffle economics; matched vertices leave
the sending side via ``active_filter`` so late rounds touch only the
shrinking active subgraph.  Phase B's messages are filtered at the
scatter (dst == cand), so the accept superstep ships at most one
message per active vertex — strictly lighter than phase A.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_UNMATCHED, _MATCHED = 0, 1


_WEIGHT_KEY_BASE = 1_000_000_000_000_000  # 10^15: weights < 10^15 supported


def _edge_prio(priority: str = "md5") -> F.Column:
    """Symmetric per-edge priority over the scatter-joined row.
    The canonical key orders the STRING forms of the endpoint ids
    (engine-independent: numeric least/greatest would disagree with
    the DuckDB twin's varchar comparison on negative hashed ids).

    ``priority="md5"``: the fixed 32-hex random order (Hoepman's
    random-weight local-max).  ``priority="weight"``: HEAVY-EDGE
    matching (the METIS coarsening rule — contract the heaviest
    incident edge first): a 16-digit zero-padded DESCENDING weight key
    (10^15 − w, so heavier = smaller string) prefixed to the same md5,
    which becomes the deterministic tiebreak among equal weights.
    Both keys are fixed-width strings, so string MIN == (weight desc,
    md5 asc) exactly — in Spark and DuckDB alike."""
    s = F.col("src").cast("string")
    d = F.col("dst").cast("string")
    h = F.md5(F.concat(F.least(s, d), F.lit("|"), F.greatest(s, d)))
    if priority == "md5":
        return h
    if priority == "weight":
        wkey = F.lpad(
            (F.lit(_WEIGHT_KEY_BASE) - F.col("weight").cast("long"))
            .cast("string"),
            16, "0",
        )
        return F.concat(wkey, h)
    raise ValueError(f"unknown matching priority: {priority!r}")


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 25,
    edge_partitions: int | None = None,
    priority: str = "md5",
) -> tuple[DataFrame, PregelRun]:
    """Compute the deterministic local-max maximal matching.  Returns
    (membership(id, matched, mate), run); ``mate`` is NULL for
    unmatched vertices.  ``priority="weight"`` switches to heavy-edge
    matching (see :func:`_edge_prio`); Hoepman's local-max argument
    needs only a fixed total edge order, so validity / maximality /
    per-round progress / capped ≡ unrolled all carry over unchanged."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select(
                "id",
                F.lit(_UNMATCHED).alias("st"),
                F.lit(None).cast("string").alias("mate"),
                F.lit(None).cast("string").alias("cand"),
                F.lit(0).alias("ph"),
            )
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        best = combined["best"]
        frozen = state["st"] == _MATCHED
        in_a = (~frozen) & (state["ph"] == 0)
        in_b = (~frozen) & (state["ph"] == 1)
        accepted = in_b & best.isNotNull() & (best["i"] == state["cand"])
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                F.when(accepted, F.lit(_MATCHED))
                .otherwise(state["st"]).alias("st"),
                F.when(accepted, state["cand"])
                .otherwise(state["mate"]).alias("mate"),
                F.when(in_a, best["i"])
                .otherwise(F.lit(None).cast("string")).alias("cand"),
                F.when(in_a, F.lit(1)).otherwise(F.lit(0)).alias("ph"),
            )
        )

    prio = _edge_prio(priority)
    weighted = priority == "weight"
    program = VertexProgram(
        name="matching",
        init=init,
        prep_edges=(
            (lambda e: symmetrize(e.select("src", "dst", "weight")))
            if weighted else
            (lambda e: symmetrize(e.select("src", "dst", "weight"))
             .select("src", "dst"))
        ),
        edge_cols=("src", "dst", "weight") if weighted else ("src", "dst"),
        msg_cols=[
            F.when(
                (F.col("ph") == 0)
                # string compare: long==string would coerce via double
                # and lose precision on 64-bit hashed ids
                | (F.col("dst").cast("string") == F.col("cand")),
                F.struct(
                    prio.alias("p"),
                    F.col("src").cast("string").alias("i"),
                ),
            ).alias("m"),
        ],
        active_filter=F.col("st") == _UNMATCHED,
        combiner={"best": ("m", "min")},
        apply=apply,
        aggregators=[
            F.sum((F.col("st") == _UNMATCHED).cast("long")).alias("unmatched"),
            F.sum(
                ((F.col("st") == _UNMATCHED) & (F.col("ph") == 1)).cast("long")
            ).alias("in_b"),
            F.sum(
                (
                    (F.col("st") == _UNMATCHED)
                    & (F.col("ph") == 1)
                    & F.col("cand").isNotNull()
                ).cast("long")
            ).alias("proposals"),
        ],
        # Halt at a phase-A boundary with zero proposals (no
        # active-active edge left => maximal), or when everything
        # matched.  After a phase-B apply in_b == 0, so no false halt.
        halt=lambda aggs: aggs["unmatched"] == 0
        or (aggs["in_b"] == aggs["unmatched"] and aggs["proposals"] == 0),
        finalize=lambda s: s.select(
            "id", (F.col("st") == _MATCHED).alias("matched"), "mate"
        ),
        # monotone matching: capped == same-cap unrolled oracle
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=2 * max_rounds,
        edge_partitions=edge_partitions,
    )
