"""Greedy graph coloring — Jones–Plassmann with deterministic md5
priorities on the generic vertex-program API.  The symmetric-breaking
sibling of MIS (algos/mis.py): scheduling conflicting updates, channel
assignment, and parallel iteration ordering all reduce to it.

Pinned semantics (unrolled SQL twin in queries.py, python greedy
oracle in tests/test_coloring.py):

- UNDIRECTED simple graph (symmetrized, self-loops dropped, parallel
  edges collapsed).
- priority(v) = md5(string(v)); total order = (priority, id) — the
  same candidacy order as MIS, so the result is the coloring produced
  by sequential greedy in priority order.
- One transition per superstep: every vertex accumulates the bitmask
  of its already-colored neighbors' colors; an uncolored vertex whose
  (priority, id) is strictly smaller than every uncolored neighbor's
  candidacy colors itself with the MINIMUM EXCLUDANT of the
  accumulated mask.  Adjacent vertices can never win the same
  superstep (strict candidacy order), and the later winner always has
  the earlier winner's color in its mask by its winning round (the
  color rides the next scatter; the loser necessarily waited at least
  that round) — so the coloring is PROPER.
- Monotone (colors assigned once, masks only grow): a capped run
  equals a same-cap unrolled oracle exactly; vertices still uncolored
  at the cap report color -1 on both sides.

Execution shape (design-for-100x): one scatter per superstep over
src-partitioned symmetrized edges with MERGEABLE combiners — min of
the candidacy struct and bit_or of (1 << color) — i.e. CC's shuffle
economics; neighbor color SETS are never shuffled, only their 64-bit
unions (Pregel combiner discipline, SURVEY §2.1 P2).

CHUNKED masks (r4 verdict task #6): the palette is ``mask_chunks``
64-bit columns of MAX_COLORS usable bits each — palette size
MAX_COLORS * mask_chunks.  Chunk layout: color c lives in chunk
``c div MAX_COLORS`` at bit ``c % MAX_COLORS``; the minimum excludant
is taken in the FIRST non-full chunk via the same lowbit identity
(``~m & (m+1)`` is the lowest zero bit as an exact power of two, and
log2 of an exact power of two is exact in IEEE — Spark and DuckDB
produce the identical integer).  mask_chunks=1 is bit-identical to the
pre-chunk engine.  The engine still RAISES loudly — never answers
wrong — if a run saturates its configured palette;
``greedy_coloring(variant="auto")`` escalates chunks and retries.

``greedy_coloring`` is the user entry point: on large graphs it
delegates to ``speculative_coloring`` (the scale path — JP's round
count is the priority-DAG depth, measured 50+ rounds on the 1M-edge
zipf bench graph where speculative converges in ~23); pass
``variant="jp"`` for the pinned greedy-order-exact semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_UNCOLORED = -1
# 62 usable color bits in a signed 64-bit mask (bit 63 is the sign;
# bit 62 is kept clear so mask+1 in the mex trick cannot overflow).
MAX_COLORS = 62
# greedy_coloring(variant="auto"): graphs with more edges than this
# use the speculative scale path (JP kept for pinned-oracle semantics).
SPEC_EDGE_THRESHOLD = 2_000_000
# auto palette escalation cap: 8 chunks * 62 = 496 colors; beyond that
# the graph's degeneracy is the problem, not the mask width.
MAX_AUTO_CHUNKS = 8


class ColorMaskSaturated(RuntimeError):
    """A run used all MAX_COLORS * mask_chunks palette bits."""


def _full_mask() -> int:
    return (1 << MAX_COLORS) - 1


def _saturation_halter(k: int):
    palette = MAX_COLORS * k

    def check_saturation(aggs: dict) -> bool:
        max_color = aggs.get("max_color")
        if max_color is not None and max_color >= palette:
            raise ColorMaskSaturated(
                f"neighborhood exhausted the {palette}-color palette "
                f"({k} mask chunk(s) x {MAX_COLORS} bits); pass a larger "
                "mask_chunks or use greedy_coloring(variant='auto')"
            )
        return aggs["uncolored"] == 0

    return check_saturation


def _init_state(k: int):
    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select(
                "id",
                F.md5(F.col("id").cast("string")).alias("p"),
                F.lit(_UNCOLORED).cast("int").alias("color"),
                *[F.lit(0).cast("long").alias(f"mask{i}") for i in range(k)],
                F.lit(0).cast("int").alias("fresh"),
            )
        )

    return init


def _cmask_msgs(k: int) -> list[Column]:
    """Fresh winners scatter their color bit into its chunk, once."""
    return [
        F.when(
            (F.col("fresh") == 1)
            & (F.expr(f"color div {MAX_COLORS}") == i),
            # F.shiftleft only takes a literal bit count; the SQL form
            # shifts by a column
            F.expr(f"shiftleft(CAST(1 AS BIGINT), color % {MAX_COLORS})"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias(f"cm{i}")
        for i in range(k)
    ]


def _new_masks(state: DataFrame, combined: DataFrame, k: int) -> list[Column]:
    return [
        state[f"mask{i}"].bitwiseOR(
            F.coalesce(combined[f"nm{i}"], F.lit(0).cast("long"))
        )
        for i in range(k)
    ]


def _mex_over(masks: list[Column], k: int) -> Column:
    """Minimum excludant across chunks: lowbit of the FIRST non-full
    chunk, offset by its chunk base; MAX_COLORS*k when exhausted (the
    sentinel assignment trips the saturation halter before it can
    scatter)."""
    full = F.lit(_full_mask()).cast("long")
    expr: Column = F.lit(MAX_COLORS * k).cast("int")
    for i in reversed(range(k)):
        m = masks[i]
        lowbit = F.bitwise_not(m).bitwiseAND(m + F.lit(1).cast("long"))
        mex_i = (
            F.log2(lowbit.cast("double")).cast("int")
            + F.lit(MAX_COLORS * i).cast("int")
        )
        expr = F.when(m.bitwiseAND(full) != _full_mask(), mex_i).otherwise(expr)
    return expr


def _mex_sql(k: int) -> str:
    """The same chunked mex as _mex_over, as a SQL string over the
    state's mask columns (used in scatter message expressions)."""
    full = _full_mask()
    cases = " ".join(
        f"WHEN (mask{i} & {full}) != {full} THEN "
        f"CAST(log2(CAST((~mask{i}) & (mask{i} + 1) AS DOUBLE)) AS INT)"
        f" + {MAX_COLORS * i}"
        for i in range(k)
    )
    return f"CASE {cases} ELSE {MAX_COLORS * k} END"


def speculative_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 30,
    edge_partitions: int | None = None,
    mask_chunks: int = 1,
) -> tuple[DataFrame, PregelRun]:
    """Speculative coloring with deterministic conflict resolution —
    the SCALE path (Jones-Plassmann below is the greedy-order-exact
    variant, but its round count is the priority-DAG depth, which on a
    zipf bench graph measured 50+ rounds: dependency CHAINS through
    the dense core color one-at-a-time).  Here every uncolored vertex
    bids for its tentative color simultaneously and only same-color
    conflicts serialize, so rounds ~ O(log n) + palette size
    (measured: 52 -> ~10 on the same graph).

    Pinned transition (replayed exactly by the unrolled SQL twin and
    the python oracle):

    - tent(v) = mex(v.mask) — mask accumulates finalized neighbor
      colors with a ONE-ROUND LAG (a winner's color bit rides the next
      scatter, send-once);
    - v finalizes tent(v) in round t iff (a) no uncolored neighbor u
      with tent(u) == tent(v) and (p_u, u) < (p_v, v) [per-color
      priority — adjacent same-color bids can't both win], and (b) the
      bit for tent(v) did not arrive in THIS round's mask union [the
      lag guard: a neighbor that won this color last round blocks it].
    - Monotone (colors final, masks grow): capped == unrolled, -1 for
      vertices past the cap, identical on both sides.

    Shuffle shape: one scatter per superstep combined per (dst, tent)
    — min of the candidacy struct and bit_or of the color bit (LPA's
    combine_keys economics) — then a per-dst rollup into a
    tent->min-candidate map + mask union (post_combine, same shape as
    LPA's argmax).  active_filter keeps finalized vertices silent
    after their single color-bit send.
    """
    k = mask_chunks

    def post_combine(per_tent: DataFrame) -> DataFrame:
        entries = F.filter(
            F.collect_list(
                F.struct(F.col("tent").alias("key"),
                         F.col("cand_min").alias("value"))
            ),
            lambda s: s["key"].isNotNull() & s["value"].isNotNull(),
        )
        return per_tent.groupBy("dst").agg(
            *[F.bit_or(f"cmt{i}").alias(f"nm{i}") for i in range(k)],
            F.map_from_entries(
                F.when(F.size(entries) > 0, entries)
            ).alias("cand_map"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        state_masks = [state[f"mask{i}"] for i in range(k)]
        new_masks = _new_masks(state, combined, k)
        # my_tent = mex over the PRE-union state masks (what this
        # round's bid message carried)
        my_tent = _mex_over(state_masks, k)
        # lag guard, chunk-resolved: the bid is dead if its bit just
        # arrived from a last-round winner.  For the first non-full
        # state chunk i the bid bit IS lowbit(state mask_i); test it
        # against the post-union chunk.
        alive: Column = F.lit(False)
        full = F.lit(_full_mask()).cast("long")
        exhausted: Column = F.lit(True)  # all chunks full pre-union
        for i in reversed(range(k)):
            m = state_masks[i]
            lowbit = F.bitwise_not(m).bitwiseAND(m + F.lit(1).cast("long"))
            alive_i = new_masks[i].bitwiseAND(lowbit) == 0
            alive = F.when(m.bitwiseAND(full) != _full_mask(), alive_i) \
                .otherwise(alive)
            exhausted = exhausted & (m.bitwiseAND(full) == _full_mask())
        my = F.struct(state["p"].alias("p"), state["id"].alias("i"))
        nbr = F.element_at(combined["cand_map"], my_tent)
        # A palette-exhausted vertex must WIN its sentinel tent
        # (my_tent = MAX_COLORS*k) unconditionally: assigning it is
        # what trips the saturation halter before the next scatter.
        # Gating it behind `alive` (as pre-fix) silently left such
        # vertices at -1 through the cap — the exact "never answers
        # wrong" contract violation the halter exists to prevent.
        win = (
            (state["color"] == _UNCOLORED)
            & (exhausted | ((nbr.isNull() | (my < nbr)) & alive))
        )
        new_color = (
            F.when(state["color"] != _UNCOLORED, state["color"])
            .when(win, my_tent)
            .otherwise(F.lit(_UNCOLORED))
        )
        return state.join(
            combined, state["id"] == combined["dst"], "left_outer"
        ).select(
            state["id"], state["p"],
            new_color.cast("int").alias("color"),
            *[new_masks[i].alias(f"mask{i}") for i in range(k)],
            win.cast("int").alias("fresh"),
        )

    program = VertexProgram(
        name="coloring_spec",
        init=_init_state(k),
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[
            F.when(F.col("color") == _UNCOLORED,
                   F.expr(_mex_sql(k))).alias("tent"),
            F.when(
                F.col("color") == _UNCOLORED,
                F.struct(F.col("p").alias("p"), F.col("src").alias("i")),
            ).alias("cand"),
            *_cmask_msgs(k),
        ],
        combine_keys=("dst", "tent"),
        combiner={
            "cand_min": ("cand", "min"),
            **{f"cmt{i}": (f"cm{i}", "bit_or") for i in range(k)},
        },
        post_combine=post_combine,
        active_filter=(F.col("color") == _UNCOLORED) | (F.col("fresh") == 1),
        apply=apply,
        aggregators=[
            F.sum((F.col("color") == _UNCOLORED).cast("long")).alias("uncolored"),
            F.max("color").alias("max_color"),
        ],
        halt=_saturation_halter(k),
        finalize=lambda s: s.select("id", "color"),
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )


def jones_plassmann(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    edge_partitions: int | None = None,
    mask_chunks: int = 1,
) -> tuple[DataFrame, PregelRun]:
    """Jones-Plassmann greedy coloring (greedy-order-exact).  Returns
    (colors(id, color), run); color = -1 iff uncolored at the cap."""
    k = mask_chunks

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        # NB: Column.__or__/__and__ are LOGICAL ops in PySpark; the
        # mask arithmetic must use the explicit bitwise methods.
        new_masks = _new_masks(state, combined, k)
        my = F.struct(state["p"].alias("p"), state["id"].alias("i"))
        win = (state["color"] == _UNCOLORED) & (
            combined["cand_min"].isNull() | (my < combined["cand_min"])
        )
        mex = _mex_over(new_masks, k)
        new_color = (
            F.when(state["color"] != _UNCOLORED, state["color"])
            .when(win, mex)
            .otherwise(F.lit(_UNCOLORED))
        )
        return state.join(
            combined, state["id"] == combined["dst"], "left_outer"
        ).select(
            state["id"], state["p"],
            new_color.cast("int").alias("color"),
            *[new_masks[i].alias(f"mask{i}") for i in range(k)],
            win.cast("int").alias("fresh"),
        )

    program = VertexProgram(
        name="coloring",
        init=_init_state(k),
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[
            F.when(
                F.col("color") == _UNCOLORED,
                F.struct(F.col("p").alias("p"), F.col("src").alias("i")),
            ).alias("cand"),
            *_cmask_msgs(k),
        ],
        # SEND-ONCE: a winner scatters its color bit exactly once (the
        # superstep after it wins — `fresh`); uncolored neighbors
        # accumulate bits in their state mask, so by any later win the
        # mask is complete.  Late supersteps therefore scatter only
        # the uncolored frontier + the last round's winners — CC's
        # vote-to-halt economics instead of a whole-graph rebroadcast
        # every round (measured 46s -> frontier-bound on the 1M-edge
        # zipf bench graph).  Final colors are identical to the
        # resend-forever formulation (bits present from win+1 onward
        # either way), so the unrolled oracle is unchanged.
        active_filter=(F.col("color") == _UNCOLORED) | (F.col("fresh") == 1),
        combiner={
            "cand_min": ("cand", "min"),
            **{f"nm{i}": (f"cm{i}", "bit_or") for i in range(k)},
        },
        apply=apply,
        aggregators=[
            F.sum((F.col("color") == _UNCOLORED).cast("long")).alias("uncolored"),
            F.max("color").alias("max_color"),
        ],
        halt=_saturation_halter(k),
        finalize=lambda s: s.select("id", "color"),
        # monotone color/mask lattice: capped == unrolled
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    edge_partitions: int | None = None,
    variant: str = "auto",
    mask_chunks: int = 1,
) -> tuple[DataFrame, PregelRun]:
    """User entry point (r4 verdict task #8).

    - ``variant="auto"`` (default): bounded size probe (scans at most
      SPEC_EDGE_THRESHOLD+1 edge rows) picks the speculative scale
      path for large graphs and exact Jones-Plassmann for small ones;
      on palette saturation the auto path DOUBLES mask_chunks and
      retries (up to MAX_AUTO_CHUNKS) instead of raising.
    - ``variant="jp"`` / ``variant="spec"``: pinned implementation, no
      retry — saturation raises (the oracle-pinned contract).

    The choice is recorded in ``run.params`` (coloring_variant,
    mask_chunks)."""
    if variant == "auto":
        big = (
            edges.limit(SPEC_EDGE_THRESHOLD + 1).count()
            > SPEC_EDGE_THRESHOLD
        )
        impl = "spec" if big else "jp"
    elif variant in ("jp", "spec"):
        impl = variant
    else:
        raise ValueError(f"unknown coloring variant: {variant!r}")

    fn = speculative_coloring if impl == "spec" else jones_plassmann
    k = mask_chunks
    while True:
        try:
            result, run = fn(
                spark, edges,
                max_supersteps=max_supersteps,
                edge_partitions=edge_partitions,
                mask_chunks=k,
            )
            run.params["coloring_variant"] = impl
            run.params["mask_chunks"] = k
            return result, run
        except ColorMaskSaturated:
            if variant != "auto" or k >= MAX_AUTO_CHUNKS:
                raise
            k = min(k * 2, MAX_AUTO_CHUNKS)
