"""Edge extraction: transcripts → weighted actor-interaction edges.

SURVEY.md §2.3 (X1–X6).  Nodes are ``role:<role>`` / ``tool:<tool>``
actor keys; an edge links the actor of turn *i* to the actor of turn
*i+1* within each conversation under stable ``(conv_id, turn_idx)``
ordering (BASELINE.json:6); ``weight`` = interaction count.
Self-loops dropped.  64-bit stable vertex ids via ``xxhash64`` with a
``vertex_names`` dimension table preserving reversibility.

Everything here is a single declarative plan: window LEAD for the
consecutive-turn link (no self-join), groupBy for the weight — Catalyst
pushes the column pruning into the scan, and the window + groupBy both
shuffle on conversation/src keys that a 1000-executor cluster can hash-
partition without a hotspot (conv_id is high-cardinality).

Per-turn invariant (BASELINE.json:15): extraction must not drop,
duplicate, or mutate ``text`` — it only *reads* turns; the invariant
test compares the multiset of (conv_id, turn_idx, text) before/after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mesos_pregel_spark.fixtures import TRANSCRIPT_SCHEMA
from mesos_pregel_spark.plans.truncate import truncate_plan

REQUIRED_COLUMNS = [f.name for f in TRANSCRIPT_SCHEMA.fields]


def validate_transcripts(df: DataFrame) -> DataFrame:
    """X1: fixed-schema scan — fail fast on shape drift, never infer."""
    missing = [c for c in REQUIRED_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"transcript table missing columns: {missing}")
    return df.select(*REQUIRED_COLUMNS)


def actor_col() -> F.Column:
    """X3: actor key per turn — tool turns keyed by tool, else by role."""
    return F.coalesce(
        F.concat(F.lit("tool:"), F.col("tool")),
        F.concat(F.lit("role:"), F.col("role")),
    )


def _linked_pairs(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    actor: F.Column,
    extra_cols: tuple = (),
) -> DataFrame:
    """The shared X2+X4 core: consecutive-row (src_actor, dst_actor)
    pairs within each partition key under a stable order, self-loops
    dropped.  Both builders below aggregate THIS — the pinned null/
    self-loop semantics live in exactly one place."""
    w = Window.partitionBy(partition_col).orderBy(*order_cols)
    return (
        df.select(
            partition_col, *order_cols, *extra_cols,
            actor.alias("src_actor"),
        )
        .withColumn("dst_actor", F.lead("src_actor").over(w))
        .where(F.col("dst_actor").isNotNull())
        .where(F.col("src_actor") != F.col("dst_actor"))
    )


def build_edges_generic(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    actor: F.Column,
) -> DataFrame:
    """X2+X4+X5 for ANY sequence table: consecutive-row actor links
    within each partition key under a stable order, weight = count,
    self-loops dropped.  ``build_edges`` instantiates this for
    transcripts; the driver-oracle queries instantiate it for the
    ``events`` table (user_id-partitioned, (ts, event_id)-ordered
    event_type transitions — FIXTURES.md §3)."""
    return _linked_pairs(df, partition_col, order_cols, actor).groupBy(
        "src_actor", "dst_actor"
    ).agg(F.count(F.lit(1)).cast("double").alias("weight"))


def build_edges_windowed(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    actor: F.Column,
    ts_col: str = "ts",
    window_us: int = 86_400_000_000,
) -> DataFrame:
    """Temporal variant of :func:`build_edges_generic`: each
    consecutive-pair edge is attributed to the tumbling window of its
    SOURCE row, window_idx = epoch-microseconds div window_us — pure
    integer arithmetic on NTZ wall-clock values (the sessionization
    discipline: ``timestampdiff`` from the NTZ epoch equals DuckDB's
    ``epoch_us`` exactly, no session-timezone dependence).  Consecutive
    pairs still link across window boundaries; only the ATTRIBUTION is
    windowed, so the per-window tables sum to the global edge table.

    Output (window_idx, src_actor, dst_actor, weight) — the input to
    time-sliced link analysis (per-day PageRank, community drift).
    Same plan shape as the global builder: one window pass + one hash
    aggregate whose key gains the window index (still map-side
    combinable)."""
    us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        f"{ts_col})"
    )
    linked = _linked_pairs(
        df, partition_col, order_cols, actor,
        extra_cols=(us.alias("_us"),),
    )
    return linked.groupBy(
        F.expr(f"_us div {window_us}").cast("long").alias("window_idx"),
        "src_actor", "dst_actor",
    ).agg(F.count(F.lit(1)).cast("double").alias("weight"))


def window_edge_drift(wedges: DataFrame) -> DataFrame:
    """Structural drift between CALENDAR-consecutive windows of a
    :func:`build_edges_windowed` table: for each pair (w, w+1) both
    present, the Jaccard similarity of their DISTINCT edge sets —
    the day-over-day "how much did the interaction graph change"
    read-out (1.0 = identical wiring, 0.0 = full turnover).

    Exact arithmetic: intersection and per-window sizes are long
    counts from equi-joins/aggregates; union = |A| + |B| − |A∩B|;
    jaccard is ONE rounded division.  Scale shape: one distinct, one
    per-window size aggregate, and a self-equi-join on
    (window_idx+1, src, dst) — all shuffle on compound keys, no
    window functions, no per-window serialization."""
    # lazy plan-truncate: all three consumers below share ONE scan of
    # the windowed build instead of re-deriving the distinct pair
    # table per branch (the summary is |windows|x|edges-per-window|,
    # small by construction)
    pairs = truncate_plan(
        wedges.select("window_idx", "src_actor", "dst_actor").distinct(),
        eager=False,
    )
    sizes = pairs.groupBy("window_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nxt = pairs.select(
        (F.col("window_idx") - 1).alias("window_idx"),
        "src_actor", "dst_actor",
    )
    inter = (
        pairs.join(nxt, ["window_idx", "src_actor", "dst_actor"], "left_semi")
        .groupBy("window_idx")
        .agg(F.count(F.lit(1)).cast("long").alias("intersect_edges"))
    )
    s2 = sizes.select(
        (F.col("window_idx") - 1).alias("window_idx"),
        F.col("n").alias("n_next"),
    )
    return (
        sizes.join(s2, "window_idx")
        .join(inter, "window_idx", "left_outer")
        .select(
            "window_idx",
            (F.col("window_idx") + 1).alias("next_idx"),
            F.coalesce("intersect_edges", F.lit(0)).alias("intersect_edges"),
            (F.col("n") + F.col("n_next")
             - F.coalesce("intersect_edges", F.lit(0))).alias("union_edges"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersect_edges").cast("double")
                / F.col("union_edges").cast("double"), 9),
        )
    )


def window_edge_delta(wedges: DataFrame) -> DataFrame:
    """Edge-level drill-down of :func:`window_edge_drift`: for each
    CALENDAR-consecutive window pair (w, w+1) both present, one row
    per edge in either window with its weight in each and a status —
    ``added`` (only in w+1), ``removed`` (only in w), ``changed``
    (both, different weight), ``stable`` (both, equal weight).

    Exact arithmetic: weights are exact-integer-valued doubles, so
    the equality in ``changed``/``stable`` is exact.  Scale shape: a
    full outer self-equi-join on (window, src, dst) after an
    inner-join restriction to window pairs both present — compound-key
    shuffles only, output bounded by the union of the two windows'
    edge sets."""
    wins = truncate_plan(
        wedges.select("window_idx").distinct(), eager=False
    )
    # pairs (w, w+1) where both windows exist in the data
    wpairs = wins.join(
        wins.select((F.col("window_idx") - 1).alias("window_idx")),
        "window_idx", "left_semi",
    )
    cur = wedges.join(wpairs, "window_idx", "left_semi").select(
        "window_idx", "src_actor", "dst_actor",
        F.col("weight").alias("w_prev"),
    )
    nxt = (
        wedges.select(
            (F.col("window_idx") - 1).alias("window_idx"),
            "src_actor", "dst_actor",
            F.col("weight").alias("w_next"),
        )
        .join(wpairs, "window_idx", "left_semi")
    )
    return (
        cur.join(nxt, ["window_idx", "src_actor", "dst_actor"], "full_outer")
        .select(
            "window_idx",
            (F.col("window_idx") + 1).alias("next_idx"),
            "src_actor", "dst_actor", "w_prev", "w_next",
            F.when(F.col("w_prev").isNull(), F.lit("added"))
            .when(F.col("w_next").isNull(), F.lit("removed"))
            .when(F.col("w_prev") == F.col("w_next"), F.lit("stable"))
            .otherwise(F.lit("changed")).alias("status"),
        )
    )


def window_bursts(wedges: DataFrame, z_threshold: int = 2,
                  min_windows: int = 3) -> DataFrame:
    """Burst detection over a :func:`build_edges_windowed` table: flag
    (window, actor) cells whose out-strength x sits more than
    ``z_threshold`` population standard deviations ABOVE the actor's
    own mean across all its windows — the anomaly read-out of the
    temporal link graph (which actor suddenly spiked).

    Determinism contract: strengths are exact-integer-valued doubles,
    so per-actor n, S = Σx, S2 = Σx² are exact longs and the flag
    condition is PURE INTEGER algebra — x·n − S > 0 AND
    (x·n − S)² > k²·(n·S2 − S²) (the z > k test with both sides
    multiplied by n²·σ²; σ = 0 cells can never pass since x·n = S).
    The reported z = (x·n − S)/sqrt(n·S2 − S²) spends the module's one
    correctly-rounded transcendental on sqrt and rounds to 6dp AFTER —
    rounding can never flip membership, which the integer test decides.

    Scale shape: one hash aggregate to per-(window, actor) strengths,
    one per-actor aggregate joined back (both map-side combinable),
    one codegen filter — no window functions at all."""
    wdeg = truncate_plan(
        wedges.groupBy(
            "window_idx", F.col("src_actor").alias("actor")
        ).agg(F.sum("weight").cast("long").alias("x")),
        eager=False,
    )
    stats = wdeg.groupBy("actor").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    num = F.col("x") * F.col("n") - F.col("s")
    var = F.col("n") * F.col("s2") - F.col("s") * F.col("s")
    k2 = z_threshold * z_threshold
    return (
        wdeg.join(stats, "actor")
        .where(F.col("n") >= min_windows)
        .where((num > 0) & (num * num > k2 * var))
        .select(
            "window_idx", "actor",
            F.col("x").cast("double").alias("out_weight"),
            "n",
            F.round(
                num.cast("double") / F.sqrt(var.cast("double")), 6
            ).alias("z"),
        )
    )


def window_rank_drift(wedges: DataFrame) -> DataFrame:
    """Per-window actor ranking with drift, over a
    :func:`build_edges_windowed` table: each actor's weighted
    out-strength per window, its dense rank within the window
    (heaviest = 1; equal strengths share a rank), and the rank delta
    vs the PREVIOUS window the actor appeared in (NULL on first
    appearance) — the time-sliced "who is rising/falling" read-out.

    Scale shape: the ranking input is the per-(window, actor) SUMMARY
    (one hash aggregate, orders of magnitude smaller than the edge
    table).  Because dense rank depends only on the strength VALUE,
    it is computed on the per-window DISTINCT-strength table (bounded
    by the strength range, heavy-tailed ⇒ tiny) and joined back — no
    per-window sort ever sees the full actor list, so a hot window
    cannot serialize into one task.  The drift LAG partitions by
    actor — maximal parallelism.  Strengths are exact-integer-valued
    doubles (sums of counts), so every comparison and the final
    integer delta are exact."""
    wdeg = truncate_plan(
        wedges.groupBy(
            "window_idx", F.col("src_actor").alias("actor")
        ).agg(F.sum("weight").alias("out_weight")),
        eager=False,
    )
    vals = wdeg.select("window_idx", "out_weight").distinct()
    ranked = vals.withColumn(
        "rnk",
        F.dense_rank().over(
            Window.partitionBy("window_idx").orderBy(F.desc("out_weight"))
        ).cast("long"),
    )
    drift = Window.partitionBy("actor").orderBy("window_idx")
    return (
        wdeg.join(ranked, ["window_idx", "out_weight"])
        .withColumn(
            "rank_delta", F.col("rnk") - F.lag("rnk").over(drift)
        )
        .select("window_idx", "actor", "out_weight", "rnk", "rank_delta")
    )


def build_edges(transcripts: DataFrame) -> DataFrame:
    """X1–X5: transcripts → (src_actor, dst_actor, weight) edge table.

    One window pass (LEAD over (conv_id, turn_idx)) + one aggregation.
    The window shuffles by conv_id (high cardinality — no skew); the
    groupBy shuffles by (src_actor, dst_actor) which is low-cardinality
    but benefits from Spark's map-side partial aggregation: each task
    emits at most |actors|² rows regardless of input size, so the final
    shuffle is tiny even at 10^12 turns.
    """
    t = validate_transcripts(transcripts)
    return build_edges_generic(t, "conv_id", ["turn_idx"], actor_col())


def vertex_names(edges_by_actor: DataFrame) -> DataFrame:
    """X6 (dimension): distinct actor keys with their stable 64-bit ids."""
    actors = (
        edges_by_actor.select(F.col("src_actor").alias("actor"))
        .unionByName(edges_by_actor.select(F.col("dst_actor").alias("actor")))
        .distinct()
    )
    return actors.select(
        F.xxhash64("actor").alias("id"), F.col("actor").alias("name")
    )


def edges_with_ids(edges_by_actor: DataFrame) -> DataFrame:
    """X6: (src, dst, weight) with stable 64-bit xxhash64 vertex ids.

    Hashing is a pure projection — cluster-size independent, no shuffle,
    no dictionary build; reversibility lives in ``vertex_names``.
    """
    return edges_by_actor.select(
        F.xxhash64("src_actor").alias("src"),
        F.xxhash64("dst_actor").alias("dst"),
        F.col("weight"),
    )


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: union both directions, re-aggregate weights,
    drop self-loops.  Used by CC / LPA / triangle count (SURVEY §2.2)."""
    src, dst = edges.columns[0], edges.columns[1]
    both = edges.unionByName(
        edges.select(
            F.col(dst).alias(src), F.col(src).alias(dst), F.col("weight")
        )
    )
    return (
        both.where(F.col(src) != F.col(dst))
        .groupBy(src, dst)
        .agg(F.sum("weight").alias("weight"))
    )
