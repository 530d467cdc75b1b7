"""Driver-contract queries (SURVEY §3.3, §7.3).

Each entry runs an engine operator over the driver's testdata views
and has a DuckDB-oracle SQL twin with IDENTICAL column names/types.
The graph substrate is the ``events`` table — the structural analogue
of transcript turns (user_id ↔ conv_id, (ts, event_id) ↔ turn_idx,
event_type ↔ actor) — plus ``orders ⋈ lineitem`` for the bipartite
relational feed (FIXTURES.md §3).

Floating-point columns computed by BOTH engines are rounded to 9
decimal places on both sides: the driver hash-compares values, and
sum-order differences between Spark and DuckDB live at ~1e-16 —
far below the rounding grain, so the hashes agree.

Vertex identity note (SURVEY §2.3 X6): these oracle queries keep
STRING actor keys — DuckDB has no xxhash64, so id assignment is
checked separately (tests/test_edges.py) and everything here is keyed
by actor name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.cc import connected_components
from mesos_pregel_spark.algos.lpa import label_propagation
from mesos_pregel_spark.algos.pagerank import pagerank
from mesos_pregel_spark.algos.sssp import shortest_paths
from mesos_pregel_spark.algos.triangles import triangle_count
from mesos_pregel_spark.functions.edges import (
    build_edges_generic,
    symmetrize,
)

# ---------------------------------------------------------------------------
# shared substrates
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def events_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition edges over the events table: consecutive events of a
    user (ordered by ts, event_id) link their event_type actors."""
    return build_edges_generic(
        _events(spark, sf_dir), "user_id", ["ts", "event_id"], F.col("event_type")
    )


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_edges renamed to engine (src, dst, weight) columns."""
    return events_edges(spark, sf_dir).select(
        F.col("src_actor").alias("src"),
        F.col("dst_actor").alias("dst"),
        "weight",
    )


# The same substrate as a DuckDB CTE prefix.  NOTE: declared with
# WITH RECURSIVE so queries appending a recursive member can reuse it.
_SQL_EDGES = """
WITH RECURSIVE seq AS (
  SELECT user_id, event_type AS src_actor,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst_actor
  FROM events
),
edges AS (
  SELECT src_actor, dst_actor, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
  GROUP BY src_actor, dst_actor
),
verts AS (
  SELECT DISTINCT a AS actor FROM (
    SELECT src_actor AS a FROM edges
    UNION ALL SELECT dst_actor FROM edges)
),
symw AS (
  SELECT s, d, SUM(w) AS weight FROM (
    SELECT src_actor AS s, dst_actor AS d, weight AS w FROM edges
    UNION ALL SELECT dst_actor, src_actor, weight FROM edges) u
  GROUP BY s, d
)
"""


# ---------------------------------------------------------------------------
# X-queries: extraction + degrees (SURVEY §2.3)
# ---------------------------------------------------------------------------


def q_edge_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_edges(spark, sf_dir)


SQL_EDGE_EXTRACT = _SQL_EDGES + "SELECT src_actor, dst_actor, weight FROM edges"


def q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = events_edges(spark, sf_dir)
    out = e.groupBy(F.col("src_actor").alias("actor")).agg(
        F.count(F.lit(1)).alias("outdeg"), F.sum("weight").alias("out_weight")
    )
    inn = e.groupBy(F.col("dst_actor").alias("actor")).agg(
        F.count(F.lit(1)).alias("indeg"), F.sum("weight").alias("in_weight")
    )
    return out.join(inn, "actor", "full_outer").select(
        "actor",
        F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        F.coalesce("out_weight", F.lit(0.0)).alias("out_weight"),
        F.coalesce("indeg", F.lit(0)).alias("indeg"),
        F.coalesce("in_weight", F.lit(0.0)).alias("in_weight"),
    )


SQL_DEGREES = _SQL_EDGES + """
, o AS (SELECT src_actor AS actor, COUNT(*) AS outdeg, SUM(weight) AS out_weight
        FROM edges GROUP BY src_actor),
  i AS (SELECT dst_actor AS actor, COUNT(*) AS indeg, SUM(weight) AS in_weight
        FROM edges GROUP BY dst_actor)
SELECT COALESCE(o.actor, i.actor) AS actor,
       COALESCE(outdeg, 0) AS outdeg,
       COALESCE(out_weight, 0.0) AS out_weight,
       COALESCE(indeg, 0) AS indeg,
       COALESCE(in_weight, 0.0) AS in_weight
FROM o FULL OUTER JOIN i ON o.actor = i.actor
"""


# ---------------------------------------------------------------------------
# P/A-queries: superstep + algorithm parity (SURVEY §2.1–2.2)
# ---------------------------------------------------------------------------


def _pr_query(n_steps: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        ranks, _run = pagerank(
            spark, _graph_edges(spark, sf_dir), tol=0.0, max_supersteps=n_steps,
            edge_partitions=8,
        )
        return ranks.select(
            F.col("id").alias("actor"), F.round("pagerank", 9).alias("pagerank")
        )
    return q


_SQL_PR_PRELUDE = _SQL_EDGES + """
, n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src_actor, COUNT(*) AS od FROM edges GROUP BY src_actor),
pr1 AS (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM((1.0/(SELECT n FROM n))/od.od) AS s
    FROM edges e JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)
"""

SQL_PAGERANK_STEP = _SQL_PR_PRELUDE + \
    "SELECT actor, ROUND(pr, 9) AS pagerank FROM pr1"

SQL_PAGERANK_STEP2 = _SQL_PR_PRELUDE + """
, pr2 AS (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN pr1 p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)
SELECT actor, ROUND(pr, 9) AS pagerank FROM pr2
"""


def q_pagerank_weighted_step2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-step weighted PageRank: rank flows proportionally to the
    interaction-count edge weights instead of uniformly."""
    ranks, _run = pagerank(
        spark, _graph_edges(spark, sf_dir), tol=0.0, max_supersteps=2,
        edge_partitions=8, weighted=True,
    )
    return ranks.select(
        F.col("id").alias("actor"), F.round("pagerank", 9).alias("pagerank")
    )


SQL_PAGERANK_WEIGHTED_STEP2 = _SQL_EDGES + """
, n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
wd AS (SELECT src_actor, SUM(weight) AS w FROM edges GROUP BY src_actor),
wp1 AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor,
           SUM((1.0/(SELECT n FROM n)) * e.weight / wd.w) AS s
    FROM edges e JOIN wd ON e.src_actor = wd.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
),
wp2 AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr * e.weight / wd.w) AS s
    FROM edges e
    JOIN wp1 p ON e.src_actor = p.actor
    JOIN wd ON e.src_actor = wd.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)
SELECT actor, ROUND(pr, 9) AS pagerank FROM wp2
"""


def _sql_pagerank_steps(steps: int) -> str:
    """k-step unrolled PageRank oracle — MATERIALIZED CTE per superstep
    (the SSSP oracle's technique; keeps DuckDB cost linear in steps).
    Closes the oracle gap for multi-superstep behavior that single-step
    queries can't see (frontier bookkeeping, repeated damping)."""
    parts = ["""
, n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src_actor, COUNT(*) AS od FROM edges GROUP BY src_actor),
pr0 AS MATERIALIZED (
  SELECT actor, 1.0/(SELECT n FROM n) AS pr FROM verts
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
pr{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN pr{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)""")
    parts.append(f"""
SELECT actor, ROUND(pr, 9) AS pagerank FROM pr{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_PAGERANK_STEP8 = _sql_pagerank_steps(8)


def _sql_ppr_steps(steps: int) -> str:
    """k-step unrolled personalized PageRank from the smallest actor:
    teleport vector e concentrated on the source instead of uniform."""
    parts = ["""
, od AS (SELECT src_actor, COUNT(*) AS od FROM edges GROUP BY src_actor),
pprsrc AS (SELECT MIN(actor) AS s FROM verts),
ev AS MATERIALIZED (
  SELECT actor,
         CASE WHEN actor = (SELECT s FROM pprsrc) THEN 1.0 ELSE 0.0 END AS e
  FROM verts
),
pp0 AS MATERIALIZED (SELECT actor, e AS pr FROM ev)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
pp{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15*v.e + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM ev v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN pp{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)""")
    parts.append(f"""
SELECT actor, ROUND(pr, 9) AS ppr FROM pp{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_PPR_STEP4 = _sql_ppr_steps(4)


def q_ppr_step4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mesos_pregel_spark.algos.ppr import personalized_pagerank

    e = _graph_edges(spark, sf_dir)
    # Source = MIN over the FULL vertex set (src ∪ dst) — the same set
    # the oracle's pprsrc draws from (MIN(actor) over verts).  MIN over
    # src alone would diverge if the smallest actor only ever appears
    # as a destination.
    source = e.agg(F.least(F.min("src"), F.min("dst"))).collect()[0][0]
    ranks, _run = personalized_pagerank(
        spark, e, [source], tol=0.0, max_supersteps=4, edge_partitions=8
    )
    return ranks.select(
        F.col("id").alias("actor"), F.round("ppr", 9).alias("ppr")
    )


def _lpa_cte(steps: int) -> str:
    """The k-step unrolled sync-LPA CTE chain (no final SELECT):
    per step, per-(dst, label) weight sums over the symmetric edges,
    argmax with the pinned smallest-label tie-break, keep-own-label
    when no messages.  Final labels live in CTE ``l{steps}``."""
    parts = ["""
, l0 AS MATERIALIZED (
  SELECT s AS actor, s AS label FROM (SELECT DISTINCT s FROM symw)
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
win{k} AS MATERIALIZED (
  SELECT actor, label FROM (
    SELECT s.d AS actor, p.label AS label,
           ROW_NUMBER() OVER (
             PARTITION BY s.d
             ORDER BY SUM(s.weight) DESC, p.label ASC) AS rn
    FROM symw s JOIN l{k-1} p ON s.s = p.actor
    GROUP BY s.d, p.label)
  WHERE rn = 1
),
l{k} AS MATERIALIZED (
  SELECT p.actor, COALESCE(w.label, p.label) AS label
  FROM l{k-1} p LEFT JOIN win{k} w ON w.actor = p.actor
)""")
    return "".join(parts)


def _sql_lpa_steps(steps: int) -> str:
    return _SQL_EDGES + _lpa_cte(steps) + f"""
SELECT actor, label FROM l{steps}
"""


SQL_LPA_STEP3 = _sql_lpa_steps(3)

# lpa_full runs bounded sync-LPA (20 supersteps, early-halt when no
# label changes).  The 20-step unroll is EXACT either way: if the
# engine halted early at a fixpoint, later oracle steps change
# nothing; if it oscillated to the cap, both sides stop at step 20.
SQL_LPA_FULL = _sql_lpa_steps(20)


def _lpa_query(n_steps: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        labels, _run = label_propagation(
            spark, _graph_edges(spark, sf_dir), max_supersteps=n_steps,
            edge_partitions=8,
        )
        return labels.select(F.col("id").alias("actor"), "label")
    return q


def q_pagerank_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PageRank to 1e-6 convergence on the events actor graph.
    Exact-checked since round 3: the oracle (SQL_PAGERANK_FULL) unrolls
    the directed-graph power iteration WITH the halting rule — it
    selects the state at the first step whose max |Δpr| < tol, exactly
    pagerank_conv's technique — so values AND stopping step must
    agree."""
    ranks, _run = pagerank(
        spark, _graph_edges(spark, sf_dir), tol=1e-6, max_supersteps=120,
        edge_partitions=8,
    )
    return ranks.select(
        F.col("id").alias("actor"), F.round("pagerank", 9).alias("pagerank")
    )


def _sql_pagerank_full(steps: int = 120, tol: float = 1e-6) -> str:
    """Unrolled-with-halting PageRank oracle on the DIRECTED events
    actor graph: the per-step CTEs of _sql_pagerank_steps plus
    per-step max-delta scalars and first-step-below-tol selection
    (the SQL_PAGERANK_CONV pattern ported to the events substrate —
    closes the last graph-side rows-only gap).

    The shared substrate CTEs are re-declared MATERIALIZED here:
    DuckDB inlines plain CTEs, so without this every one of the
    ``steps`` step-CTEs would re-run the events LEAD-window scan
    (measured 102s -> seconds at sf0.001)."""
    parts = ["""
, edg AS MATERIALIZED (SELECT src_actor, dst_actor FROM edges),
vm AS MATERIALIZED (SELECT actor FROM verts),
n AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM vm),
od AS MATERIALIZED (
  SELECT src_actor, COUNT(*) AS od FROM edg GROUP BY src_actor),
pr0 AS MATERIALIZED (
  SELECT actor, 1.0/(SELECT n FROM n) AS pr FROM vm
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
pr{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM vm v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edg e
    JOIN pr{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
),
md{k} AS MATERIALIZED (
  SELECT MAX(ABS(a.pr - b.pr)) AS d
  FROM pr{k} a JOIN pr{k-1} b ON a.actor = b.actor
)""")
    vals = ", ".join(f"({k}, (SELECT d FROM md{k}))" for k in range(1, steps + 1))
    unions = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, actor, pr FROM pr{k}" for k in range(1, steps + 1)
    )
    parts.append(f""",
ks AS (SELECT * FROM (VALUES {vals}) t(k, d)),
firstk AS (SELECT COALESCE(MIN(k), {steps}) AS k FROM ks WHERE d < {tol}),
allsteps AS (
  {unions}
)
SELECT actor, ROUND(pr, 9) AS pagerank
FROM allsteps WHERE k = (SELECT k FROM firstk)
""")
    return _SQL_EDGES + "".join(parts)


SQL_PAGERANK_FULL = _sql_pagerank_full()


def q_lpa_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sync-LPA (20 supersteps).  Exact-checked against the
    20-step unrolled DuckDB oracle (SQL_LPA_FULL) — equal whether the
    engine early-halts at a fixpoint or runs to the cap."""
    labels, _run = label_propagation(
        spark, _graph_edges(spark, sf_dir), max_supersteps=20, edge_partitions=8
    )
    return labels.select(F.col("id").alias("actor"), "label")


def q_cc_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = symmetrize(events_edges(spark, sf_dir))
    verts = sym.select(F.col("src_actor").alias("actor")).distinct()
    mins = sym.groupBy(F.col("dst_actor").alias("actor")).agg(
        F.min("src_actor").alias("m")
    )
    return verts.join(mins, "actor", "left_outer").select(
        "actor", F.least("actor", F.coalesce("m", "actor")).alias("component")
    )


SQL_CC_STEP = _SQL_EDGES + """
, m AS (SELECT d AS actor, MIN(s) AS m FROM symw GROUP BY d)
SELECT v.actor, LEAST(v.actor, COALESCE(m.m, v.actor)) AS component
FROM (SELECT DISTINCT s AS actor FROM symw) v
LEFT JOIN m ON v.actor = m.actor
"""


def q_cc_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps, _run = connected_components(
        spark, _graph_edges(spark, sf_dir), edge_partitions=8
    )
    return comps.select(F.col("id").alias("actor"), "component")


SQL_CC_FULL = _SQL_EDGES + """
, reach AS (
  SELECT s AS actor, s AS c FROM symw
  UNION
  SELECT sym.d AS actor, r.c
  FROM reach r JOIN symw sym ON sym.s = r.actor
)
SELECT actor, MIN(c) AS component FROM reach GROUP BY actor
"""


def q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Giant-component profile over the engine's own CC labelling —
    one aggregate + one broadcast division on top of cc_full."""
    from mesos_pregel_spark.algos.cc import component_sizes, connected_components

    comps, _run = connected_components(
        spark, _graph_edges(spark, sf_dir), edge_partitions=8
    )
    return component_sizes(comps)


SQL_COMPONENT_SIZES = _SQL_EDGES + """
, reach AS (
  SELECT s AS actor, s AS c FROM symw
  UNION
  SELECT sym.d AS actor, r.c
  FROM reach r JOIN symw sym ON sym.s = r.actor
),
comp AS (SELECT actor, MIN(c) AS component FROM reach GROUP BY actor),
sizes AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS n_vertices
  FROM comp GROUP BY component
),
tot AS (SELECT CAST(SUM(n_vertices) AS BIGINT) AS n FROM sizes)
SELECT s.component, s.n_vertices,
       ROUND(CAST(s.n_vertices AS DOUBLE) / CAST(t.n AS DOUBLE), 9) AS share
FROM sizes s CROSS JOIN tot t
"""


def q_cc_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointer-jumping CC kernel — same component-minimum labels as
    hash-min, O(log diameter) rounds; shares cc_full's recursive-CTE
    oracle because the two kernels are result-identical."""
    from mesos_pregel_spark.algos.cc import connected_components_jump

    comps, _run = connected_components_jump(
        spark, _graph_edges(spark, sf_dir), edge_partitions=8
    )
    return comps.select(F.col("id").alias("actor"), "component")


def q_lpa_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels, _run = label_propagation(
        spark, _graph_edges(spark, sf_dir), max_supersteps=1, edge_partitions=8
    )
    return labels.select(F.col("id").alias("actor"), "label")


SQL_LPA_STEP = _SQL_EDGES + """
, ranked AS (
  SELECT d AS actor, s AS label,
         ROW_NUMBER() OVER (
           PARTITION BY d ORDER BY weight DESC, s ASC) AS rn
  FROM symw
)
SELECT actor, label FROM ranked WHERE rn = 1
"""


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SSSP from the lexicographically smallest source actor.
    Weights are integer interaction counts, so distances are exact;
    the oracle is a 30-step unrolled Bellman-Ford — comfortably above
    any plausible hop depth of the events actor graph at every sf
    (MATERIALIZED CTEs keep oracle cost linear in steps), while the
    engine runs to full fixpoint."""
    e = _graph_edges(spark, sf_dir)
    source = e.agg(F.min("src")).collect()[0][0]
    dists, _run = shortest_paths(spark, e, source, edge_partitions=8)
    return dists.select(
        F.col("id").alias("actor"), F.round("distance", 9).alias("distance")
    )


def _sql_sssp(steps: int = 30) -> str:
    inf = "1e18"
    # NB: every d{k} is MATERIALIZED — it is referenced twice by
    # d{k+1}, and DuckDB inlines CTEs by default, which would make the
    # unrolled chain exponential (2^steps evaluations of the base).
    parts = [f"""
, srcv AS (SELECT MIN(src_actor) AS s FROM edges),
d0 AS MATERIALIZED (
  SELECT actor,
         CASE WHEN actor = (SELECT s FROM srcv) THEN 0.0 ELSE {inf} END AS dist
  FROM verts
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
d{k} AS MATERIALIZED (
  SELECT p.actor, LEAST(p.dist, COALESCE(m.md, {inf})) AS dist
  FROM d{k-1} p LEFT JOIN (
    SELECT e.dst_actor AS actor, MIN(pp.dist + e.weight) AS md
    FROM d{k-1} pp JOIN edges e ON e.src_actor = pp.actor
    WHERE pp.dist < 1e17 GROUP BY e.dst_actor) m
  ON m.actor = p.actor
)""")
    parts.append(f"""
SELECT actor,
       CASE WHEN dist >= 1e17 THEN NULL ELSE ROUND(dist, 9) END AS distance
FROM d{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_SSSP = _sql_sssp()


def _bip_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer↔supplier graph with disambiguating key
    prefixes — the non-trivial power-iteration substrate (the events
    actor graph is a near-clique whose PageRank fixes in one step)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return e.unionByName(
        e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def q_pagerank_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank run TO CONVERGENCE (tol=1e-6, ~57-71 supersteps at the
    driver's scale factors) on the symmetrized bipartite graph — the
    full-fixpoint driver check the step-k queries can't give.  The
    oracle unrolls 100 steps AND reproduces the halting rule: it
    selects the state at the first step whose max |Δpr| < tol, so the
    two engines must agree on both the values and the stopping step."""
    ranks, _run = pagerank(
        spark, _bip_sym_edges(spark, sf_dir), tol=1e-6, max_supersteps=100,
        edge_partitions=8,
    )
    return ranks.select(
        F.col("id").alias("actor"), F.round("pagerank", 9).alias("pagerank")
    )


def _sql_pagerank_conv(steps: int = 100, tol: float = 1e-6) -> str:
    """Unrolled-with-halting PageRank oracle: p1..p{steps} MATERIALIZED,
    per-step max-delta scalars, result = state at the first step below
    ``tol`` (or the cap — same as the engine's superstep cap)."""
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
verts AS (SELECT DISTINCT s AS actor FROM sym),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT s, COUNT(*) AS od FROM sym GROUP BY s),
p0 AS MATERIALIZED (SELECT actor, 1.0/(SELECT n FROM n) AS pr FROM verts)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
p{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.m, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT sym.d AS actor, SUM(p.pr/od.od) AS m
    FROM sym JOIN p{k-1} p ON sym.s = p.actor
    JOIN od ON sym.s = od.s
    GROUP BY sym.d) c
  ON v.actor = c.actor
),
md{k} AS MATERIALIZED (
  SELECT MAX(ABS(a.pr - b.pr)) AS d
  FROM p{k} a JOIN p{k-1} b ON a.actor = b.actor
)""")
    vals = ", ".join(f"({k}, (SELECT d FROM md{k}))" for k in range(1, steps + 1))
    unions = "\n  UNION ALL ".join(
        f"SELECT {k} AS k, actor, pr FROM p{k}" for k in range(1, steps + 1)
    )
    parts.append(f""",
ks AS (SELECT * FROM (VALUES {vals}) t(k, d)),
firstk AS (SELECT COALESCE(MIN(k), {steps}) AS k FROM ks WHERE d < {tol}),
allsteps AS (
  {unions}
)
SELECT actor, ROUND(pr, 9) AS pagerank
FROM allsteps WHERE k = (SELECT k FROM firstk)
""")
    return "".join(parts)


SQL_PAGERANK_CONV = _sql_pagerank_conv()


def q_hits_step4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-superstep HITS on the events actor graph (bounded-iteration
    semantics; the oracle unrolls the same 4 normalize-before-use
    steps and the final L2 normalization)."""
    from mesos_pregel_spark.algos.hits import hits

    scores, _run = hits(
        spark, _graph_edges(spark, sf_dir), tol=0.0, max_supersteps=4,
        edge_partitions=8,
    )
    return scores.select(
        F.col("id").alias("actor"),
        F.round("authority", 9).alias("authority"),
        F.round("hub", 9).alias("hub"),
    )


def _sql_hits_steps(steps: int) -> str:
    """k-step unrolled HITS oracle: per step, auth sums of hub over
    forward edges / hub sums of auth over reversed edges, each divided
    by the previous vector's L2 norm (normalize-before-use — exactly
    algos/hits.py), then one final L2 normalization."""
    parts = ["""
, h0 AS MATERIALIZED (SELECT actor, 1.0 AS auth, 1.0 AS hub FROM verts)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
nn{k} AS (
  SELECT SQRT(GREATEST(SUM(auth*auth), 1e-300)) AS na,
         SQRT(GREATEST(SUM(hub*hub), 1e-300)) AS nh
  FROM h{k-1}
),
h{k} AS MATERIALIZED (
  SELECT v.actor,
         COALESCE(am.s, 0.0) / (SELECT nh FROM nn{k}) AS auth,
         COALESCE(hm.s, 0.0) / (SELECT na FROM nn{k}) AS hub
  FROM verts v
  LEFT JOIN (SELECT e.dst_actor AS actor, SUM(p.hub) AS s
             FROM edges e JOIN h{k-1} p ON e.src_actor = p.actor
             GROUP BY e.dst_actor) am ON am.actor = v.actor
  LEFT JOIN (SELECT e.src_actor AS actor, SUM(p.auth) AS s
             FROM edges e JOIN h{k-1} p ON e.dst_actor = p.actor
             GROUP BY e.src_actor) hm ON hm.actor = v.actor
)""")
    parts.append(f""",
fn AS (
  SELECT SQRT(GREATEST(SUM(auth*auth), 1e-300)) AS na,
         SQRT(GREATEST(SUM(hub*hub), 1e-300)) AS nh
  FROM h{steps}
)
SELECT actor,
       ROUND(auth / (SELECT na FROM fn), 9) AS authority,
       ROUND(hub / (SELECT nh FROM fn), 9) AS hub
FROM h{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_HITS_STEP4 = _sql_hits_steps(4)

def q_salsa_step4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step SALSA on the events actor graph (bounded-iteration
    Jacobi; the oracle unrolls the same 4 degree-normalized steps —
    algos/salsa.py)."""
    from mesos_pregel_spark.algos.salsa import salsa

    scores, _run = salsa(
        spark, _graph_edges(spark, sf_dir), max_supersteps=4,
        edge_partitions=8,
    )
    return scores.select(
        F.col("id").alias("actor"),
        F.round("authority", 9).alias("authority"),
        F.round("hub", 9).alias("hub"),
    )


def _sql_salsa_steps(steps: int) -> str:
    """k-step unrolled SALSA oracle: auth sums hub/outdeg over forward
    edges, hub sums auth/indeg over reversed edges — exactly
    algos/salsa.py; no per-step normalization (row-stochastic)."""
    parts = ["""
, sed AS MATERIALIZED (SELECT DISTINCT src_actor AS s, dst_actor AS d FROM edges),
sdeg AS MATERIALIZED (
  SELECT v.actor,
         COALESCE(o.c, 0) AS outdeg, COALESCE(i.c, 0) AS indeg
  FROM verts v
  LEFT JOIN (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM sed GROUP BY s) o
    ON o.s = v.actor
  LEFT JOIN (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM sed GROUP BY d) i
    ON i.d = v.actor),
s0 AS MATERIALIZED (SELECT actor, 1.0 AS auth, 1.0 AS hub FROM verts)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
s{k} AS MATERIALIZED (
  SELECT v.actor,
         COALESCE(am.x, 0.0) AS auth,
         COALESCE(hm.x, 0.0) AS hub
  FROM verts v
  LEFT JOIN (SELECT e.d AS actor, SUM(p.hub / dg.outdeg) AS x
             FROM sed e JOIN s{k-1} p ON e.s = p.actor
             JOIN sdeg dg ON dg.actor = e.s
             GROUP BY e.d) am ON am.actor = v.actor
  LEFT JOIN (SELECT e.s AS actor, SUM(p.auth / dg.indeg) AS x
             FROM sed e JOIN s{k-1} p ON e.d = p.actor
             JOIN sdeg dg ON dg.actor = e.d
             GROUP BY e.s) hm ON hm.actor = v.actor
)""")
    parts.append(f"""
SELECT actor, ROUND(auth, 9) AS authority, ROUND(hub, 9) AS hub FROM s{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_SALSA_STEP4 = _sql_salsa_steps(4)


# k-core on the bipartite customer↔supplier graph (the events actor
# graph is a near-clique at every sf — nothing to peel); k=10 peels a
# non-trivial margin at sf0.001 AND sf0.01 (inspected: 129/160 and
# 1590/1600 in-core).  Peeling is monotone, so engine-at-cap ==
# oracle-at-same-unroll exactly (see algos/kcore.py docstring).
_KCORE_K = 10
_KCORE_STEPS = 12


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mesos_pregel_spark.algos.kcore import k_core

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    membership, _run = k_core(
        spark, e, k=_KCORE_K, max_supersteps=_KCORE_STEPS, edge_partitions=8
    )
    return membership.select(
        F.col("id").alias("actor"), F.col("in_core").cast("long").alias("in_core")
    )


def _sql_kcore(k: int = _KCORE_K, steps: int = _KCORE_STEPS) -> str:
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
a0 AS MATERIALIZED (SELECT DISTINCT s AS actor, TRUE AS alive FROM sym)"""]
    for i in range(1, steps + 1):
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT p.actor, (p.alive AND COALESCE(dg.c, 0) >= {k}) AS alive
  FROM a{i-1} p LEFT JOIN (
    SELECT sym.d AS actor, COUNT(*) AS c
    FROM sym JOIN a{i-1} q ON q.actor = sym.s AND q.alive
    GROUP BY sym.d) dg ON dg.actor = p.actor
)""")
    parts.append(f"""
SELECT actor, CAST(alive AS BIGINT) AS in_core FROM a{steps}
""")
    return "".join(parts)


SQL_KCORE = _sql_kcore()


def q_onion_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peeling layers of the fixed-k core decomposition on the same
    customer↔supplier substrate as `kcore` (algos/kcore.py::
    onion_layers — layer = peel round that removed the vertex,
    0 = survived into the k-core)."""
    from mesos_pregel_spark.algos.kcore import onion_layers

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    layers, _run = onion_layers(
        spark, e, k=_KCORE_K, max_supersteps=_KCORE_STEPS, edge_partitions=8
    )
    return layers.select(F.col("id").alias("actor"), "layer")


def _sql_onion(k: int = _KCORE_K, steps: int = _KCORE_STEPS) -> str:
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
o0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, TRUE AS alive, CAST(0 AS BIGINT) AS layer
  FROM sym
)"""]
    for i in range(1, steps + 1):
        parts.append(f""",
o{i} AS MATERIALIZED (
  SELECT p.actor,
         (p.alive AND COALESCE(dg.c, 0) >= {k}) AS alive,
         CASE WHEN p.alive AND COALESCE(dg.c, 0) < {k}
              THEN CAST({i} AS BIGINT) ELSE p.layer END AS layer
  FROM o{i-1} p LEFT JOIN (
    SELECT sym.d AS actor, COUNT(*) AS c
    FROM sym JOIN o{i-1} q ON q.actor = sym.s AND q.alive
    GROUP BY sym.d) dg ON dg.actor = p.actor
)""")
    parts.append(f"""
SELECT actor, layer FROM o{steps}
""")
    return "".join(parts)


SQL_ONION_LAYERS = _sql_onion()


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (coloring algorithm) on the
    directed events actor graph; labels = SCC-minimum actor."""
    from mesos_pregel_spark.algos.scc import strongly_connected_components

    labels, _run = strongly_connected_components(
        spark, _graph_edges(spark, sf_dir), edge_partitions=8
    )
    return labels.select(F.col("id").alias("actor"), "scc")


# Pairwise-reachability oracle: v's SCC = MIN u with reach(v,u) AND
# reach(u,v).  Quadratic — fine at driver scale (the events actor set
# is tiny); the engine path is the scalable one.
SQL_SCC = _SQL_EDGES + """
, reach AS (
  SELECT actor AS a, actor AS b FROM verts
  UNION
  SELECT r.a, e.dst_actor AS b FROM reach r JOIN edges e ON e.src_actor = r.b
)
SELECT r1.a AS actor, MIN(r1.b) AS scc
FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
GROUP BY r1.a
"""


def q_condensation_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC condensation of the events actor graph with longest-path
    levels (algos/condense.py): one row per component —
    (comp, n_vertices, level), level = DAG depth reached."""
    from mesos_pregel_spark.algos.condense import condensation_levels

    out, _run = condensation_levels(
        spark, _graph_edges(spark, sf_dir), edge_partitions=8
    )
    return out


# the twin chains TWO recursive members in one WITH RECURSIVE: the SCC
# closure (reach, as in SQL_SCC) and the level recursion (lv), whose
# UNION dedups (comp, lvl) pairs so it terminates on the acyclic
# condensation at depth(DAG) iterations
SQL_CONDENSATION_LEVELS = _SQL_EDGES + """
, reach AS (
  SELECT actor AS a, actor AS b FROM verts
  UNION
  SELECT r.a, e.dst_actor AS b FROM reach r JOIN edges e ON e.src_actor = r.b
),
scc AS (
  SELECT r1.a AS actor, MIN(r1.b) AS comp
  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
  GROUP BY r1.a
),
comps AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_vertices
          FROM scc GROUP BY comp),
cedges AS (
  SELECT DISTINCT s1.comp AS src, s2.comp AS dst
  FROM (SELECT DISTINCT src_actor, dst_actor FROM edges) de
  JOIN scc s1 ON s1.actor = de.src_actor
  JOIN scc s2 ON s2.actor = de.dst_actor
  WHERE s1.comp <> s2.comp
),
lv AS (
  SELECT comp, CAST(0 AS BIGINT) AS lvl FROM comps
  UNION
  SELECT ce.dst, lv.lvl + 1 FROM lv JOIN cedges ce ON ce.src = lv.comp
)
SELECT c.comp, c.n_vertices, CAST(MAX(l.lvl) AS BIGINT) AS level
FROM comps c JOIN lv l ON l.comp = c.comp
GROUP BY c.comp, c.n_vertices
"""


DAG_LEVELS_CAP = 12


def q_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path levels on the parts co-occurrence DAG (edges
    oriented low→high part key, so the graph is acyclic by
    construction and the SCC pass yields singletons).  The DAG is
    dense enough that its true depth is near-Hamiltonian, so the run
    is CAPPED: k supersteps of monotone max-propagation compute
    exactly min(level, k) per vertex (pinned by
    tests/test_condense.py::test_superstep_cap_truncates_levels_exactly),
    which the twin mirrors by bounding the level recursion."""
    from mesos_pregel_spark.algos.condense import dag_levels

    e = _parts_edges(spark, sf_dir).select("src", "dst")
    out, _run = dag_levels(
        spark, e, max_supersteps=DAG_LEVELS_CAP, edge_partitions=8
    )
    return out.select(
        F.col("comp").cast("long").alias("part"), "n_vertices", "level"
    )


SQL_DAG_LEVELS = f"""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
dedges AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
verts AS (SELECT DISTINCT v FROM (
  SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges)),
lv AS (
  SELECT v AS comp, CAST(0 AS BIGINT) AS lvl FROM verts
  UNION
  SELECT d.dst, lv.lvl + 1
  FROM lv JOIN dedges d ON d.src = lv.comp
  WHERE lv.lvl < {DAG_LEVELS_CAP}
)
SELECT CAST(comp AS BIGINT) AS part,
       CAST(1 AS BIGINT) AS n_vertices,
       CAST(MAX(lvl) AS BIGINT) AS level
FROM lv GROUP BY comp
"""


_SCORE_S = 85.0
_SCORE_STEPS = 6


def q_s_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strength-core peel (Eidsaa-Almaas s-core) on the WEIGHTED
    parts graph at s=85, a near-critical threshold where the cascade
    genuinely runs multiple rounds — pinned to 6 BOUNDED peel rounds
    (monotone peel: capped ≡ unrolled, the kcore/onion discipline;
    the fixpoint at this threshold is hundreds of rounds away, which
    neither engine should pay)."""
    from mesos_pregel_spark.algos.kcore import s_core

    out, _run = s_core(
        spark, _parts_edges(spark, sf_dir), s=_SCORE_S,
        max_supersteps=_SCORE_STEPS, edge_partitions=8,
    )
    return out.select(
        F.col("id").cast("long").alias("part"),
        F.col("in_core").cast("long").alias("in_core"),
    )


def _sql_s_core(s: float = _SCORE_S, steps: int = _SCORE_STEPS) -> str:
    parts = ["""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi, CAST(COUNT(*) AS DOUBLE) AS w
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
),
wsym AS MATERIALIZED (
  SELECT s, d, SUM(w) AS w FROM (
    SELECT lo AS s, hi AS d, w FROM und
    UNION ALL SELECT hi, lo, w FROM und) u
  GROUP BY s, d
),
a0 AS MATERIALIZED (SELECT DISTINCT s AS actor, TRUE AS alive FROM wsym)"""]
    for i in range(1, steps + 1):
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT p.actor, (p.alive AND COALESCE(dg.w, 0) >= {s}) AS alive
  FROM a{i-1} p LEFT JOIN (
    SELECT wsym.d AS actor, SUM(wsym.w) AS w
    FROM wsym JOIN a{i-1} q ON q.actor = wsym.s AND q.alive
    GROUP BY wsym.d) dg ON dg.actor = p.actor
)""")
    parts.append(f"""
SELECT CAST(actor AS BIGINT) AS part, CAST(alive AS BIGINT) AS in_core
FROM a{steps}
""")
    return "".join(parts)


SQL_S_CORE = _sql_s_core()


def q_label_spreading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zhou-2004 label spreading on the undirected parts graph, 3
    classes seeded at the 3 smallest part ids (the landmarks
    convention), 4 supersteps, all-integer micro-unit lanes
    (algos/spread.py::label_spreading)."""
    from mesos_pregel_spark.algos.spread import label_spreading

    e = _parts_edges(spark, sf_dir)
    seeds = [
        r["id"]
        for r in e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct().orderBy("id").limit(3).collect()
    ]
    labels, _run = label_spreading(
        spark, e, seeds, alpha=0.85, steps=4, edge_partitions=8
    )
    return labels.select(
        F.col("id").cast("long").alias("part"), "f0", "f1", "f2", "cls"
    )


def _sql_label_spreading(k: int = 3, steps: int = 4,
                         alpha: float = 0.85) -> str:
    """Unrolled per-step twin (the landmarks pattern): every edge term
    snaps ROUND(f / sqrt(deg·deg)) to BIGINT before the sum, the
    rescale is CAST(ROUND(alpha·s) AS BIGINT) — operand order pinned
    identically to the Spark kernel."""
    restart = int(round((1.0 - alpha) * 1_000_000))
    fcols = ", ".join(f"f{i}" for i in range(k))
    parts = [f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2
),
sym AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION SELECT hi, lo FROM und
),
deg AS MATERIALIZED (SELECT s AS id, COUNT(*) AS deg FROM sym GROUP BY s),
esq AS MATERIALIZED (
  SELECT sym.s, sym.d, SQRT(CAST(ds.deg * dd.deg AS DOUBLE)) AS sqdd
  FROM sym JOIN deg ds ON ds.id = sym.s JOIN deg dd ON dd.id = sym.d
),
lms AS (SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT) AS i
        FROM (SELECT id FROM deg ORDER BY id LIMIT {k})),
g0 AS MATERIALIZED (
  SELECT deg.id,"""]
    seed_f = ",".join(
        f"""
    CASE WHEN deg.id = (SELECT id FROM lms WHERE i = {i})
         THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS f{i}"""
        for i in range(k)
    )
    seed_y = ",".join(
        f"""
    CASE WHEN deg.id = (SELECT id FROM lms WHERE i = {i})
         THEN CAST({restart} AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y{i}"""
        for i in range(k)
    )
    parts.append(seed_f + "," + seed_y + "\n  FROM deg\n)")
    for t in range(1, steps + 1):
        sums = ",".join(
            f"""
      SUM(CAST(ROUND(f.f{i} / e.sqdd) AS BIGINT)) AS s{i}"""
            for i in range(k)
        )
        news = ",".join(
            f"""
    CAST(ROUND({alpha} * COALESCE(c.s{i}, 0)) AS BIGINT) + g.y{i} AS f{i}"""
            for i in range(k)
        )
        ys = ",".join(f"g.y{i}" for i in range(k))
        parts.append(f""",
g{t} AS MATERIALIZED (
  SELECT g.id,{news},
    {ys}
  FROM g{t-1} g LEFT JOIN (
    SELECT e.d AS id,{sums}
    FROM esq e JOIN g{t-1} f ON f.id = e.s GROUP BY e.d) c ON c.id = g.id
)""")
    best = "GREATEST(" + ", ".join(f"f{i}" for i in range(k)) + ")"
    cls = "CASE " + " ".join(
        f"WHEN f{i} = {best} THEN CAST({i} AS BIGINT)" for i in range(k)
    ) + " END"
    parts.append(f"""
SELECT CAST(id AS BIGINT) AS part, {fcols}, {cls} AS cls FROM g{steps}
""")
    return "".join(parts)


SQL_LABEL_SPREADING = _sql_label_spreading()


def q_tred_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop transitive-redundancy profile of the parts DAG
    (algos/condense.py::transitive_redundancy): per source part, its
    out-degree and how many of its out-edges a wedge witnesses.
    Uncapped (max_degree=None) — ~4.6M wedges at sf0.01, well inside
    both engines; the hub cap is the documented scale knob."""
    from mesos_pregel_spark.algos.condense import transitive_redundancy

    e = _parts_edges(spark, sf_dir).select("src", "dst")
    out = transitive_redundancy(spark, e)
    return out.select(
        F.col("src").cast("long").alias("part"), "outdeg", "n_redundant"
    )


SQL_TRED_PROFILE = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
dedges AS MATERIALIZED (
  SELECT a.p AS src, b.p AS dst
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
wedges AS (
  SELECT DISTINCT w1.src AS u, w2.dst AS v
  FROM dedges w1 JOIN dedges w2 ON w1.dst = w2.src
)
SELECT CAST(e.src AS BIGINT) AS part,
       CAST(COUNT(*) AS BIGINT) AS outdeg,
       CAST(SUM(CASE WHEN w.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_redundant
FROM dedges e
LEFT JOIN wedges w ON w.u = e.src AND w.v = e.dst
GROUP BY e.src
"""


def q_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-lane Bellman-Ford: weighted distances from the 3 smallest
    actors in one run (lane i = sorted landmark i)."""
    from mesos_pregel_spark.algos.landmarks import landmark_distances

    e = _graph_edges(spark, sf_dir)
    lms = [r["src"] for r in e.select("src").distinct().orderBy("src").limit(3).collect()]
    dists, _run = landmark_distances(spark, e, lms, edge_partitions=8)
    return dists.select(
        F.col("id").alias("actor"),
        *[F.round(f"d{i}", 9).alias(f"d{i}") for i in range(3)],
    )


def _sql_landmarks(k: int = 3, steps: int = 15) -> str:
    """Per-lane unrolled Bellman-Ford (the SQL_SSSP pattern × k),
    joined into one row per actor at the end."""
    inf = "1e18"
    parts = [f""",
lms AS (SELECT src_actor AS a,
               CAST(ROW_NUMBER() OVER (ORDER BY src_actor) - 1 AS BIGINT) AS i
        FROM (SELECT DISTINCT src_actor FROM edges ORDER BY 1 LIMIT {k}))"""]
    for i in range(k):
        parts.append(f""",
l{i}d0 AS MATERIALIZED (
  SELECT actor,
         CASE WHEN actor = (SELECT a FROM lms WHERE i = {i})
              THEN 0.0 ELSE {inf} END AS dist
  FROM verts
)""")
        for s in range(1, steps + 1):
            parts.append(f""",
l{i}d{s} AS MATERIALIZED (
  SELECT p.actor, LEAST(p.dist, COALESCE(m.md, {inf})) AS dist
  FROM l{i}d{s-1} p LEFT JOIN (
    SELECT e.dst_actor AS actor, MIN(pp.dist + e.weight) AS md
    FROM l{i}d{s-1} pp JOIN edges e ON e.src_actor = pp.actor
    WHERE pp.dist < 1e17 GROUP BY e.dst_actor) m
  ON m.actor = p.actor
)""")
    selects = ", ".join(
        f"CASE WHEN l{i}.dist >= 1e17 THEN NULL "
        f"ELSE ROUND(l{i}.dist, 9) END AS d{i}"
        for i in range(k)
    )
    joins = " ".join(
        f"JOIN l{i}d{steps} l{i} ON l{i}.actor = v.actor" for i in range(k)
    )
    return _SQL_EDGES + "".join(parts) + f"""
SELECT v.actor, {selects}
FROM verts v {joins}
"""


SQL_LANDMARKS = _sql_landmarks()


def q_msbfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS reachability masks from the 4 smallest
    customer actors over the DIRECTED bipartite graph (customers →
    suppliers): suppliers collect the OR of the source-customers
    linking to them, non-source customers stay 0 — non-trivial masks,
    unlike the all-reach-all events clique."""
    from mesos_pregel_spark.algos.msbfs import multi_source_bfs

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    sources = [
        r["src"] for r in e.select("src").distinct().orderBy("src").limit(4).collect()
    ]
    reach, _run = multi_source_bfs(
        spark, e, sources, edge_partitions=8
    )
    return reach.select(F.col("id").alias("actor"), "mask")


SQL_MSBFS = """
WITH RECURSIVE e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
verts AS (
  SELECT DISTINCT a AS actor FROM (
    SELECT s AS a FROM e UNION ALL SELECT d FROM e)
),
srcs AS (
  SELECT a AS actor, CAST(ROW_NUMBER() OVER (ORDER BY a) - 1 AS BIGINT) AS bit
  FROM (SELECT DISTINCT s AS a FROM e ORDER BY a LIMIT 4)
),
reach AS (
  SELECT bit, actor FROM srcs
  UNION
  SELECT r.bit, e.d AS actor
  FROM reach r JOIN e ON e.s = r.actor
),
masks AS (
  SELECT actor, SUM(1::BIGINT << bit) AS mask
  FROM (SELECT DISTINCT actor, bit FROM reach) GROUP BY actor
)
SELECT v.actor, CAST(COALESCE(m.mask, 0) AS BIGINT) AS mask
FROM verts v LEFT JOIN masks m ON m.actor = v.actor
"""


def q_triangles_per_vertex(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_vertex, _total = triangle_count(spark, _graph_edges(spark, sf_dir))
    return per_vertex.select(F.col("id").alias("actor"), "triangles")


_SQL_TRI = _SQL_EDGES + """
, und AS (
  SELECT DISTINCT LEAST(src_actor, dst_actor) AS lo,
                  GREATEST(src_actor, dst_actor) AS hi
  FROM edges WHERE src_actor <> dst_actor
),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
corners AS (
  SELECT a AS actor FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
cnt AS (SELECT actor, COUNT(*) AS triangles FROM corners GROUP BY actor)
"""

SQL_TRIANGLES_PER_VERTEX = _SQL_TRI + """
SELECT v.actor, COALESCE(cnt.triangles, 0) AS triangles
FROM verts v LEFT JOIN cnt ON v.actor = cnt.actor
"""


def q_triangle_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_vertex, _total = triangle_count(spark, _graph_edges(spark, sf_dir))
    return per_vertex.agg(
        (F.coalesce(F.sum("triangles"), F.lit(0)) / 3).cast("long")
        .alias("total_triangles")
    )


SQL_TRIANGLE_TOTAL = _SQL_TRI + \
    "SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tri"


_KTRUSS_K = 5
_KTRUSS_ROUNDS = 6


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-truss of the events actor graph (every edge in ≥ 3 surviving
    triangles).  Monotone peel, so engine-at-cap == oracle-at-same-
    unroll exactly (see algos/ktruss.py)."""
    from mesos_pregel_spark.algos.ktruss import k_truss

    truss, _run = k_truss(
        spark, _graph_edges(spark, sf_dir), k=_KTRUSS_K,
        max_rounds=_KTRUSS_ROUNDS, edge_partitions=8,
    )
    return truss.select(F.col("lo").alias("actor_a"), F.col("hi").alias("actor_b"))


def _sql_ktruss(k: int = _KTRUSS_K, rounds: int = _KTRUSS_ROUNDS) -> str:
    need = k - 2
    parts = ["""
, t0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src_actor, dst_actor) AS lo,
                  GREATEST(src_actor, dst_actor) AS hi
  FROM edges WHERE src_actor <> dst_actor
)"""]
    for r in range(rounds):
        parts.append(f""",
tri{r} AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM t{r} e1
  JOIN t{r} e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN t{r} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
sup{r} AS (
  SELECT lo, hi, COUNT(*) AS s FROM (
    SELECT a AS lo, b AS hi FROM tri{r}
    UNION ALL SELECT a, c FROM tri{r}
    UNION ALL SELECT b, c FROM tri{r}) u
  GROUP BY lo, hi
),
t{r + 1} AS MATERIALIZED (
  SELECT t.lo, t.hi
  FROM t{r} t LEFT JOIN sup{r} s ON s.lo = t.lo AND s.hi = t.hi
  WHERE COALESCE(s.s, 0) >= {need}
)""")
    parts.append(f"""
SELECT lo AS actor_a, hi AS actor_b FROM t{rounds}
""")
    return _SQL_EDGES + "".join(parts)


SQL_KTRUSS = _sql_ktruss()


# core_number H-index fixpoint cap: the engine halts early at the true
# fixpoint; the oracle unrolls the same number of steps (monotone
# non-increasing => capped == unrolled, no-op tail either way).
_CORE_NUMBER_STEPS = 30


def q_core_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition (H-index fixpoint) on the bipartite
    customer↔supplier graph — one run, core number per vertex."""
    from mesos_pregel_spark.algos.kcore import core_number

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    cores, _run = core_number(
        spark, e, max_supersteps=_CORE_NUMBER_STEPS, edge_partitions=8
    )
    return cores.select(F.col("id").alias("actor"), "core")


def _sql_core_number(steps: int = _CORE_NUMBER_STEPS) -> str:
    """Unrolled H-index iteration: c0 = degree; per step, per-(vertex,
    estimate) neighbor counts, cumulative count over estimates DESC,
    h = max(least(m, cum)), c = least(previous, h) — the exact
    algos/kcore.core_number schedule."""
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
c0 AS MATERIALIZED (
  SELECT s AS actor, CAST(COUNT(*) AS BIGINT) AS c FROM sym GROUP BY s
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (
  SELECT p.actor, LEAST(p.c, h.h) AS c
  FROM c{k-1} p JOIN (
    SELECT actor, MAX(LEAST(m, cum)) AS h FROM (
      SELECT sub.actor, sub.m,
             CAST(SUM(sub.cnt) OVER (
               PARTITION BY sub.actor ORDER BY sub.m DESC) AS BIGINT) AS cum
      FROM (
        SELECT sym.d AS actor, q.c AS m, COUNT(*) AS cnt
        FROM sym JOIN c{k-1} q ON q.actor = sym.s
        GROUP BY sym.d, q.c) sub
    ) ranked GROUP BY actor) h ON h.actor = p.actor
)""")
    parts.append(f"""
SELECT actor, CAST(c AS BIGINT) AS core FROM c{steps}
""")
    return "".join(parts)


SQL_CORE_NUMBER = _sql_core_number()


# MIS pipelined-Luby cap: parity is exact at ANY shared cap (monotone
# status lattice), and the run decides everything well inside 25 steps
# at driver scale.
_MIS_STEPS = 25


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal independent set (Luby with md5 priorities) on the
    bipartite customer↔supplier graph."""
    from mesos_pregel_spark.algos.mis import maximal_independent_set

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    membership, _run = maximal_independent_set(
        spark, e, max_supersteps=_MIS_STEPS, edge_partitions=8
    )
    return membership.select(F.col("id").alias("actor"), "in_mis")


def _sql_mis(steps: int = _MIS_STEPS) -> str:
    """Unrolled pipelined-Luby transitions.  Candidacy comparison uses
    ``p || '|' || actor`` — p is a fixed-width md5 hex string, so the
    concat order equals the engine's (p, id) struct order."""
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
s0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, MD5(s) AS p, 0 AS st FROM sym
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
m{k} AS (
  SELECT sym.d AS actor,
         MAX(CASE WHEN q.st = 1 THEN 1 ELSE 0 END) AS killed,
         MIN(CASE WHEN q.st = 0 THEN q.p || '|' || q.actor END) AS cand
  FROM sym JOIN s{k-1} q ON q.actor = sym.s AND q.st <> 2
  GROUP BY sym.d
),
s{k} AS MATERIALIZED (
  SELECT v.actor, v.p,
         CASE WHEN v.st <> 0 THEN v.st
              WHEN COALESCE(m.killed, 0) = 1 THEN 2
              WHEN m.cand IS NULL OR (v.p || '|' || v.actor) < m.cand THEN 1
              ELSE 0 END AS st
  FROM s{k-1} v LEFT JOIN m{k} m ON m.actor = v.actor
)""")
    parts.append(f"""
SELECT actor, (st = 1) AS in_mis FROM s{steps}
""")
    return "".join(parts)


SQL_MIS = _sql_mis()


_SESSION_GAP_US = 30 * 60 * 1_000_000


def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization rollup over the events log (30-min
    gap).  Epoch-microsecond integer arithmetic only — hash-exact."""
    from mesos_pregel_spark.functions.sessions import session_stats

    return session_stats(_events(spark, sf_dir), gap_us=_SESSION_GAP_US)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events log: users grouped by
    first-activity day, each cell = distinct users active ``age`` days
    later (functions/sessions.py::retention_cohorts — NTZ-safe integer
    day indices, exact counts, one rounded division per cell)."""
    from mesos_pregel_spark.functions.sessions import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


SQL_RETENTION_COHORTS = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
),
cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id
),
mat AS (
  SELECT c.cohort_day, u.day - c.cohort_day AS age,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM ud u JOIN cohort c ON c.user_id = u.user_id
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
  FROM cohort GROUP BY cohort_day
)
SELECT m.cohort_day, m.age, m.n_active, s.cohort_size,
       ROUND(CAST(m.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE), 9)
         AS retention
FROM mat m JOIN sizes s ON s.cohort_day = m.cohort_day
"""


def q_session_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two histogram of session SIZES (events per gap
    session) — the conversation-depth profile beside the documents
    table's length_histogram: which share of sessions are one-shot
    pings vs long working episodes.  Bucket = LENGTH(bin(n)) − 1
    (integer/string ops — the libm-free floor(log2) the length
    histogram pinned); exact counts."""
    from mesos_pregel_spark.functions.sessions import session_stats

    s = session_stats(_events(spark, sf_dir), gap_us=_SESSION_GAP_US)
    return (
        s.select(
            (F.length(F.bin(F.col("n_events"))) - 1).cast("long")
            .alias("bucket"),
            F.col("n_events").cast("long").alias("ne"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.sum("ne").cast("long").alias("sum_events"),
        )
    )


_FUNNEL_STAGES = 3


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel over gap-sessionized events: stages
    = the 3 most frequent event types (count DESC, type ASC), strict
    t1 < t2 < t3 within a session (functions/sessions.py::
    funnel_conversion)."""
    from mesos_pregel_spark.functions.sessions import funnel_conversion

    ev = _events(spark, sf_dir)
    stages = [
        r["event_type"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("event_type"))
        .limit(_FUNNEL_STAGES).collect()
    ]
    return funnel_conversion(
        ev, tuple(stages), gap_us=_SESSION_GAP_US
    )


SQL_FUNNEL_CONVERSION = f"""
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
se AS (
  SELECT user_id, event_type, us,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM s
),
stages AS (
  SELECT event_type,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type ASC) AS rn
  FROM events GROUP BY event_type
),
t1 AS (
  SELECT user_id, session_idx,
         MIN(CASE WHEN event_type =
                  (SELECT event_type FROM stages WHERE rn = 1)
             THEN us END) AS t1
  FROM se GROUP BY 1, 2
),
t2 AS (
  SELECT e.user_id, e.session_idx,
         MIN(CASE WHEN e.event_type =
                  (SELECT event_type FROM stages WHERE rn = 2)
                  AND t.t1 IS NOT NULL AND e.us > t.t1
             THEN e.us END) AS t2
  FROM se e JOIN t1 t USING (user_id, session_idx)
  GROUP BY 1, 2
),
t3 AS (
  SELECT e.user_id, e.session_idx,
         MIN(CASE WHEN e.event_type =
                  (SELECT event_type FROM stages WHERE rn = 3)
                  AND t.t2 IS NOT NULL AND e.us > t.t2
             THEN e.us END) AS t3
  FROM se e JOIN t2 t USING (user_id, session_idx)
  GROUP BY 1, 2
),
per_session AS (
  SELECT a.t1, b.t2, c.t3
  FROM t1 a
  JOIN t2 b USING (user_id, session_idx)
  JOIN t3 c USING (user_id, session_idx)
),
counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_s1,
         CAST(SUM(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_s12,
         CAST(SUM(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_s123
  FROM per_session
)
SELECT n_sessions, n_s1, n_s12, n_s123,
       CASE WHEN n_s1 > 0 THEN
         ROUND(CAST(n_s12 AS DOUBLE) / CAST(n_s1 AS DOUBLE), 9) END
         AS conv_12,
       CASE WHEN n_s12 > 0 THEN
         ROUND(CAST(n_s123 AS DOUBLE) / CAST(n_s12 AS DOUBLE), 9) END
         AS conv_23
FROM counts
"""


SQL_SESSIONS = f"""
WITH s AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, us,
         event_type,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM s
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       MIN(us) AS start_us, MAX(us) AS end_us,
       MAX(us) - MIN(us) AS duration_us,
       COUNT(DISTINCT event_type) AS n_types
FROM s2 GROUP BY user_id, session_idx
"""


SQL_SESSION_HISTOGRAM = f"""
WITH ss AS ({{sessions}})
SELECT CAST(LENGTH(bin(n_events)) - 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS sum_events
FROM ss GROUP BY 1
""".format(sessions=SQL_SESSIONS)


def q_session_copairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-presence over sessions: for every unordered
    actor pair, in how many sessions do BOTH appear, and the lift
    (observed co-presence / independence expectation) — the
    association read-out a tool-routing or curriculum recipe consults
    ("which tools travel together").  Substrate = the same 30-min
    gap sessionization as q_sessions.

    Pinned cross-engine semantics:
    - session key = (user_id, session_idx); presence is DISTINCT per
      session; pairs canonicalized a < b (strings);
    - counts are exact integers; lift = ROUND((n_both*S)/(n_a*n_b), 9)
      with both products formed as exact BIGINTs first and ONE double
      division — the pmi expression-shape discipline.

    Shape (design-for-100x): distinct (session, actor) is one hash
    aggregate; the within-session pair join fans out by the per-
    session DISTINCT actor count (≤ |actor vocabulary|, 5 here —
    a high-cardinality actor set would take the A15/A27 hub cap, the
    knob is the same); marginals are two more tiny aggregates
    broadcast back over the ≤ |actors|² pair table."""
    from mesos_pregel_spark.functions.sessions import sessionize

    pres = (
        sessionize(_events(spark, sf_dir), gap_us=_SESSION_GAP_US)
        .select("user_id", "session_idx", "event_type")
        .distinct()
    )
    a = pres.select(
        "user_id", "session_idx", F.col("event_type").alias("a")
    )
    b = pres.select(
        "user_id", "session_idx", F.col("event_type").alias("b")
    )
    pairs = (
        a.join(b, ["user_id", "session_idx"])
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    marg = pres.groupBy(F.col("event_type").alias("actor")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    total = pres.select("user_id", "session_idx").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("s_total")
    )
    return (
        pairs
        .join(marg.select(F.col("actor").alias("a"),
                          F.col("n_sessions").alias("n_a")), "a")
        .join(marg.select(F.col("actor").alias("b"),
                          F.col("n_sessions").alias("n_b")), "b")
        .crossJoin(F.broadcast(total))
        .select(
            "a", "b", "n_both", "n_a", "n_b",
            F.round(
                (F.col("n_both") * F.col("s_total")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"), 9
            ).alias("lift"),
        )
    )


SQL_SESSION_COPAIRS = f"""
WITH s AS (
  SELECT user_id, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS ns,
         epoch_us(ts) AS us, event_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, event_type,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM s
),
pres AS (
  SELECT DISTINCT user_id, session_idx, event_type FROM s2
),
pairs AS (
  SELECT p1.event_type AS a, p2.event_type AS b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM pres p1 JOIN pres p2
    ON p1.user_id = p2.user_id AND p1.session_idx = p2.session_idx
  WHERE p1.event_type < p2.event_type
  GROUP BY 1, 2
),
marg AS (
  SELECT event_type AS actor, CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM pres GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS s_total
  FROM (SELECT DISTINCT user_id, session_idx FROM pres)
)
SELECT p.a, p.b, p.n_both, ma.n_sessions AS n_a, mb.n_sessions AS n_b,
       ROUND(CAST(p.n_both * t.s_total AS DOUBLE)
             / CAST(ma.n_sessions * mb.n_sessions AS DOUBLE), 9) AS lift
FROM pairs p
JOIN marg ma ON ma.actor = p.a
JOIN marg mb ON mb.actor = p.b
CROSS JOIN tot t
"""


def q_pagerank_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed weighted PageRank: each consecutive-turn link
    contributes exp(-0.1 * age_days) instead of 1, so the ranking
    follows RECENT interaction structure — the temporal x ranking
    synthesis (a drifting graph's stale hubs decay out; compare
    rank_drift, which reports the drift, where this RANKS under it).

    Pinned cross-engine semantics:
    - age in days from the corpus max timestamp, epoch-µs integer
      subtraction then ONE double division (NTZ-safe);
    - each occurrence's decay term snaps to BIGINT micro-units
      (ROUND(exp(..)*1e6)) BEFORE the per-edge sum — the micro-unit
      discipline, so edge weights are exact integers (exp, like ln in
      pmi/source_kl, sees a bit-identical double argument in both
      engines);
    - self-transitions dropped (the edge_extract rule); 2 weighted
      supersteps, d = 0.85, scores rounded 9dp (the ranking-family
      contract).

    Shape: one window pass + one hash aggregate builds the decayed
    edge table; the rank loop is the audited weighted kernel."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _us_col()
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("src"),
        us.alias("us"),
        F.lead("event_type").over(w).alias("dst"),
    )
    mx = seq.agg(F.max("us").alias("m"))
    term = F.round(
        F.exp(
            F.lit(-0.1)
            * ((F.col("m") - F.col("us")).cast("double") / 86400000000.0)
        ) * 1e6
    ).cast("long")
    edges = (
        seq.where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .crossJoin(F.broadcast(mx))
        .select("src", "dst", term.alias("t"))
        .groupBy("src", "dst")
        .agg(F.sum("t").cast("double").alias("weight"))
    )
    ranks, _run = pagerank(
        spark, edges, tol=0.0, max_supersteps=2,
        edge_partitions=8, weighted=True,
    )
    return ranks.select(
        F.col("id").alias("actor"), F.round("pagerank", 9).alias("pagerank")
    )


SQL_PAGERANK_DECAYED = """
WITH mx AS (SELECT MAX(epoch_us(ts)) AS m FROM events),
dseq AS (
  SELECT user_id, event_type AS s, epoch_us(ts) AS us,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS d
  FROM events
),
dedges AS (
  SELECT s, d,
         CAST(SUM(CAST(ROUND(EXP(-0.1 *
           (CAST((SELECT m FROM mx) - us AS DOUBLE) / 86400000000.0))
           * 1e6) AS BIGINT)) AS DOUBLE) AS weight
  FROM dseq WHERE d IS NOT NULL AND s <> d
  GROUP BY s, d
),
dverts AS (
  SELECT DISTINCT a AS actor FROM (
    SELECT s AS a FROM dedges UNION ALL SELECT d FROM dedges)
),
dn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM dverts),
dwd AS (SELECT s, SUM(weight) AS w FROM dedges GROUP BY s),
dp1 AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM dn) + 0.85*COALESCE(c.sm, 0.0) AS pr
  FROM dverts v LEFT JOIN (
    SELECT e.d AS actor,
           SUM((1.0/(SELECT n FROM dn)) * e.weight / dwd.w) AS sm
    FROM dedges e JOIN dwd ON e.s = dwd.s
    GROUP BY e.d) c
  ON v.actor = c.actor
),
dp2 AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM dn) + 0.85*COALESCE(c.sm, 0.0) AS pr
  FROM dverts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.pr * e.weight / dwd.w) AS sm
    FROM dedges e
    JOIN dp1 p ON e.s = p.actor
    JOIN dwd ON e.s = dwd.s
    GROUP BY e.d) c
  ON v.actor = c.actor
)
SELECT actor, ROUND(pr, 9) AS pagerank FROM dp2
"""


_PATHS_TOP_K = 50


def q_actor_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most common length-3 actor paths (consecutive-turn actor
    trigrams within a conversation under the X2 stable order) — the
    sequence-mining read-out over the same substrate edge_extract
    counts pairwise: "user→assistant→tool" vs "user→assistant→user"
    is exactly the workflow-shape signal a routing recipe reads.

    Pinned: trigram = three CONSECUTIVE turns of one user_id ordered
    by (ts, event_id); counts exact integers; all-integer-then-string
    ordering (cnt DESC, a ASC, b ASC, c ASC) makes the LIMIT
    deterministic (the ngram_hotspots discipline).  One window pass
    partitioned by user_id (two LEADs ride one sort) + one hash
    aggregate."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    )
    return (
        seq.where(F.col("b").isNotNull() & F.col("c").isNotNull())
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"), F.asc("c"))
        .limit(_PATHS_TOP_K)
    )


SQL_ACTOR_PATHS = f"""
WITH seq AS (
  SELECT event_type AS a,
         LEAD(event_type, 1) OVER w AS b,
         LEAD(event_type, 2) OVER w AS c
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt
FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
GROUP BY a, b, c
ORDER BY cnt DESC, a ASC, b ASC, c ASC
LIMIT {_PATHS_TOP_K}
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session funnel: per (first actor, last actor) of a session, how
    many sessions start there and end there — the entry/exit report a
    conversation-design pass reads next to session_stats (which actor
    opens, which actor closes, and how often a session both opens and
    closes on the same tool-spam loop).

    Pinned: session = the 30-min gap rule (q_sessions substrate);
    first/last = struct-MIN/MAX over (us, event_id, event_type) —
    lexicographic struct ordering pins ties identically in both
    engines (the span_dedup keep-first trick); counts exact."""
    from mesos_pregel_spark.functions.sessions import sessionize

    s = sessionize(_events(spark, sf_dir), gap_us=_SESSION_GAP_US)
    ends = s.groupBy("user_id", "session_idx").agg(
        F.min(F.struct("us", "event_id", "event_type")).alias("first"),
        F.max(F.struct("us", "event_id", "event_type")).alias("last"),
    )
    return (
        ends.select(
            F.col("first.event_type").alias("entry_actor"),
            F.col("last.event_type").alias("exit_actor"),
        )
        .groupBy("entry_actor", "exit_actor")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )


SQL_SESSION_FUNNEL = f"""
WITH s AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                      > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT user_id, event_type, event_id, us,
         CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_idx
  FROM s
),
ends AS (
  SELECT user_id, session_idx,
         MIN(struct_pack(u := us, e := event_id, t := event_type)) AS fst,
         MAX(struct_pack(u := us, e := event_id, t := event_type)) AS lst
  FROM s2 GROUP BY user_id, session_idx
)
SELECT fst['t'] AS entry_actor,
       lst['t'] AS exit_actor,
       CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM ends GROUP BY 1, 2
"""


def q_turn_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn-taking entropy over the events log
    (functions/sessions.py::turn_entropy — actor-distribution Shannon
    entropy, micro-nat-snapped terms for order-independent sums)."""
    from mesos_pregel_spark.functions.sessions import turn_entropy

    return turn_entropy(_events(spark, sf_dir))


SQL_TURN_ENTROPY = """
WITH by_actor AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per_conv AS (
  SELECT user_id,
         CAST(SUM(c) AS BIGINT) AS n_turns,
         CAST(COUNT(*) AS BIGINT) AS n_actors,
         CAST(SUM(CAST(ROUND(
           CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)) * 1e6
         ) AS BIGINT)) AS BIGINT) AS s_micro
  FROM by_actor GROUP BY user_id
)
SELECT user_id, n_turns, n_actors,
       ROUND(LN(CAST(n_turns AS DOUBLE))
             - (CAST(s_micro AS DOUBLE) / 1e6) / CAST(n_turns AS DOUBLE),
             9) AS entropy
FROM per_conv
"""


def q_reply_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversational response-time profile: for every consecutive
    turn pair within a conversation (the X4 linking rule — order by
    (ts, event_id) within user_id), the gap in MICROSECONDS from the
    src actor's turn to the dst actor's reply, rolled up per
    (src_actor, dst_actor).  The transcript-dynamics twin of
    edge_extract: that counts transitions, this times them ("how fast
    does the assistant answer the user").

    Pinned: all arithmetic on epoch-microsecond longs (NTZ-safe, the
    sessions discipline) — n / min / max / sum are exact integers;
    avg_gap_us is an exact integer FLOOR division (sum div n — a 9-dp
    double round of a millions-of-µs average is where the engines'
    decimal-rounding implementations diverge; measured MISMATCH at
    sf0.01, so the contract stays all-integer).  Self-transitions are
    KEPT (monologue pacing is signal here; edge extraction drops
    them, this does not).

    Shape (design-for-100x): one window pass partitioned by user_id +
    one hash aggregate over at most |actors|^2 groups — the same
    single-exchange shape as sessionize."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = _us_col()
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("src_actor"),
        us.alias("us"),
        F.lead("event_type").over(w).alias("dst_actor"),
        F.lead(us).over(w).alias("nxt_us"),
    )
    gaps = seq.where(F.col("dst_actor").isNotNull()).select(
        "src_actor", "dst_actor",
        (F.col("nxt_us") - F.col("us")).alias("gap_us"),
    )
    return (
        gaps.groupBy("src_actor", "dst_actor")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replies"),
            F.min("gap_us").cast("long").alias("min_gap_us"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
            F.sum("gap_us").cast("long").alias("sum_gap_us"),
        )
        .select(
            "src_actor", "dst_actor", "n_replies", "min_gap_us",
            "max_gap_us", "sum_gap_us",
            F.expr("sum_gap_us div n_replies").alias("avg_gap_us"),
        )
    )


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness (EPL 2008) of each actor's GLOBAL
    activity stream: B = (σ−μ)/(σ+μ) over inter-event gaps, ordered
    by (ts, event_id) within the actor — B→−1 periodic (bot-like
    cadence), B≈0 Poisson, B→+1 bursty (human-like).  The one-number
    companion of `bursts`' day-windowed profile.

    Pinned: gaps are exact epoch-µs longs; the per-actor sufficient
    statistics (n, Σg, Σg²) are exact decimal(38,0)/HUGEINT sums
    (order-independent — Σg² overflows int64 by design scale, the
    heaps_law discipline); mean and σ are a PINNED double-op sequence
    over those exact integers (identical IEEE conversions in both
    engines), variance clamped at 0 before the one sqrt (float
    cancellation on an all-equal gap stream must not produce NaN),
    ONE rounded division; n < 2 ⇒ NULL."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = _us_col()
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("actor"), us.alias("us"),
        F.lag(us).over(w).alias("prv"),
    )
    gaps = seq.where(F.col("prv").isNotNull()).select(
        "actor", (F.col("us") - F.col("prv")).alias("g")
    )
    g19 = F.col("g").cast("decimal(19,0)")
    st = gaps.groupBy("actor").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum((g19 * g19).cast("decimal(38,0)")).alias("sg2"),
    )
    n_d = F.col("n").cast("double")
    sg_d = F.col("sg").cast("double")
    sg2_d = F.col("sg2").cast("double")
    d = st.select(
        "actor", "n",
        (sg_d / n_d).alias("mean"),
        F.sqrt(
            F.greatest(
                (n_d * sg2_d - sg_d * sg_d) / (n_d * n_d), F.lit(0.0)
            )
        ).alias("sd"),
    )
    return d.select(
        "actor",
        F.col("n").alias("n_gaps"),
        F.when(
            (F.col("n") >= 2) & (F.col("sd") + F.col("mean") > 0),
            F.round(
                (F.col("sd") - F.col("mean"))
                / (F.col("sd") + F.col("mean")),
                9,
            ),
        ).alias("burstiness"),
    )


SQL_BURSTINESS = """
WITH seq AS (
  SELECT event_type AS actor, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS prv
  FROM events
),
gaps AS (
  SELECT actor, us - prv AS g FROM seq WHERE prv IS NOT NULL
),
st AS (
  SELECT actor, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(g AS HUGEINT)) AS sg,
         SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) AS sg2
  FROM gaps GROUP BY actor
),
d AS (
  SELECT actor, n,
         CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         SQRT(GREATEST(
           (CAST(n AS DOUBLE) * CAST(sg2 AS DOUBLE)
            - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0)) AS sd
  FROM st
)
SELECT actor, n AS n_gaps,
       CASE WHEN n >= 2 AND sd + mean > 0
            THEN ROUND((sd - mean) / (sd + mean), 9) END AS burstiness
FROM d
"""


def q_graph_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-extraction hygiene audit — the one-row report a pipeline
    publishes next to the graph it just built, so a downstream job can
    assert its assumptions instead of discovering them (how much
    multi-edge collapse happened, how many self-transitions were
    dropped, which actors never transition at all).

    Pinned definitions (all exact longs, ONE rounded division):
    transitions = LEAD pairs under the stable (ts, event_id) order
    INCLUDING self-transitions; self_loops = src = dst; edges =
    distinct directed non-self pairs; isolated actors = event actors
    that appear in no edge endpoint; multi_edge_factor = non-self
    transitions per distinct edge.

    Scale shape: one per-user window (the edge-extraction pass itself)
    + two hash aggregates + one distinct — every count rides the scan
    the extraction already pays."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    tr = seq.where(F.col("dst").isNotNull())
    base = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct("event_type").cast("long").alias("n_actors"),
    )
    trs = tr.agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(F.when(F.col("src") == F.col("dst"), 1).otherwise(0))
        .cast("long").alias("n_self_loops"),
    )
    ed = tr.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    edc = ed.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    eac = (
        ed.select(F.col("src").alias("a"))
        .unionByName(ed.select(F.col("dst").alias("a")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_edge_actors"))
    )
    return base.join(trs).join(edc).join(eac).select(
        "n_events", "n_users", "n_actors", "n_transitions", "n_self_loops",
        "n_edges",
        (F.col("n_actors") - F.col("n_edge_actors")).cast("long")
        .alias("n_isolated_actors"),
        F.round(
            (F.col("n_transitions") - F.col("n_self_loops")).cast("double")
            / F.col("n_edges").cast("double"), 9
        ).alias("multi_edge_factor"),
    )


SQL_GRAPH_HYGIENE = """
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
tr AS (SELECT src, dst FROM seq WHERE dst IS NOT NULL),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_actors
  FROM events
),
trs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_transitions,
         CAST(SUM(CASE WHEN src = dst THEN 1 ELSE 0 END) AS BIGINT)
           AS n_self_loops
  FROM tr
),
ed AS (SELECT DISTINCT src, dst FROM tr WHERE src <> dst),
edc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM ed),
eac AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edge_actors FROM (
    SELECT src AS a FROM ed UNION SELECT dst FROM ed) u
)
SELECT n_events, n_users, n_actors, n_transitions, n_self_loops, n_edges,
       CAST(n_actors - n_edge_actors AS BIGINT) AS n_isolated_actors,
       ROUND(CAST(n_transitions - n_self_loops AS DOUBLE)
             / CAST(n_edges AS DOUBLE), 9) AS multi_edge_factor
FROM base CROSS JOIN trs CROSS JOIN edc CROSS JOIN eac
"""


def q_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inter-event gap order statistics (p50/p90/p99) per actor —
    the latency-SLO companion of `burstiness`' moment summary: the
    median says what a typical cadence is, p99 what the tail stall is.

    Pinned cross-engine semantics (zero FP anywhere): gaps are exact
    epoch-µs longs over the same (ts, event_id)-ordered per-actor
    stream as burstiness; the p-th percentile is the ascending k-th
    order statistic at 0-indexed position ``(n-1)*p div 100`` (integer
    arithmetic, no interpolation — the "lower" rule), so every output
    is one of the input integers.  Ties in g make ROW_NUMBER
    nondeterministic between equal values but the SELECTED VALUE at a
    rank is the order statistic regardless of tie order.

    Scale shape: one per-actor sort window over gaps (actor cardinality
    bounds partition count; a hot actor's gap list is one partition —
    bounded by that actor's event count, the reply_latency regime) +
    one hash aggregate.  No joins, no iteration."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = _us_col()
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("actor"), us.alias("us"),
        F.lag(us).over(w).alias("prv"),
    )
    gaps = seq.where(F.col("prv").isNotNull()).select(
        "actor", (F.col("us") - F.col("prv")).alias("g")
    )
    wr = Window.partitionBy("actor").orderBy("g")
    wn = Window.partitionBy("actor")
    r = gaps.select(
        "actor", "g",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def _pick(p: int) -> Column:
        idx = F.expr(f"((n - 1) * {p}) div 100") + F.lit(1)
        return F.max(F.when(F.col("rn") == idx, F.col("g")))

    return r.groupBy("actor").agg(
        F.max("n").cast("long").alias("n_gaps"),
        _pick(50).alias("p50_us"),
        _pick(90).alias("p90_us"),
        _pick(99).alias("p99_us"),
    )


SQL_GAP_PERCENTILES = """
WITH seq AS (
  SELECT event_type AS actor, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS prv
  FROM events
),
gaps AS (
  SELECT actor, us - prv AS g FROM seq WHERE prv IS NOT NULL
),
r AS (
  SELECT actor, g,
         ROW_NUMBER() OVER (PARTITION BY actor ORDER BY g) AS rn,
         COUNT(*) OVER (PARTITION BY actor) AS n
  FROM gaps
)
SELECT actor, CAST(MAX(n) AS BIGINT) AS n_gaps,
       CAST(MAX(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN g END)
            AS BIGINT) AS p50_us,
       CAST(MAX(CASE WHEN rn = ((n - 1) * 90) // 100 + 1 THEN g END)
            AS BIGINT) AS p90_us,
       CAST(MAX(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN g END)
            AS BIGINT) AS p99_us
FROM r GROUP BY actor
"""


def q_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circadian concentration per actor — is the actor a 24/7 service
    or a business-hours human/batch job?  Hour-of-day histogram peak
    plus the hour-entropy rate, the cadence fingerprint next to
    burstiness' gap moments.

    Pinned: hour = (epoch_µs div 3600·10⁶) mod 24 — pure integer
    arithmetic on the NTZ-safe µs column, timezone-free and identical
    cross-engine; peak = ROW_NUMBER over the all-integer total order
    (n DESC, hour ASC); entropy terms n·ln(total/n) snap to BIGINT
    micro-nats BEFORE the sum and the per-event rate is the exact
    nano-nat floor division (the transition_entropy discipline — zero
    FP in aggregates, ONE rounded division for peak_share).

    Scale: one hash aggregate to 24 rows per actor, one 24-row window
    per actor, one roll-up.  No joins wider than (actor, hour)."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    us = _us_col()
    per = (
        _events(spark, sf_dir)
        .select(F.col("event_type").alias("actor"), us.alias("us"))
        .select("actor", F.expr("(us div 3600000000) % 24").alias("hour"))
        .groupBy("actor", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = per.groupBy("actor").agg(F.sum("n").cast("long").alias("n_events"))
    j = per.join(tot, "actor")
    w = Window.partitionBy("actor").orderBy(F.desc("n"), F.asc("hour"))
    ranked = j.select(
        "actor", "hour", "n", "n_events",
        F.row_number().over(w).alias("rn"),
        F.round(
            F.col("n").cast("double")
            * F.log(
                F.col("n_events").cast("double") / F.col("n").cast("double")
            )
            * 1e6
        ).cast("long").alias("h_micro"),
    )
    return ranked.groupBy("actor").agg(
        F.max("n_events").alias("n_events"),
        F.max(F.when(F.col("rn") == 1, F.col("hour"))).alias("peak_hour"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("n"))).cast("double")
            / F.max("n_events").cast("double"), 9
        ).alias("peak_share"),
        F.sum("h_micro").cast("long").alias("entropy_micro"),
    ).select(
        "actor", "n_events", "peak_hour", "peak_share", "entropy_micro",
        F.expr(
            "(entropy_micro div n_events) * 1000"
            " + ((entropy_micro % n_events) * 1000) div n_events"
        ).alias("rate_nano"),
    )


SQL_CIRCADIAN = """
WITH per AS (
  SELECT event_type AS actor,
         (epoch_us(ts) // 3600000000) % 24 AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT actor, CAST(SUM(n) AS BIGINT) AS n_events FROM per GROUP BY actor
),
ranked AS (
  SELECT p.actor, p.hour, p.n, t.n_events,
         ROW_NUMBER() OVER (
           PARTITION BY p.actor ORDER BY p.n DESC, p.hour ASC) AS rn,
         CAST(ROUND(CAST(p.n AS DOUBLE)
                    * ln(CAST(t.n_events AS DOUBLE) / CAST(p.n AS DOUBLE))
                    * 1000000) AS BIGINT) AS h_micro
  FROM per p JOIN tot t ON t.actor = p.actor
),
roll AS (
  SELECT actor,
         MAX(n_events) AS n_events,
         MAX(CASE WHEN rn = 1 THEN hour END) AS peak_hour,
         ROUND(CAST(MAX(CASE WHEN rn = 1 THEN n END) AS DOUBLE)
               / CAST(MAX(n_events) AS DOUBLE), 9) AS peak_share,
         CAST(SUM(h_micro) AS BIGINT) AS entropy_micro
  FROM ranked GROUP BY actor
)
SELECT actor, n_events, peak_hour, peak_share, entropy_micro,
       (entropy_micro // n_events) * 1000
         + ((entropy_micro % n_events) * 1000) // n_events AS rate_nano
FROM roll
"""


SQL_REPLY_LATENCY = """
WITH seq AS (
  SELECT event_type AS src_actor, epoch_us(ts) AS us,
         LEAD(event_type) OVER w AS dst_actor,
         LEAD(epoch_us(ts)) OVER w AS nxt_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gaps AS (
  SELECT src_actor, dst_actor, nxt_us - us AS gap_us
  FROM seq WHERE dst_actor IS NOT NULL
)
SELECT src_actor, dst_actor,
       CAST(COUNT(*) AS BIGINT) AS n_replies,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
       CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS avg_gap_us
FROM gaps GROUP BY 1, 2
"""


def q_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column analytics: extract the integer ``$.k``
    field from the events table's JSON ``props`` column JVM-side
    (``get_json_object`` — no Python, stays in whole-stage codegen)
    and roll up the ``value`` measure per (event_type, k-decile).

    Pinned cross-engine semantics:
    - k = JSON path $.k cast to BIGINT; rows with no parseable k are
      excluded (both engines yield NULL there);
    - bucket = FLOOR(k/10) computed in double then cast — identical
      for every |k| < 2^53, engine-independent (integer ``//`` differs
      between engines on negatives);
    - the double ``value`` snaps to exact cents BEFORE the
      cross-partition sum (the micro-unit discipline), so the rollup
      is an integer aggregate; avg_value is ONE final division,
      rounded to 9 dp.

    Shape (design-for-100x): one parquet scan (props/value/event_type
    pruned at the reader), one hash aggregate with map-side partials —
    the JSON parse is per-row scalar work that scales linearly and
    pushes no shuffle."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    cents = F.round(F.col("value") * 100.0).cast("long")
    return (
        ev.select("event_type", k.alias("k"), cents.alias("cents"))
        .where(F.col("k").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("k").cast("double") / 10.0).cast("long")
            .alias("k_decile"),
            "k", "cents",
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .select(
            "event_type", "k_decile", "n_events", "n_distinct_k",
            "sum_cents",
            F.round(
                (F.col("sum_cents").cast("double") / 100.0)
                / F.col("n_events").cast("double"), 9
            ).alias("avg_value"),
        )
    )


SQL_PROPS_ROLLUP = """
WITH ex AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k,
         CAST(ROUND(value * 100.0) AS BIGINT) AS cents
  FROM events
),
b AS (
  SELECT event_type,
         CAST(FLOOR(CAST(k AS DOUBLE) / 10.0) AS BIGINT) AS k_decile,
         k, cents
  FROM ex WHERE k IS NOT NULL
),
g AS (
  SELECT event_type, k_decile,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM b GROUP BY 1, 2
)
SELECT event_type, k_decile, n_events, n_distinct_k, sum_cents,
       ROUND((CAST(sum_cents AS DOUBLE) / 100.0)
             / CAST(n_events AS DOUBLE), 9) AS avg_value
FROM g
"""


_COLORING_STEPS = 25


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring (md5 priorities) on the
    bipartite customer↔supplier graph — MIS's sibling program; the
    oracle unrolls the identical monotone transition, so capped ==
    unrolled with color -1 for any vertex past the cap."""
    from mesos_pregel_spark.algos.coloring import greedy_coloring

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    # variant="jp" pins the greedy-order-exact transition the oracle
    # unrolls — the auto dispatcher must never flip this query to the
    # speculative path or a saturation retry
    colors, _run = greedy_coloring(
        spark, e, max_supersteps=_COLORING_STEPS, edge_partitions=8,
        variant="jp",
    )
    return colors.select(F.col("id").alias("actor"), "color")


def _sql_coloring(steps: int = _COLORING_STEPS) -> str:
    """Unrolled Jones-Plassmann transitions: min-candidacy (the MIS
    string trick) + bit_or color-mask accumulation + mex via the
    lowest-zero-bit / exact-log2 identity (algos/coloring.py)."""
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
c0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, MD5(s) AS p, -1 AS color,
         CAST(0 AS BIGINT) AS mask
  FROM sym
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
cm{k} AS (
  SELECT sym.d AS actor,
         MIN(CASE WHEN q.color = -1 THEN q.p || '|' || q.actor END) AS cand,
         BIT_OR(CASE WHEN q.color <> -1
                     THEN (CAST(1 AS BIGINT) << q.color)
                     ELSE CAST(0 AS BIGINT) END) AS nm
  FROM sym JOIN c{k-1} q ON q.actor = sym.s
  GROUP BY sym.d
),
c{k} AS MATERIALIZED (
  SELECT actor, p,
         CASE WHEN color <> -1 THEN color
              WHEN cand IS NULL OR (p || '|' || actor) < cand
                THEN CAST(log2(CAST(((~nm2) & (nm2 + 1)) AS DOUBLE)) AS INT)
              ELSE -1 END AS color,
         nm2 AS mask
  FROM (
    SELECT v.actor, v.p, v.color, m.cand,
           v.mask | COALESCE(m.nm, CAST(0 AS BIGINT)) AS nm2
    FROM c{k-1} v LEFT JOIN cm{k} m ON m.actor = v.actor) t
)""")
    parts.append(f"""
SELECT actor, color FROM c{steps}
""")
    return "".join(parts)


SQL_COLORING = _sql_coloring()


_COLORING_SPEC_STEPS = 10


def q_coloring_spec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speculative coloring (the scale path: parallel tentative bids,
    per-color deterministic conflict resolution, one-round mask lag —
    algos/coloring.py::speculative_coloring) on the same bipartite
    substrate.  Converges in 3 rounds here (2 colors); the oracle
    unrolls the identical 10-round schedule — monotone, so capped ==
    unrolled with -1 past the cap on both sides."""
    from mesos_pregel_spark.algos.coloring import speculative_coloring

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    colors, _run = speculative_coloring(
        spark, e, max_supersteps=_COLORING_SPEC_STEPS, edge_partitions=8
    )
    return colors.select(F.col("id").alias("actor"), "color")


def _sql_coloring_spec(steps: int = _COLORING_SPEC_STEPS) -> str:
    """Unrolled speculative-coloring transitions: per-(dst, tent) min
    candidacy over uncolored bidders, bit_or of fresh winners' color
    bits, lag guard via the old mask's lowest zero bit."""
    mex_v = "CAST(log2(CAST(((~v.mask) & (v.mask + 1)) AS DOUBLE)) AS INT)"
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
sc0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, MD5(s) AS p, -1 AS color,
         CAST(0 AS BIGINT) AS mask, 0 AS fresh
  FROM sym
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
tq{k} AS (
  SELECT actor, p,
         CAST(log2(CAST(((~mask) & (mask + 1)) AS DOUBLE)) AS INT) AS tent
  FROM sc{k-1} WHERE color = -1),
mc{k} AS (
  SELECT sym.d AS actor, q.tent, MIN(q.p || '|' || q.actor) AS cand
  FROM sym JOIN tq{k} q ON q.actor = sym.s
  GROUP BY 1, 2),
mm{k} AS (
  SELECT sym.d AS actor,
         BIT_OR(CASE WHEN q.fresh = 1
                     THEN (CAST(1 AS BIGINT) << q.color)
                     ELSE CAST(0 AS BIGINT) END) AS nm
  FROM sym JOIN sc{k-1} q ON q.actor = sym.s
  GROUP BY 1),
sc{k} AS MATERIALIZED (
  SELECT actor, p,
         CASE WHEN color <> -1 THEN color
              WHEN win THEN tent ELSE -1 END AS color,
         nm2 AS mask,
         CASE WHEN color = -1 AND win THEN 1 ELSE 0 END AS fresh
  FROM (
    SELECT v.actor, v.p, v.color,
           v.mask | COALESCE(m.nm, CAST(0 AS BIGINT)) AS nm2,
           {mex_v} AS tent,
           ((v.mask | COALESCE(m.nm, CAST(0 AS BIGINT)))
              & ((~v.mask) & (v.mask + 1))) = 0
             AND (mc.cand IS NULL OR (v.p || '|' || v.actor) < mc.cand)
             AS win
    FROM sc{k-1} v
    LEFT JOIN mm{k} m ON m.actor = v.actor
    LEFT JOIN mc{k} mc ON mc.actor = v.actor AND mc.tent = {mex_v}
  ) t
)""")
    parts.append(f"""
SELECT actor, color FROM sc{steps}
""")
    return "".join(parts)


SQL_COLORING_SPEC = _sql_coloring_spec()


# trussness strata-peel schedule (part of the pinned semantics: the
# oracle unrolls the IDENTICAL (level, round) grid; monotone peeling
# makes no-op rounds free on both sides).
_TRUSSNESS_MAX_K = 6
_TRUSSNESS_ROUNDS = 6


def q_trussness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full truss decomposition of the events actor graph — trussness
    per canonical edge in one strata-peel run."""
    from mesos_pregel_spark.algos.ktruss import trussness

    decomp, _run = trussness(
        spark, _graph_edges(spark, sf_dir), max_k=_TRUSSNESS_MAX_K,
        max_rounds_per_level=_TRUSSNESS_ROUNDS, edge_partitions=8,
    )
    return decomp.select(
        F.col("lo").alias("actor_a"), F.col("hi").alias("actor_b"), "trussness"
    )


def _sql_trussness(
    max_k: int = _TRUSSNESS_MAX_K, rounds: int = _TRUSSNESS_ROUNDS
) -> str:
    """Nested unroll of the strata peel: for each level k, ``rounds``
    peel rounds (SQL_KTRUSS's round CTE); edges removed at level k get
    trussness k-1; level-``max_k`` survivors get ``max_k``."""
    parts = ["""
, s2 AS MATERIALIZED (
  SELECT DISTINCT LEAST(src_actor, dst_actor) AS lo,
                  GREATEST(src_actor, dst_actor) AS hi
  FROM edges WHERE src_actor <> dst_actor
)"""]
    prev = "s2"
    finals = {2: "s2"}
    for k in range(3, max_k + 1):
        need = k - 2
        cur = prev
        for r in range(rounds):
            tag = f"k{k}r{r}"
            parts.append(f""",
tri{tag} AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM {cur} e1
  JOIN {cur} e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN {cur} e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
sup{tag} AS (
  SELECT lo, hi, COUNT(*) AS s FROM (
    SELECT a AS lo, b AS hi FROM tri{tag}
    UNION ALL SELECT a, c FROM tri{tag}
    UNION ALL SELECT b, c FROM tri{tag}) u
  GROUP BY lo, hi
),
t{tag} AS MATERIALIZED (
  SELECT t.lo, t.hi
  FROM {cur} t LEFT JOIN sup{tag} s ON s.lo = t.lo AND s.hi = t.hi
  WHERE COALESCE(s.s, 0) >= {need}
)""")
            cur = f"t{tag}"
        finals[k] = cur
        prev = cur
    # removed at level k => trussness k-1; survivors of max_k => max_k
    pieces = []
    for k in range(3, max_k + 1):
        pieces.append(f"""
SELECT p.lo, p.hi, CAST({k - 1} AS BIGINT) AS trussness
FROM {finals[k - 1]} p LEFT JOIN {finals[k]} s
  ON s.lo = p.lo AND s.hi = p.hi
WHERE s.lo IS NULL""")
    pieces.append(f"""
SELECT lo, hi, CAST({max_k} AS BIGINT) AS trussness FROM {finals[max_k]}""")
    union = "\nUNION ALL".join(pieces)
    parts.append(f"""
SELECT lo AS actor_a, hi AS actor_b, trussness FROM ({union})
""")
    return _SQL_EDGES + "".join(parts)


SQL_TRUSSNESS = _sql_trussness()


_WALK_LEN = 8
_WALK_SEED = "graft"


def q_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-chosen walks from every actor of the events
    graph — the reproducible graph-sampling primitive (embedding-
    corpus generation)."""
    from mesos_pregel_spark.algos.walks import deterministic_walks

    w = deterministic_walks(
        spark, _graph_edges(spark, sf_dir), length=_WALK_LEN,
        seed=_WALK_SEED, edge_partitions=8,
    )
    return w.select(F.col("start").alias("actor"), "walk", "step", "vertex")


def q_walks_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n walks per vertex: the walk index salts the choice key, so each
    index is an independent reproducible sample — one run emits a whole
    walk CORPUS instead of one walk per vertex."""
    from mesos_pregel_spark.algos.walks import deterministic_walks

    w = deterministic_walks(
        spark, _graph_edges(spark, sf_dir), length=4,
        seed=_WALK_SEED, n_walks=3, edge_partitions=8,
    )
    return w.select(F.col("start").alias("actor"), "walk", "step", "vertex")


def q_walks_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional next hop (derandomized node2vec-style
    sampling): inverse-CDF over dst-ordered out-edges against a
    48-bit-md5 uniform — transcript/event edge weights (interaction
    counts) actually bias the corpus."""
    from mesos_pregel_spark.algos.walks import deterministic_walks

    w = deterministic_walks(
        spark, _graph_edges(spark, sf_dir), length=4,
        seed=_WALK_SEED, weighted=True, edge_partitions=8,
    )
    return w.select(F.col("start").alias("actor"), "walk", "step", "vertex")


def _sql_walks(
    length: int = _WALK_LEN, seed: str = _WALK_SEED, n_walks: int = 1,
) -> str:
    """Unrolled walk steps: per step one join + MIN_BY with the same
    md5 choice key (md5 hex is fixed-width, so the '|dst' suffix is a
    pure tie-break, identical to the engine's).  The walk index rides
    as data (one base row per (vertex, walk)); the key salts on it."""
    wk = " UNION ALL ".join(f"SELECT {i} AS walk" for i in range(n_walks))
    parts = [f"""
, w0 AS MATERIALIZED (
  SELECT actor AS start, wk.walk, actor AS cur
  FROM verts CROSS JOIN ({wk}) wk)"""]
    selects = ["SELECT start, walk, 0 AS step, cur AS vertex FROM w0"]
    for t in range(length):
        parts.append(f""",
w{t + 1} AS MATERIALIZED (
  SELECT w.start, w.walk,
         MIN_BY(e.dst_actor,
                MD5('{seed}:{t}:' || CAST(w.walk AS VARCHAR) || ':'
                    || w.cur || ':' || e.dst_actor)
                || '|' || e.dst_actor) AS cur
  FROM w{t} w JOIN edges e ON e.src_actor = w.cur
  GROUP BY w.start, w.walk
)""")
        selects.append(
            f"SELECT start, walk, {t + 1} AS step, cur AS vertex FROM w{t + 1}"
        )
    union = "\nUNION ALL ".join(selects)
    parts.append(f"""
SELECT start AS actor, walk, step, vertex FROM ({union})
""")
    return _SQL_EDGES + "".join(parts)


def _sql_walks_weighted(length: int = 4, seed: str = _WALK_SEED) -> str:
    """Weighted twin: u = ('0x' || first 12 md5 hex)::BIGINT / 2^48 per
    live walk; running SUM(weight) over dst order; next = MIN(dst) with
    cum > u*total.  Exact parity holds because the event weights are
    integer-valued counts (running sums are order-exact doubles) and u
    is a 48-bit dyadic rational."""
    parts = ["""
, w0 AS MATERIALIZED (SELECT actor AS start, 0 AS walk, actor AS cur FROM verts)"""]
    selects = ["SELECT start, walk, 0 AS step, cur AS vertex FROM w0"]
    for t in range(length):
        parts.append(f""",
w{t + 1} AS MATERIALIZED (
  SELECT start, walk, MIN(dst_actor) AS cur FROM (
    SELECT w.start, w.walk, e.dst_actor,
           SUM(e.weight) OVER (
             PARTITION BY w.start, w.walk ORDER BY e.dst_actor) AS cum,
           SUM(e.weight) OVER (PARTITION BY w.start, w.walk) AS total,
           ('0x' || substr(MD5('{seed}:{t}:' || CAST(w.walk AS VARCHAR)
                               || ':' || w.cur), 1, 12))::BIGINT
             / 281474976710656.0 AS u
    FROM w{t} w JOIN edges e ON e.src_actor = w.cur
  ) WHERE cum > u * total
  GROUP BY start, walk
)""")
        selects.append(
            f"SELECT start, walk, {t + 1} AS step, cur AS vertex FROM w{t + 1}"
        )
    union = "\nUNION ALL ".join(selects)
    parts.append(f"""
SELECT start AS actor, walk, step, vertex FROM ({union})
""")
    return _SQL_EDGES + "".join(parts)


def q_walks_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec p/q walk (derandomized): the out-edge
    weight is scaled by alpha(prev, cur, dst) — 1/p on return, 1 if
    prev→dst exists, 1/q to explore — before the inverse-CDF draw.
    p=4, q=1/4 (dyadic, so alpha·weight products are exact doubles):
    a homophily-leaning corpus that avoids backtracking."""
    from mesos_pregel_spark.algos.walks import deterministic_walks

    w = deterministic_walks(
        spark, _graph_edges(spark, sf_dir), length=4,
        seed=_WALK_SEED, weighted=True, p=4.0, q=0.25, edge_partitions=8,
    )
    return w.select(F.col("start").alias("actor"), "walk", "step", "vertex")


def _sql_walks_node2vec(
    length: int = 4, p: float = 4.0, q: float = 0.25,
    seed: str = _WALK_SEED,
) -> str:
    """Node2vec twin: the weighted unroll plus (a) a prev column
    carried per step, (b) a LEFT JOIN adjacency probe on (prev, dst),
    (c) the alpha CASE in the SAME branch order as the engine, and
    (d) the prev-salted u (prev hashes as '-' at step 1).  Exactness:
    1/p and 1/q are dyadic, weights are integer counts, both engines
    sum in dst order and round the one u*total product identically."""
    inv_p, inv_q = repr(1.0 / p), repr(1.0 / q)
    alpha = f"""CASE WHEN w.prev IS NULL THEN 1.0
                 WHEN e.dst_actor = w.prev THEN {inv_p}
                 WHEN a.src_actor IS NOT NULL THEN 1.0
                 ELSE {inv_q} END"""
    parts = ["""
, w0 AS MATERIALIZED (
  SELECT actor AS start, 0 AS walk, actor AS cur,
         CAST(NULL AS VARCHAR) AS prev
  FROM verts)"""]
    selects = ["SELECT start, walk, 0 AS step, cur AS vertex FROM w0"]
    for t in range(length):
        parts.append(f""",
w{t + 1} AS MATERIALIZED (
  SELECT start, walk, MIN(dst_actor) AS cur, MIN(cur) AS prev FROM (
    SELECT w.start, w.walk, w.cur, e.dst_actor,
           SUM(e.weight * {alpha}) OVER (
             PARTITION BY w.start, w.walk ORDER BY e.dst_actor) AS cum,
           SUM(e.weight * {alpha}) OVER (
             PARTITION BY w.start, w.walk) AS total,
           ('0x' || substr(MD5('{seed}:{t}:' || CAST(w.walk AS VARCHAR)
                               || ':' || w.cur || ':'
                               || COALESCE(w.prev, '-')), 1, 12))::BIGINT
             / 281474976710656.0 AS u
    FROM w{t} w JOIN edges e ON e.src_actor = w.cur
    LEFT JOIN edges a
      ON a.src_actor = w.prev AND a.dst_actor = e.dst_actor
  ) WHERE cum > u * total
  GROUP BY start, walk
)""")
        selects.append(
            f"SELECT start, walk, {t + 1} AS step, cur AS vertex FROM w{t + 1}"
        )
    union = "\nUNION ALL ".join(selects)
    parts.append(f"""
SELECT start AS actor, walk, step, vertex FROM ({union})
""")
    return _SQL_EDGES + "".join(parts)


SQL_WALKS = _sql_walks()
SQL_WALKS_MULTI = _sql_walks(length=4, n_walks=3)
SQL_WALKS_WEIGHTED = _sql_walks_weighted()
SQL_WALKS_NODE2VEC = _sql_walks_node2vec()


def q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — approximate neighborhood function at radius 3: per-vertex
    FM-sketch estimates of |B_3(v)| over the directed transcript graph
    (algos/anf.py).  'Approximate' yet hash-exact: the sketch hashes,
    bit-ors and the pow-free estimate read-out are all
    bit-reproducible in DuckDB."""
    from mesos_pregel_spark.algos.anf import anf

    res, _run = anf(
        spark, _graph_edges(spark, sf_dir), h=_ANF_H, k=_ANF_K,
        seed=_ANF_SEED, edge_partitions=8,
    )
    return res.select(F.col("id").alias("actor"), "nf")


_ANF_H = 3
_ANF_K = 4
_ANF_SEED = "anf42"


def _sql_anf_rounds(h: int, k: int, seed: str) -> str:
    """The shared CTE prelude of the ANF twins: init = lowest-set-bit
    masks of the 48-bit md5 registers (a0), then h rounds a1..ah of
    self ∪ bit_or over OUT-neighbors."""
    regs = [f"r{j}" for j in range(k)]
    init_cols = []
    for j in range(k):
        h48 = (
            f"('0x' || substr(MD5('{seed}:{j}:' || actor), 1, 12))::BIGINT"
        )
        init_cols.append(
            f"CASE WHEN {h48} = 0 THEN (CAST(1 AS BIGINT) << 48) "
            f"ELSE {h48} & (-{h48}) END AS r{j}"
        )
    parts = [f""",
de AS (SELECT DISTINCT src_actor AS s, dst_actor AS d FROM edges),
a0 AS MATERIALIZED (
  SELECT actor AS id,
         {', '.join(init_cols)}
  FROM verts
)"""]
    for t in range(h):
        ors = ",\n         ".join(
            f"v.{r} | COALESCE(bit_or(n.{r}), 0) AS {r}" for r in regs
        )
        group = ", ".join(f"v.{r}" for r in regs)
        parts.append(f""",
a{t + 1} AS MATERIALIZED (
  SELECT v.id,
         {ors}
  FROM a{t} v
  LEFT JOIN de e ON e.s = v.id
  LEFT JOIN a{t} n ON n.id = e.d
  GROUP BY v.id, {group}
)""")
    return _SQL_EDGES + "".join(parts)


def _sql_anf(h: int = 3, k: int = 4, seed: str = "anf42") -> str:
    """Unrolled twin of algos/anf.py::anf — the rounds prelude plus the
    shift-and-literal FM read-out (fm_estimate_sql — no fractional
    pow, so the doubles match the JVM bit-for-bit)."""
    from mesos_pregel_spark.algos.anf import DUCKDB_SHIFT, fm_estimate_sql

    regs = [f"r{j}" for j in range(k)]
    est = fm_estimate_sql(regs, DUCKDB_SHIFT)
    return _sql_anf_rounds(h, k, seed) + f"""
SELECT id AS actor, {est} AS nf FROM a{h}
"""


SQL_ANF = _sql_anf(h=_ANF_H, k=_ANF_K, seed=_ANF_SEED)


def q_centralities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall read-outs: harmonic centrality and closeness sum from
    per-round sketch deltas, accumulated inside the superstep loop
    (algos/anf.py::centralities)."""
    from mesos_pregel_spark.algos.anf import centralities

    res, _run = centralities(
        spark, _graph_edges(spark, sf_dir), h=_ANF_H, k=_ANF_K,
        seed=_ANF_SEED, edge_partitions=8,
    )
    return res.select(
        F.col("id").alias("actor"), "nf", "harmonic", "closeness_sum"
    )


def _sql_centralities(h: int = 3, k: int = 4, seed: str = "anf42") -> str:
    """Twin of algos/anf.py::centralities: per-round estimates est_t
    off the unrolled a_t CTEs; harmonic = Σ (est_t - est_{t-1})/t and
    closeness_sum = Σ t·(est_t - est_{t-1}) written LEFT-ASSOCIATIVE
    in round order — the exact accumulation chain the engine's
    per-superstep `harm/close` columns perform, so the doubles match
    bit-for-bit."""
    from mesos_pregel_spark.algos.anf import DUCKDB_SHIFT, fm_estimate_sql

    regs = [f"r{j}" for j in range(k)]

    def est_over(alias: str) -> str:
        return fm_estimate_sql([f"{alias}.{r}" for r in regs], DUCKDB_SHIFT)

    joins = "\n  ".join(
        f"JOIN a{t} ON a{t}.id = a0.id" for t in range(1, h + 1)
    )
    ests = ",\n         ".join(
        f"{est_over(f'a{t}')} AS est{t}" for t in range(h + 1)
    )
    harm = " + ".join(
        f"(est{t} - est{t - 1}) / {float(t)!r}" for t in range(1, h + 1)
    )
    close = " + ".join(
        f"{float(t)!r} * (est{t} - est{t - 1})" for t in range(1, h + 1)
    )
    return _sql_anf_rounds(h, k, seed) + f""",
ests AS (
  SELECT a0.id,
         {ests}
  FROM a0
  {joins}
)
SELECT id AS actor, est{h} AS nf,
       ROUND({harm}, 6) AS harmonic,
       ROUND({close}, 6) AS closeness_sum
FROM ests
"""


SQL_CENTRALITIES = _sql_centralities(h=_ANF_H, k=_ANF_K, seed=_ANF_SEED)


def q_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 aggregator parity: global scalars over the graph."""
    e = events_edges(spark, sf_dir)
    verts = (
        e.select(F.col("src_actor").alias("a"))
        .unionByName(e.select(F.col("dst_actor").alias("a")))
        .distinct()
    )
    n_vertices = verts.count()
    return e.agg(
        F.lit(n_vertices).cast("long").alias("n_vertices"),
        F.count(F.lit(1)).alias("n_edges"),
        F.sum("weight").alias("total_weight"),
        F.max("weight").alias("max_weight"),
    )


SQL_GRAPH_SUMMARY = _SQL_EDGES + """
SELECT (SELECT COUNT(*) FROM verts) AS n_vertices,
       COUNT(*) AS n_edges,
       SUM(weight) AS total_weight,
       MAX(weight) AS max_weight
FROM edges
"""


# ---------------------------------------------------------------------------
# relational feed: bipartite customer→supplier links (FIXTURES §3)
# ---------------------------------------------------------------------------


def q_bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


SQL_BIPARTITE_EDGES = """
SELECT o_custkey AS src, l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS weight
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_custkey, l_suppkey
"""


def q_bipartite_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = q_bipartite_edges(spark, sf_dir)
    return e.groupBy(F.col("dst").alias("supplier")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("weight").alias("link_weight"),
    )


SQL_BIPARTITE_DEGREES = """
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey
)
SELECT dst AS supplier, COUNT(*) AS n_customers, SUM(weight) AS link_weight
FROM e GROUP BY dst
"""


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-degree distribution of the bipartite link graph — the
    first diagnostic a link-graph operator runs (skew/power-law check;
    it is what sizes the S1 salting hot-list).  Two hash aggregations,
    integer columns only; map-side partials bound each stage's output
    by the distinct-degree count regardless of |E|."""
    e = q_bipartite_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_vertices"))


SQL_DEGREE_HISTOGRAM = """
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey
),
deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src)
SELECT degree, COUNT(*) AS n_vertices FROM deg GROUP BY degree
"""


_HILL_DMIN = 2


def q_hill_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill MLE power-law exponent of the same out-degree
    distribution degree_histogram reports — the one-number skew
    diagnostic that sizes the S1 salting hot-list (alpha near 2 =
    heavy head, salting load-bearing)."""
    from mesos_pregel_spark.algos.structure import hill_alpha

    e = q_bipartite_edges(spark, sf_dir)
    deg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return hill_alpha(deg, dmin=_HILL_DMIN)


SQL_HILL_ALPHA = f"""
WITH e AS (
  SELECT o_custkey AS src, l_suppkey AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, l_suppkey
),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY src),
tail AS (
  SELECT CAST(ROUND(LN(
    CAST(degree AS DOUBLE) / CAST({_HILL_DMIN} AS DOUBLE)) * 1e6)
    AS BIGINT) AS lr
  FROM deg WHERE degree >= {_HILL_DMIN}
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices FROM deg),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
         CAST(SUM(lr) AS BIGINT) AS sum_micro
  FROM tail
)
SELECT CAST({_HILL_DMIN} AS BIGINT) AS dmin, t.n_vertices, a.n_tail,
       ROUND(CAST(a.n_tail AS DOUBLE) / CAST(t.n_vertices AS DOUBLE), 9)
         AS tail_share,
       CASE WHEN a.sum_micro > 0 THEN
         ROUND(1.0 + (CAST(a.n_tail AS DOUBLE) * 1e6)
               / CAST(a.sum_micro AS DOUBLE), 9)
       END AS alpha
FROM agg a CROSS JOIN tot t
"""


# ---------------------------------------------------------------------------
# structure analytics (algos/structure.py) on the part co-order graph
# ---------------------------------------------------------------------------
#
# Substrate: parts co-occurring in the same order ("market basket"
# one-mode projection of the order–part bipartite graph) — the
# triangle-rich substrate the 5-actor events graph can't provide
# (413k triangles on 2000 vertices at sf0.01).  The projection is
# bounded by sum_orders C(|basket|, 2); TPC-H-ish baskets are <= 7
# lines, and at 100x a real pipeline caps basket size the same way
# (quadratic blowup lives in the basket, not the table size).


def _parts_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(b, F.col("a.o") == F.col("b.o"))
        .where(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


_SQL_PARTS = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
pdeg AS MATERIALIZED (
  SELECT id, COUNT(*) AS deg FROM (
    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und) u
  GROUP BY id
)
"""


# core_periphery H-index cap on the parts projection: denser graph,
# same monotone capped == unrolled argument as _CORE_NUMBER_STEPS.
_CORE_PERIPHERY_STEPS = 30


def q_core_periphery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borgatti-Everett discrete core-periphery fit (Social Networks
    1999) on the part co-order graph: core = the innermost k-shell
    (coreness == kmax from the H-index fixpoint), then the three block
    densities of the ideal-image test — core-core should be dense,
    periphery-periphery sparse, core-periphery in between.

    Pinned: coreness is the exact capped H-index schedule shared with
    core_number; block edge counts are exact longs over the distinct
    (lo < hi) undirected edges; each density is ONE 9dp-rounded
    division of exact integers (possible-pair denominators via integer
    `div`, NULL when a block has no pairs).

    Scale shape: the coreness run is the engine's scatter/combine
    kernel; the block classification is one broadcast join of the
    2-column coreness map onto the edge table (vertex map << edges —
    the 100-TB regime too, vertices are parts not lineitems) + one
    aggregate; kmax and the final row are 1-row crossJoin broadcasts."""
    from mesos_pregel_spark.algos.kcore import core_number

    und = _parts_edges(spark, sf_dir)
    cores, _run = core_number(
        spark, und, max_supersteps=_CORE_PERIPHERY_STEPS, edge_partitions=8
    )
    kmax = cores.agg(F.max("core").alias("kmax"))
    lab = cores.join(F.broadcast(kmax)).select(
        "id", (F.col("core") == F.col("kmax")).alias("is_core")
    )
    sizes = lab.agg(
        F.sum(F.when(F.col("is_core"), 1).otherwise(0))
        .cast("long").alias("n_core"),
        F.sum(F.when(F.col("is_core"), 0).otherwise(1))
        .cast("long").alias("n_periph"),
    )
    ls = lab.withColumnsRenamed({"id": "src", "is_core": "c_src"})
    ld = lab.withColumnsRenamed({"id": "dst", "is_core": "c_dst"})
    blocks = (
        und.join(F.broadcast(ls), "src").join(F.broadcast(ld), "dst")
        .agg(
            F.sum(F.when(F.col("c_src") & F.col("c_dst"), 1).otherwise(0))
            .cast("long").alias("e_cc"),
            F.sum(F.when(F.col("c_src") != F.col("c_dst"), 1).otherwise(0))
            .cast("long").alias("e_cp"),
            F.sum(F.when(~F.col("c_src") & ~F.col("c_dst"), 1).otherwise(0))
            .cast("long").alias("e_pp"),
        )
    )

    def _den(e: str, pairs: str) -> Column:
        p = F.expr(pairs)
        return F.when(
            p > 0, F.round(F.col(e).cast("double") / p.cast("double"), 9)
        )

    return (
        kmax.join(sizes).join(blocks)
        .select(
            "kmax", "n_core", "n_periph", "e_cc", "e_cp", "e_pp",
            _den("e_cc", "n_core * (n_core - 1) div 2").alias("density_cc"),
            _den("e_cp", "n_core * n_periph").alias("density_cp"),
            _den("e_pp", "n_periph * (n_periph - 1) div 2")
            .alias("density_pp"),
        )
    )


def _sql_core_periphery(steps: int = _CORE_PERIPHERY_STEPS) -> str:
    """The core_number H-index unroll transplanted onto the parts
    projection, then the three-block density roll-up."""
    parts = [_SQL_PARTS + """
, syme AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION SELECT hi, lo FROM und
),
c0 AS MATERIALIZED (
  SELECT s AS actor, CAST(COUNT(*) AS BIGINT) AS c FROM syme GROUP BY s
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
c{k} AS MATERIALIZED (
  SELECT p.actor, LEAST(p.c, h.h) AS c
  FROM c{k-1} p JOIN (
    SELECT actor, MAX(LEAST(m, cum)) AS h FROM (
      SELECT sub.actor, sub.m,
             CAST(SUM(sub.cnt) OVER (
               PARTITION BY sub.actor ORDER BY sub.m DESC) AS BIGINT) AS cum
      FROM (
        SELECT syme.d AS actor, q.c AS m, COUNT(*) AS cnt
        FROM syme JOIN c{k-1} q ON q.actor = syme.s
        GROUP BY syme.d, q.c) sub
    ) ranked GROUP BY actor) h ON h.actor = p.actor
)""")
    parts.append(f""",
cn AS MATERIALIZED (SELECT actor, c AS core FROM c{steps}),
km AS (SELECT MAX(core) AS kmax FROM cn),
lab AS (
  SELECT actor, core = (SELECT kmax FROM km) AS is_core FROM cn
),
sizes AS (
  SELECT CAST(SUM(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT)
           AS n_core,
         CAST(SUM(CASE WHEN is_core THEN 0 ELSE 1 END) AS BIGINT)
           AS n_periph
  FROM lab
),
blocks AS (
  SELECT
    CAST(SUM(CASE WHEN a.is_core AND b.is_core THEN 1 ELSE 0 END)
         AS BIGINT) AS e_cc,
    CAST(SUM(CASE WHEN a.is_core <> b.is_core THEN 1 ELSE 0 END)
         AS BIGINT) AS e_cp,
    CAST(SUM(CASE WHEN NOT a.is_core AND NOT b.is_core THEN 1 ELSE 0 END)
         AS BIGINT) AS e_pp
  FROM und
  JOIN lab a ON a.actor = und.lo
  JOIN lab b ON b.actor = und.hi
)
SELECT km.kmax, sizes.n_core, sizes.n_periph,
       blocks.e_cc, blocks.e_cp, blocks.e_pp,
       CASE WHEN n_core * (n_core - 1) // 2 > 0
            THEN ROUND(CAST(e_cc AS DOUBLE)
                       / CAST(n_core * (n_core - 1) // 2 AS DOUBLE), 9)
       END AS density_cc,
       CASE WHEN n_core * n_periph > 0
            THEN ROUND(CAST(e_cp AS DOUBLE)
                       / CAST(n_core * n_periph AS DOUBLE), 9)
       END AS density_cp,
       CASE WHEN n_periph * (n_periph - 1) // 2 > 0
            THEN ROUND(CAST(e_pp AS DOUBLE)
                       / CAST(n_periph * (n_periph - 1) // 2 AS DOUBLE), 9)
       END AS density_pp
FROM km CROSS JOIN sizes CROSS JOIN blocks
""")
    return "".join(parts)


SQL_CORE_PERIPHERY = _sql_core_periphery()


# hitting_time fixed iteration budget: both engines run exactly k
# Bellman steps (value iteration from below), so capped == unrolled by
# construction — the markov_step8 contract.
_HITTING_STEPS = 8


def q_hitting_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected hitting time to the min-id landmark under the uniform
    random walk on the part co-order graph — 8 Bellman value-iteration
    steps in exact integer micro-steps (algos/hitting.py contract:
    zero FP, order-independent integer sums, one integer floor
    division per vertex per step)."""
    from mesos_pregel_spark.algos.hitting import hitting_time

    prof, _run = hitting_time(
        spark, _parts_edges(spark, sf_dir),
        max_supersteps=_HITTING_STEPS, edge_partitions=8,
    )
    return prof.select(F.col("id").alias("part"), F.col("h").alias("h_micro"))


def _sql_hitting_time(steps: int = _HITTING_STEPS) -> str:
    """Unrolled integer Bellman recurrence on the parts projection:
    h0 = 0; h_k(v) = 10^6 + (sum of neighbor h_{k-1}) // deg(v),
    landmark (MIN id) pinned to 0 every step."""
    parts = [_SQL_PARTS + """
, syme AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION SELECT hi, lo FROM und
),
lm AS (SELECT MIN(id) AS m FROM pdeg),
h0 AS MATERIALIZED (SELECT id, CAST(0 AS BIGINT) AS h FROM pdeg)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
h{k} AS MATERIALIZED (
  SELECT p.id,
         CASE WHEN p.id = (SELECT m FROM lm) THEN CAST(0 AS BIGINT)
              ELSE CAST(1000000 + COALESCE(s.hs, 0) // p.deg AS BIGINT)
         END AS h
  FROM pdeg p LEFT JOIN (
    SELECT syme.d AS id, SUM(q.h) AS hs
    FROM syme JOIN h{k-1} q ON q.id = syme.s
    GROUP BY syme.d) s ON s.id = p.id
)""")
    parts.append(f"""
SELECT id AS part, h AS h_micro FROM h{steps}
""")
    return "".join(parts)


SQL_HITTING_TIME = _sql_hitting_time()


def q_coreness_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortativity by CORE NUMBER (the k-shell analogue of Newman
    2002 degree mixing): Pearson correlation of endpoint coreness over
    both edge orientations — do deep-core vertices attach to each
    other (nested-core topology) or to the periphery (star-like)?
    Degree mixing can look neutral while core mixing is strongly
    positive; this is the structural read-out core_periphery's block
    densities summarize coarsely.

    Pinned: coreness = the exact capped H-index schedule shared with
    core_periphery; the six sufficient statistics (n, Σx, Σy, Σx²,
    Σy², Σxy) are exact BIGINT sums of integers, so the one final
    double expression is bit-identical cross-engine (the
    degree_assortativity contract verbatim, with core values in place
    of degrees)."""
    from mesos_pregel_spark.algos.kcore import core_number

    und_w = _parts_edges(spark, sf_dir)
    cores, _run = core_number(
        spark, und_w, max_supersteps=_CORE_PERIPHERY_STEPS, edge_partitions=8
    )
    und = und_w.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    pairs = (
        und.unionByName(
            und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
        )
        .join(cores.withColumnsRenamed({"id": "lo", "core": "cx"}), "lo")
        .join(cores.withColumnsRenamed({"id": "hi", "core": "cy"}), "hi")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cx").alias("sx"),
        F.sum("cy").alias("sy"),
        F.sum(F.col("cx") * F.col("cx")).alias("sxx"),
        F.sum(F.col("cy") * F.col("cy")).alias("syy"),
        F.sum(F.col("cx") * F.col("cy")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_endpoints"),
        (num / F.sqrt(denx * deny)).alias("core_mixing"),
    )


def _sql_coreness_mixing(steps: int = _CORE_PERIPHERY_STEPS) -> str:
    """The parts H-index unroll (shared generator body) + the Newman
    sufficient-statistics roll-up over core values."""
    prefix = _sql_core_periphery(steps)
    cut = prefix.index("km AS (")
    return prefix[:cut] + """pairs AS (
  SELECT lo AS x, hi AS y FROM und
  UNION ALL SELECT hi, lo FROM und
),
j AS (
  SELECT CAST(cx.core AS BIGINT) AS cx, CAST(cy.core AS BIGINT) AS cy
  FROM pairs
  JOIN cn cx ON pairs.x = cx.actor
  JOIN cn cy ON pairs.y = cy.actor
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(cx) AS BIGINT) AS sx, CAST(SUM(cy) AS BIGINT) AS sy,
         CAST(SUM(cx * cx) AS BIGINT) AS sxx,
         CAST(SUM(cy * cy) AS BIGINT) AS syy,
         CAST(SUM(cx * cy) AS BIGINT) AS sxy
  FROM j
)
SELECT n AS n_endpoints,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(n * syy - sy * sy AS DOUBLE)) AS core_mixing
FROM s
"""


SQL_CORENESS_MIXING = _sql_coreness_mixing()


def q_clique_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 clique-percolation communities (Palla et al. Nature 2005)
    on the part co-order graph — overlapping communities; a vertex
    sits in every community one of its triangles percolates into
    (algos/cpm.py contract: star-linked edge keys, engine pointer-
    jumping CC, community label = MIN edge-key string)."""
    from mesos_pregel_spark.algos.cpm import clique_communities

    memb, _run = clique_communities(
        spark, _parts_edges(spark, sf_dir), edge_partitions=8
    )
    return memb.select(F.col("id").alias("part"), "community")


# CPM oracle doubling budget: min-label + pointer-jump halves the
# longest label-propagation chain every round, so 20 rounds cover any
# component diameter up to 2^20 — far past driver scale (engine side
# runs the same algebra to fixpoint).
_CPM_ROUNDS = 20


def _sql_clique_communities(rounds: int = _CPM_ROUNDS) -> str:
    """Lex-join triangle enumeration, per-triangle star links on the
    LEAST edge key, then an unrolled hash-min + pointer-jump closure
    (the cc_jump algebra) and the corner-explode membership."""
    parts = [_SQL_PARTS + """
, tri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
keyed AS MATERIALIZED (
  SELECT a, b, c,
         a || '|' || b AS ea, a || '|' || c AS eb, b || '|' || c AS ec,
         LEAST(a || '|' || b, a || '|' || c, b || '|' || c) AS emin
  FROM tri
),
links AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT ea AS src, emin AS dst FROM keyed
    UNION ALL SELECT eb, emin FROM keyed
    UNION ALL SELECT ec, emin FROM keyed
  ) u WHERE src <> dst
),
syml AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM links UNION SELECT dst, src FROM links
),
l0 AS MATERIALIZED (
  SELECT v, v AS lbl FROM (
    SELECT src AS v FROM links UNION SELECT dst FROM links) vs
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT v, MIN(lbl) AS lbl FROM (
    SELECT v, lbl FROM l{k-1}
    UNION ALL
    SELECT s.d AS v, q.lbl FROM syml s JOIN l{k-1} q ON q.v = s.s
    UNION ALL
    SELECT p.v, q.lbl FROM l{k-1} p JOIN l{k-1} q ON q.v = p.lbl
  ) u GROUP BY v
)""")
    parts.append(f"""
SELECT DISTINCT part, community FROM (
  SELECT k.a AS part, l.lbl AS community
  FROM keyed k JOIN l{rounds} l ON l.v = k.emin
  UNION ALL
  SELECT k.b, l.lbl FROM keyed k JOIN l{rounds} l ON l.v = k.emin
  UNION ALL
  SELECT k.c, l.lbl FROM keyed k JOIN l{rounds} l ON l.v = k.emin
) m
""")
    return "".join(parts)


SQL_CLIQUE_COMMUNITIES = _sql_clique_communities()


# dispersion common-neighbor cap: the s-smallest K apexes per edge,
# pinned by (s ASC) — the link_prediction hub-cap discipline; pair
# work is bounded by C(K,2) per edge regardless of embeddedness.
_DISPERSION_CAP = 12


def q_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backstrom-Kleinberg dispersion (WWW 2014 — the "romantic
    partner" tie detector): for an edge (u,v), how SPREAD OUT are
    their common neighbors — the count of common-neighbor pairs with
    NO edge between them.  High dispersion = u and v bridge otherwise
    unconnected spheres (family, work, ...) — the signature of a
    partner/backbone tie, where embeddedness alone just measures one
    dense cluster.

    Pinned cross-engine semantics: common neighbors come from the
    triangle list (each apex once per edge); the per-edge set is
    CAPPED at the _DISPERSION_CAP smallest apex ids (deterministic
    total order, the hub-cap discipline of link_prediction);
    dispersion = exact long count of capped apex pairs (s < t) absent
    from the edge table; output = top 100 edges by the all-integer
    order (disp DESC, lo ASC, hi ASC) — deterministic LIMIT.

    Scale shape: apex capping is one row_number window over the
    triangle-derived (edge, apex) rows; pair enumeration is a capped
    self-join (<= C(K,2) rows per edge); adjacency is one left join
    against the distinct edge table on the (s,t) key; one hash
    aggregate + TakeOrdered.  No per-row Python."""
    from mesos_pregel_spark.algos.triangles import triangle_tuples
    from pyspark.sql import Window

    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    tri = triangle_tuples(spark, _parts_edges(spark, sf_dir))
    cn = (
        tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"),
                   F.col("c").alias("s"))
        .unionByName(tri.select(F.col("a").alias("lo"),
                                F.col("c").alias("hi"),
                                F.col("b").alias("s")))
        .unionByName(tri.select(F.col("b").alias("lo"),
                                F.col("c").alias("hi"),
                                F.col("a").alias("s")))
    )
    w = Window.partitionBy("lo", "hi").orderBy("s")
    capped = (
        cn.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _DISPERSION_CAP)
        .select("lo", "hi", "s")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = a.join(
        b, (F.col("a.lo") == F.col("b.lo")) & (F.col("a.hi") == F.col("b.hi"))
        & (F.col("a.s") < F.col("b.s"))
    ).select(
        F.col("a.lo").alias("lo"), F.col("a.hi").alias("hi"),
        F.col("a.s").alias("s"), F.col("b.s").alias("t"),
    )
    adj = und.select(F.col("lo").alias("s"), F.col("hi").alias("t"),
                     F.lit(1).alias("linked"))
    scored = (
        pairs.join(adj, ["s", "t"], "left_outer")
        .groupBy("lo", "hi")
        .agg(
            F.sum(F.when(F.col("linked").isNull(), 1).otherwise(0))
            .cast("long").alias("disp"),
        )
    )
    emb = capped.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("emb")
    )
    out = (
        emb.join(scored, ["lo", "hi"], "left_outer")
        .select("lo", "hi", "emb",
                F.coalesce("disp", F.lit(0)).cast("long").alias("disp"))
    )
    # materialize BEFORE dropping tri: a lazy res would recompute the
    # triangle pipeline once per branch at collect time
    res = out.orderBy(F.desc("disp"), "lo", "hi").limit(100) \
        .localCheckpoint(eager=True)
    tri.unpersist()
    return res


# ego-net sampling knobs: 4 derandomized md5-min seeds, 2 hops,
# per-vertex fanout capped at the 8 smallest neighbor ids — every
# choice a pinned total order, so the sample is a pure function of
# the graph (reproducible across runs, partitionings and engines).
_EGO_SEEDS = 4
_EGO_FANOUT = 8


# Derandomized independent-cascade knobs: edge survival is the pinned
# 48-bit md5 uniform on the CANONICAL edge key (both directions share
# fate -> undirected percolation), p = 0.5, 4 md5-min seeds on the
# percolated vertex set, 8 BFS rounds.
_IC_SEED = "ic42"
_IC_DEPTH = 8


def q_ic_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-cascade spread, DERANDOMIZED (Kempe-Kleinberg-Tardos
    2003 via its percolation equivalence: IC activation = reachability
    over edges that flip a success coin ONCE) — the md5 uniform IS the
    coin, so the cascade is a pure function of the graph and seed
    string: activation profile = exact per-hop reach counts of the
    4 md5-min seeds on the surviving subgraph.

    The stochastic-spread companion of lt_spread's threshold model:
    LT asks "how many neighbors push you over", IC asks "which edges
    happened to transmit".

    Pinned: survival u48(md5('ic42:' || lo || '|' || hi)) < 0.5 on the
    canonical key; seeds from the percolated vertex set by the
    engine-standard (md5(string(id)), id) order; hop counts via the
    k-lane unit-weight Bellman-Ford kernel capped at 8 supersteps =
    the twin's recursion cap (asymmetric caps would diverge).

    Scale shape: the percolation filter is one JVM md5 projection (no
    shuffle); the cascade rides the shared k-lane kernel — lanes share
    one scatter per round."""
    from mesos_pregel_spark.algos.landmarks import landmark_distances

    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|",
                                  F.lit(_IC_SEED),
                                  F.col("lo").cast("string"),
                                  F.col("hi").cast("string"))),
                1, 12,
            ), 16, 10,
        ).cast("long") / F.lit(281474976710656.0)
    )
    kept = und.where(u < F.lit(0.5))
    e = (
        kept.select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        .unionByName(kept.select(F.col("hi").alias("src"),
                                 F.col("lo").alias("dst")))
        .withColumn("weight", F.lit(1.0))
    )
    seeds = [
        r["id"]
        for r in e.select(F.col("src").alias("id")).distinct()
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(4).collect()
    ]
    dists, _run = landmark_distances(
        spark, e, seeds, max_supersteps=_IC_DEPTH, edge_partitions=8
    )
    lanes = None
    for i in range(len(seeds)):
        part = dists.where(F.col(f"d{i}").isNotNull()).select(
            F.lit(i).cast("long").alias("lane"),
            F.col(f"d{i}").cast("long").alias("hop"),
        )
        lanes = part if lanes is None else lanes.unionByName(part)
    return lanes.where(F.col("hop") <= _IC_DEPTH).groupBy("lane", "hop").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


SQL_IC_SPREAD = _SQL_PARTS.replace("WITH op", "WITH RECURSIVE op") + f"""
, kept AS MATERIALIZED (
  SELECT lo, hi FROM und
  WHERE ('0x' || substr(MD5('{_IC_SEED}|' || CAST(lo AS VARCHAR)
                        || '|' || CAST(hi AS VARCHAR)), 1, 12))::BIGINT
        / 281474976710656.0 < 0.5
),
syme AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM kept UNION SELECT hi, lo FROM kept
),
lms AS MATERIALIZED (
  -- seeds picked by the md5-min order; LANES numbered by ascending id
  -- (the landmark-kernel contract: lane i = i-th smallest landmark)
  SELECT id AS a, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS BIGINT)
           AS lane
  FROM (SELECT DISTINCT s AS id FROM syme
        ORDER BY md5(CAST(s AS VARCHAR)), s LIMIT 4) t
),
reach AS (
  SELECT lane, a AS v, 0 AS hop FROM lms
  UNION
  SELECT r.lane, e.d AS v, r.hop + 1 AS hop
  FROM reach r JOIN syme e ON e.s = r.v
  WHERE r.hop < {_IC_DEPTH}
),
best AS (
  SELECT lane, v, MIN(hop) AS hop FROM reach GROUP BY lane, v
)
SELECT lane, CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS n
FROM best GROUP BY lane, hop
"""


# Bond-percolation rungs: the classic giant-component-vs-p curve.
_PERC_PS = (0.3, 0.5, 0.7)


def q_percolation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation profile (Callaway-Newman-Strogatz-Watts PRL
    2000, derandomized): keep each canonical edge iff its pinned
     48-bit md5 uniform < p, then measure the giant connected
    component's share at each rung — the edge-failure robustness curve
    next to A37's targeted-attack and error_tolerance's vertex-failure
    profiles (bond vs site percolation).  The nested property is free
    documentation: the p=0.3 edge set is a SUBSET of p=0.5's (same
    uniform), so the curve is monotone by construction.

    Pinned: the same md5-coin family as ic_spread (seed 'perc42');
    components via the engine's hash-min CC per rung; isolated
    vertices (all edges failed) count as size-1 components over the
    FULL vertex set (the robustness convention); exact longs, ONE
    rounded division per rung.

    Scale shape: the filter is a JVM md5 projection; each rung is one
    CC run over a strictly smaller edge set; the roll-up is a 1-row
    aggregate per rung."""
    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    n_vertices = (
        und.select(F.col("lo").alias("id"))
        .unionByName(und.select(F.col("hi").alias("id")))
        .distinct().count()
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|",
                                  F.lit("perc42"),
                                  F.col("lo").cast("string"),
                                  F.col("hi").cast("string"))),
                1, 12,
            ), 16, 10,
        ).cast("long") / F.lit(281474976710656.0)
    )
    rows = None
    for p in _PERC_PS:
        kept = und.where(u < F.lit(p))
        n_kept = kept.count()
        if n_kept == 0:
            giant = 1 if n_vertices else 0
        else:
            comps, _run = connected_components(
                spark,
                kept.select(F.col("lo").alias("src"),
                            F.col("hi").alias("dst"),
                            F.lit(1.0).alias("weight")),
                edge_partitions=8,
            )
            sizes = comps.groupBy("component").agg(
                F.count(F.lit(1)).alias("n")
            )
            giant = sizes.agg(F.max("n")).collect()[0][0] or 1
        r = spark.createDataFrame(
            [(float(p), int(n_vertices), int(n_kept), int(giant))],
            "p double, n_vertices long, n_edges_kept long, giant long",
        ).select(
            "p", "n_vertices", "n_edges_kept", "giant",
            F.round(
                F.col("giant").cast("double")
                / F.col("n_vertices").cast("double"), 9
            ).alias("giant_share"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def _sql_percolation_profile(ps: tuple = _PERC_PS) -> str:
    parts = ["""
WITH RECURSIVE op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
und AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
uu AS MATERIALIZED (
  SELECT lo, hi,
         ('0x' || substr(MD5('perc42|' || CAST(lo AS VARCHAR)
                          || '|' || CAST(hi AS VARCHAR)), 1, 12))::BIGINT
         / 281474976710656.0 AS u
  FROM und
),
nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices FROM (
  SELECT lo AS id FROM und UNION SELECT hi FROM und) v)"""]
    for i, p in enumerate(ps):
        parts.append(f""",
kept{i} AS MATERIALIZED (SELECT lo, hi FROM uu WHERE u < {p!r}),
sym{i} AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM kept{i} UNION SELECT hi, lo FROM kept{i}
),
reach{i} AS (
  SELECT s AS v, s AS c FROM sym{i}
  UNION
  SELECT sym{i}.d, r.c FROM reach{i} r JOIN sym{i} ON sym{i}.s = r.v
),
comp{i} AS (SELECT v, MIN(c) AS c FROM reach{i} GROUP BY v),
giant{i} AS (
  SELECT COALESCE(MAX(n), 1) AS giant FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM comp{i} GROUP BY c) s
),
ek{i} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges_kept FROM kept{i})""")
    rungs = "\nUNION ALL\n".join(
        f"""SELECT CAST({p!r} AS DOUBLE) AS p,
       nv.n_vertices, ek{i}.n_edges_kept,
       CAST(giant{i}.giant AS BIGINT) AS giant,
       ROUND(CAST(giant{i}.giant AS DOUBLE)
             / CAST(nv.n_vertices AS DOUBLE), 9) AS giant_share
FROM nv CROSS JOIN ek{i} CROSS JOIN giant{i}"""
        for i, p in enumerate(ps)
    )
    parts.append("\n" + rungs + "\n")
    return "".join(parts)


SQL_PERCOLATION = _sql_percolation_profile()


def q_ego_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic capped snowball sample (the ego-net extraction a
    debugging/visualization workflow runs against a production graph —
    Goodman 1961 snowball sampling, derandomized): from each of the 4
    md5-min seed vertices, expand 2 hops keeping at most the 8
    smallest-id neighbors per expanded vertex.

    Pinned: seeds by the engine-standard (md5(string(id)), id) order;
    the fanout cap is a ROW_NUMBER prefix of the neighbor list ordered
    by id ASC (purely local, oracle = the same window); expansion
    edges are emitted with their hop and deduped on (seed, hop, src,
    dst).  Output ≤ seeds·(C + C²) rows by construction.

    Scale shape: the capped adjacency is ONE per-src window over the
    sym edge table (partition size bounded by that vertex's degree —
    the reply_latency regime; a production variant would pre-bucket
    hub adjacencies, documented not needed at driver scale); the two
    hops are two joins against the tiny frontier.  No iteration."""
    from pyspark.sql import Window

    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    sym = und.select(F.col("lo").alias("s"), F.col("hi").alias("d")) \
        .unionByName(und.select(F.col("hi").alias("s"),
                                F.col("lo").alias("d")))
    w = Window.partitionBy("s").orderBy("d")
    capped = sym.withColumn("rn", F.row_number().over(w)) \
        .where(F.col("rn") <= _EGO_FANOUT).select("s", "d")
    verts = sym.select(F.col("s").alias("id")).distinct()
    seeds = verts.orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    ).limit(_EGO_SEEDS).select(F.col("id").alias("seed"))

    hop1 = seeds.join(capped, seeds["seed"] == capped["s"]).select(
        "seed", F.lit(1).cast("int").alias("hop"),
        F.col("s").alias("src"), F.col("d").alias("dst"),
    )
    hop2 = hop1.select("seed", F.col("dst").alias("u")).join(
        capped, F.col("u") == capped["s"]
    ).select(
        "seed", F.lit(2).cast("int").alias("hop"),
        F.col("s").alias("src"), F.col("d").alias("dst"),
    )
    return hop1.unionByName(hop2).distinct()


SQL_EGO_NET = _SQL_PARTS + f"""
, syme AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION SELECT hi, lo FROM und
),
capped AS MATERIALIZED (
  SELECT s, d FROM (
    SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s ORDER BY d) AS rn
    FROM syme) r
  WHERE rn <= {_EGO_FANOUT}
),
seeds AS (
  SELECT id AS seed FROM (
    SELECT id FROM pdeg ORDER BY md5(CAST(id AS VARCHAR)), id
    LIMIT {_EGO_SEEDS}) t
),
hop1 AS (
  SELECT seed, CAST(1 AS INT) AS hop, c.s AS src, c.d AS dst
  FROM seeds JOIN capped c ON c.s = seeds.seed
),
hop2 AS (
  SELECT h.seed, CAST(2 AS INT) AS hop, c.s AS src, c.d AS dst
  FROM hop1 h JOIN capped c ON c.s = h.dst
)
SELECT DISTINCT seed, hop, src, dst FROM (
  SELECT * FROM hop1 UNION ALL SELECT * FROM hop2) u
"""


def q_forman_curvature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Forman-Ricci curvature per edge (Forman 2003; the
    graph form popularized by Sreejith et al. J.Stat.Mech 2016):
    F(e) = 4 − deg(u) − deg(v) + 3·t(e) where t(e) = triangles on the
    edge.  Strongly NEGATIVE edges are the hub-to-hub bridges traffic
    must squeeze through (the curvature view of edge betweenness,
    computed without any shortest paths); positive edges sit inside
    dense clusters.

    Pinned: every quantity is an exact long (degrees from the distinct
    und edge table, t(e) from the triangle list) — zero FP anywhere;
    output = the 100 most negative edges under the all-integer total
    order (curv ASC, lo ASC, hi ASC), a deterministic LIMIT.

    Scale shape: one degree aggregate + two broadcast-joinable
    vertex-map joins + one per-edge triangle count (A4's kernel) +
    TakeOrdered.  No iteration, no windows over edges."""
    from mesos_pregel_spark.algos.triangles import triangle_tuples

    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    deg = (
        und.select(F.col("lo").alias("id"))
        .unionByName(und.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tri = triangle_tuples(spark, _parts_edges(spark, sf_dir))
    emb = (
        tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
        .unionByName(tri.select(F.col("a").alias("lo"),
                                F.col("c").alias("hi")))
        .unionByName(tri.select(F.col("b").alias("lo"),
                                F.col("c").alias("hi")))
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    out = (
        und.join(deg.withColumnsRenamed({"id": "lo", "deg": "deg_lo"}), "lo")
        .join(deg.withColumnsRenamed({"id": "hi", "deg": "deg_hi"}), "hi")
        .join(emb, ["lo", "hi"], "left_outer")
        .select(
            "lo", "hi", "deg_lo", "deg_hi",
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            (F.lit(4) - F.col("deg_lo") - F.col("deg_hi")
             + F.lit(3) * F.coalesce("t", F.lit(0))).cast("long")
            .alias("curvature"),
        )
        .orderBy("curvature", "lo", "hi")
        .limit(100)
    )
    res = out.localCheckpoint(eager=True)
    tri.unpersist()
    return res


SQL_FORMAN = _SQL_PARTS + """
, tri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
emb AS (
  SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS t FROM (
    SELECT a AS lo, b AS hi FROM tri
    UNION ALL SELECT a, c FROM tri
    UNION ALL SELECT b, c FROM tri
  ) u GROUP BY lo, hi
)
SELECT u.lo, u.hi,
       dl.deg AS deg_lo, dh.deg AS deg_hi,
       CAST(COALESCE(emb.t, 0) AS BIGINT) AS triangles,
       CAST(4 - dl.deg - dh.deg + 3 * COALESCE(emb.t, 0) AS BIGINT)
         AS curvature
FROM und u
JOIN pdeg dl ON dl.id = u.lo
JOIN pdeg dh ON dh.id = u.hi
LEFT JOIN emb ON emb.lo = u.lo AND emb.hi = u.hi
ORDER BY curvature, u.lo, u.hi
LIMIT 100
"""


SQL_DISPERSION = _SQL_PARTS + f"""
, tri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
cn AS MATERIALIZED (
  SELECT a AS lo, b AS hi, c AS s FROM tri
  UNION ALL SELECT a, c, b FROM tri
  UNION ALL SELECT b, c, a FROM tri
),
capped AS MATERIALIZED (
  SELECT lo, hi, s FROM (
    SELECT lo, hi, s,
           ROW_NUMBER() OVER (PARTITION BY lo, hi ORDER BY s) AS rn
    FROM cn) r
  WHERE rn <= {_DISPERSION_CAP}
),
pairs AS (
  SELECT a.lo, a.hi, a.s AS s, b.s AS t
  FROM capped a JOIN capped b
    ON a.lo = b.lo AND a.hi = b.hi AND a.s < b.s
),
scored AS (
  SELECT p.lo, p.hi,
         CAST(SUM(CASE WHEN e.lo IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS disp
  FROM pairs p LEFT JOIN und e ON e.lo = p.s AND e.hi = p.t
  GROUP BY p.lo, p.hi
),
emb AS (
  SELECT lo, hi, CAST(COUNT(*) AS BIGINT) AS emb
  FROM capped GROUP BY lo, hi
)
SELECT emb.lo, emb.hi, emb.emb,
       CAST(COALESCE(scored.disp, 0) AS BIGINT) AS disp
FROM emb LEFT JOIN scored ON scored.lo = emb.lo AND scored.hi = emb.hi
ORDER BY disp DESC, emb.lo, emb.hi
LIMIT 100
"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient — lcc is ONE double
    division of exact integer aggregates, so no rounding epsilon is
    needed for the hash compare (algos/structure.py contract)."""
    from mesos_pregel_spark.algos.structure import clustering_coefficients

    out = clustering_coefficients(spark, _parts_edges(spark, sf_dir))
    return out.select(F.col("id").alias("part"), "deg", "triangles", "lcc")


SQL_CLUSTERING_COEFF = _SQL_PARTS + """
, tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
cnt AS (
  SELECT id, COUNT(*) AS triangles FROM (
    SELECT a AS id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) u
  GROUP BY id
)
SELECT d.id AS part, d.deg, COALESCE(cnt.triangles, 0) AS triangles,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * COALESCE(cnt.triangles, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS lcc
FROM pdeg d LEFT JOIN cnt ON d.id = cnt.id
"""


def q_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mesos_pregel_spark.algos.structure import global_clustering

    return global_clustering(spark, _parts_edges(spark, sf_dir))


SQL_TRANSITIVITY = _SQL_PARTS + """
, tri AS (
  SELECT e1.lo AS a
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
t AS (SELECT COUNT(*) AS tris FROM tri),
w AS (SELECT CAST(COALESCE(SUM(deg * (deg - 1)), 0) // 2 AS BIGINT)
        AS wedges FROM pdeg)
SELECT t.tris AS triangles, w.wedges,
       CASE WHEN w.wedges > 0 THEN 3.0 * t.tris / w.wedges
            ELSE 0.0 END AS transitivity
FROM t, w
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mesos_pregel_spark.algos.structure import degree_assortativity

    return degree_assortativity(spark, _parts_edges(spark, sf_dir))


SQL_ASSORTATIVITY = _SQL_PARTS + """
, pairs AS (
  SELECT lo AS x, hi AS y FROM und
  UNION ALL SELECT hi, lo FROM und
),
j AS (
  SELECT CAST(dx.deg AS BIGINT) AS dx, CAST(dy.deg AS BIGINT) AS dy
  FROM pairs
  JOIN pdeg dx ON pairs.x = dx.id
  JOIN pdeg dy ON pairs.y = dy.id
),
s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM j
)
SELECT n AS n_endpoints,
       CAST(n * sxy - sx * sy AS DOUBLE)
       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
              * CAST(n * syy - sy * sy AS DOUBLE)) AS assortativity
FROM s
"""


_LINKPRED_MIN_COMMON = 3
_LINKPRED_TOPK = 100


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted links by Jaccard neighbor overlap (ties fully
    ordered by (cn, part_a, part_b) — deterministic LIMIT)."""
    from mesos_pregel_spark.algos.structure import link_prediction

    out = link_prediction(
        spark, _parts_edges(spark, sf_dir),
        min_common=_LINKPRED_MIN_COMMON, top_k=_LINKPRED_TOPK,
    )
    return out.select(
        F.col("lo").alias("part_a"), F.col("hi").alias("part_b"),
        "cn", "jaccard",
    )


SQL_LINK_PREDICTION = _SQL_PARTS + f"""
, adj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und
  UNION ALL SELECT hi, lo FROM und
),
cn AS (
  SELECT a.nbr AS lo, b.nbr AS hi, COUNT(*) AS cn
  FROM adj a JOIN adj b ON a.v = b.v AND a.nbr < b.nbr
  GROUP BY 1, 2
),
cand AS (
  SELECT c.lo, c.hi, c.cn,
         CAST(c.cn AS DOUBLE)
         / CAST(dl.deg + dh.deg - c.cn AS DOUBLE) AS jaccard
  FROM cn c
  LEFT JOIN und u ON u.lo = c.lo AND u.hi = c.hi
  JOIN pdeg dl ON dl.id = c.lo
  JOIN pdeg dh ON dh.id = c.hi
  WHERE u.lo IS NULL AND c.cn >= {_LINKPRED_MIN_COMMON}
)
SELECT lo AS part_a, hi AS part_b, cn, jaccard FROM cand
ORDER BY jaccard DESC, cn DESC, lo, hi LIMIT {_LINKPRED_TOPK}
"""


def q_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted links by resource-allocation index; the score
    is an exact scaled-integer sum (RA_SCALE div deg per shared
    neighbour) on both engines, ordered all-integer, so the LIMIT is
    deterministic and the twin bit-exact."""
    from mesos_pregel_spark.algos.structure import link_prediction_ra

    out = link_prediction_ra(
        spark, _parts_edges(spark, sf_dir),
        min_common=_LINKPRED_MIN_COMMON, top_k=_LINKPRED_TOPK,
    )
    return out.select(
        F.col("lo").alias("part_a"), F.col("hi").alias("part_b"),
        "cn", "ra",
    )


SQL_LINK_PREDICTION_RA = _SQL_PARTS + f"""
, adj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und
  UNION ALL SELECT hi, lo FROM und
),
adjw AS (
  SELECT a.v, a.nbr, 1000000000000 // d.deg AS ra_unit
  FROM adj a JOIN pdeg d ON d.id = a.v
),
pair AS (
  SELECT a.nbr AS lo, b.nbr AS hi,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(a.ra_unit) AS BIGINT) AS ra_num
  FROM adjw a JOIN adj b ON a.v = b.v AND a.nbr < b.nbr
  GROUP BY 1, 2
),
cand AS (
  SELECT p.lo, p.hi, p.cn, p.ra_num,
         CAST(p.ra_num AS DOUBLE) / 1000000000000.0 AS ra
  FROM pair p
  LEFT JOIN und u ON u.lo = p.lo AND u.hi = p.hi
  WHERE u.lo IS NULL AND p.cn >= {_LINKPRED_MIN_COMMON}
)
SELECT lo AS part_a, hi AS part_b, cn, ra FROM cand
ORDER BY ra_num DESC, cn DESC, lo, hi LIMIT {_LINKPRED_TOPK}
"""


def q_link_prediction_aa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted links by Adamic–Adar; ln(deg) is rounded to
    6dp BEFORE the scaled-integer unit is formed (tfidf discipline),
    so the per-pair sum is exact-integer on both engines and the
    all-integer ordering makes the LIMIT deterministic."""
    from mesos_pregel_spark.algos.structure import link_prediction_aa

    out = link_prediction_aa(
        spark, _parts_edges(spark, sf_dir),
        min_common=_LINKPRED_MIN_COMMON, top_k=_LINKPRED_TOPK,
    )
    return out.select(
        F.col("lo").alias("part_a"), F.col("hi").alias("part_b"),
        "cn", "aa",
    )


SQL_LINK_PREDICTION_AA = _SQL_PARTS + f"""
, adj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und
  UNION ALL SELECT hi, lo FROM und
),
adjw AS (
  SELECT a.v, a.nbr,
         CAST(ROUND(1000000000000.0
                    / ROUND(LN(CAST(d.deg AS DOUBLE)), 6)) AS BIGINT)
           AS aa_unit
  FROM adj a JOIN pdeg d ON d.id = a.v
  WHERE d.deg >= 2
),
pair AS (
  SELECT a.nbr AS lo, b.nbr AS hi,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(a.aa_unit) AS BIGINT) AS aa_num
  FROM adjw a JOIN adjw b ON a.v = b.v AND a.nbr < b.nbr
  GROUP BY 1, 2
),
cand AS (
  SELECT p.lo, p.hi, p.cn, p.aa_num,
         CAST(p.aa_num AS DOUBLE) / 1000000000000.0 AS aa
  FROM pair p
  LEFT JOIN und u ON u.lo = p.lo AND u.hi = p.hi
  WHERE u.lo IS NULL AND p.cn >= {_LINKPRED_MIN_COMMON}
)
SELECT lo AS part_a, hi AS part_b, cn, aa FROM cand
ORDER BY aa_num DESC, cn DESC, lo, hi LIMIT {_LINKPRED_TOPK}
"""


_DENSEST_ROUNDS = 8


def q_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Andersen-Chung-Lang local clustering on the parts graph: PPR
    from the minimum part id, sweep by ppr/deg, conductance curve of
    the rank prefixes (algos/sweep.py — the engine's own 4-superstep
    PPR kernel feeds the sweep)."""
    from mesos_pregel_spark.algos.sweep import sweep_cut

    return sweep_cut(spark, _parts_edges(spark, sf_dir))


_SWEEP_INF = 1 << 40


def _sql_sweep_cut(steps: int = 4, max_k: int = 64) -> str:
    parts = ["""
, sym AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION ALL SELECT hi, lo FROM und
),
sd AS (SELECT MIN(id) AS s FROM pdeg),
sp0 AS MATERIALIZED (
  SELECT id, CASE WHEN id = (SELECT s FROM sd) THEN CAST(1.0 AS DOUBLE)
             ELSE CAST(0.0 AS DOUBLE) END AS pr
  FROM pdeg
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
sp{k} AS MATERIALIZED (
  SELECT v.id,
         0.15 * (CASE WHEN v.id = (SELECT s FROM sd)
                 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         + 0.85 * COALESCE(c.mm, CAST(0.0 AS DOUBLE)) AS pr
  FROM pdeg v LEFT JOIN (
    SELECT e.d AS id, SUM(p.pr / dd.deg) AS mm
    FROM sym e
    JOIN sp{k-1} p ON p.id = e.s
    JOIN pdeg dd ON dd.id = e.s
    GROUP BY e.d) c ON c.id = v.id
)""")
    parts.append(f""",
smic AS (
  SELECT id, CAST(ROUND(ROUND(pr, 9) * 1e9) AS BIGINT) AS smicro
  FROM sp{steps}
),
sup AS (
  SELECT s.id, s.smicro, p.deg FROM smic s JOIN pdeg p ON p.id = s.id
  WHERE s.smicro > 0
),
topk AS (
  SELECT id, deg, rk FROM (
    SELECT id, deg,
           ROW_NUMBER() OVER (
             ORDER BY CAST(smicro AS DOUBLE) / CAST(deg AS DOUBLE) DESC,
                      id ASC) AS rk
    FROM sup) WHERE rk <= {max_k}
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
er AS (
  SELECT LEAST(COALESCE(rl.rk, {_SWEEP_INF}),
               COALESCE(rh.rk, {_SWEEP_INF})) AS rmin,
         GREATEST(COALESCE(rl.rk, {_SWEEP_INF}),
                  COALESCE(rh.rk, {_SWEEP_INF})) AS rmax
  FROM und e
  LEFT JOIN topk rl ON rl.id = e.lo
  LEFT JOIN topk rh ON rh.id = e.hi
),
cmin AS (SELECT rmin AS rk, CAST(COUNT(*) AS BIGINT) AS c_min
         FROM er WHERE rmin <= {max_k} GROUP BY 1),
cmax AS (SELECT rmax AS rk, CAST(COUNT(*) AS BIGINT) AS c_max
         FROM er WHERE rmax <= {max_k} GROUP BY 1),
curve AS (
  SELECT t.rk AS i, t.id AS part, t.deg,
         CAST(SUM(t.deg) OVER w AS BIGINT) AS vol,
         CAST(SUM(COALESCE(n.c_min, 0)) OVER w
              - SUM(COALESCE(x.c_max, 0)) OVER w AS BIGINT) AS cut
  FROM topk t
  LEFT JOIN cmin n ON n.rk = t.rk
  LEFT JOIN cmax x ON x.rk = t.rk
  WINDOW w AS (ORDER BY t.rk ROWS UNBOUNDED PRECEDING)
)
SELECT i, part, CAST(deg AS BIGINT) AS deg, vol, cut,
       CASE WHEN LEAST(vol, 2 * (SELECT m FROM mm) - vol) > 0
            THEN ROUND(CAST(cut AS DOUBLE)
                 / CAST(LEAST(vol, 2 * (SELECT m FROM mm) - vol)
                        AS DOUBLE), 9)
       END AS conductance
FROM curve
""")
    return _SQL_PARTS + "".join(parts)


SQL_SWEEP_CUT = _sql_sweep_cut()


def q_molloy_reed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Molloy-Reed criterion on the parts graph — the THEORY number
    the A37/A37b robustness curves measure empirically: a random
    graph with given degrees has a giant component iff
    kappa = <k^2>/<k> > 2 (Molloy-Reed 1995), and the random-failure
    percolation threshold is f_c = 1 - 1/(kappa - 1) (Cohen et al.
    2000) — kappa >> 2 is WHY scale-free graphs survive random
    failure and die under hub attack.

    Pinned: <k> and <k^2> as exact integer sums over the degree
    table (sum_k, sum_k2 — BIGINTs; k^2 ≤ 2^62 for any realistic
    degree), kappa and f_c each ONE pinned double expression rounded
    to 9 dp; f_c is NULL when kappa ≤ 1 (the formula's pole —
    degenerate edgeless/matching-only graphs).  One hash aggregate
    over the |V|-row degree table — nothing else.

    SCALE NOTE (100x): Σ deg² itself can pass 2^63 on a 10^8-vertex
    graph with many 10^6-degree hubs; at that scale swap the two sums
    to decimal(38,0) (Spark) / let DuckDB's HUGEINT promotion stand —
    the heaps_law regression already uses exactly this widening.  The
    BIGINT columns are kept here because the driver's value-hash
    compares integer types, not Decimal, and the testdata scales sit
    ten orders of magnitude below the threshold."""
    deg = (
        _parts_edges(spark, sf_dir)
        .select("src", "dst")
        .distinct()
        .select(F.explode(F.array("src", "dst")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    agg = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("deg").cast("long").alias("sum_k"),
        F.sum(F.col("deg") * F.col("deg")).cast("long").alias("sum_k2"),
    )
    # kappa = <k^2>/<k> = (sum_k2/n)/(sum_k/n) = sum_k2/sum_k — ONE
    # division of exact integers, identical shape in the twin
    kappa = F.col("sum_k2").cast("double") / F.col("sum_k").cast("double")
    return agg.select(
        "n_vertices", "sum_k", "sum_k2",
        F.round(kappa, 9).alias("kappa"),
        F.when(
            kappa > 1.0,
            F.round(F.lit(1.0) - F.lit(1.0) / (kappa - F.lit(1.0)), 9),
        ).alias("f_critical"),
    )


SQL_MOLLOY_REED = _SQL_PARTS + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(SUM(deg) AS BIGINT) AS sum_k,
       CAST(SUM(deg * deg) AS BIGINT) AS sum_k2,
       ROUND(CAST(SUM(deg * deg) AS DOUBLE) / CAST(SUM(deg) AS DOUBLE), 9)
         AS kappa,
       CASE WHEN CAST(SUM(deg * deg) AS DOUBLE) / CAST(SUM(deg) AS DOUBLE)
                 > 1.0
            THEN ROUND(1.0 - 1.0 /
                 (CAST(SUM(deg * deg) AS DOUBLE)
                  / CAST(SUM(deg) AS DOUBLE) - 1.0), 9)
       END AS f_critical
FROM pdeg
"""


def q_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round Weisfeiler-Lehman color refinement on the parts graph
    (algos/wl.py — structural-role signatures; sorted neighbor
    multiset + md5 digest, order-independent by construction)."""
    from mesos_pregel_spark.algos.wl import wl_colors

    out = wl_colors(spark, _parts_edges(spark, sf_dir), rounds=3)
    return out.select(F.col("id").alias("part"), "wl_color", "class_size")


def _sql_wl_colors(rounds: int = 3) -> str:
    parts = ["""
, wsym AS MATERIALIZED (
  SELECT lo AS s, hi AS d FROM und UNION ALL SELECT hi, lo FROM und
),
w0 AS MATERIALIZED (
  SELECT id, CAST(deg AS VARCHAR) AS color FROM pdeg
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
w{k} AS MATERIALIZED (
  SELECT p.id,
         md5(p.color || '|' ||
             array_to_string(list_sort(list(c.color)), ',')) AS color
  FROM w{k-1} p
  JOIN wsym e ON e.d = p.id
  JOIN w{k-1} c ON c.id = e.s
  GROUP BY p.id, p.color
)""")
    parts.append(f""",
wsizes AS (
  SELECT color, CAST(COUNT(*) AS BIGINT) AS class_size
  FROM w{rounds} GROUP BY 1
)
SELECT w.id AS part, w.color AS wl_color, s.class_size
FROM w{rounds} w JOIN wsizes s ON s.color = w.color
""")
    return _SQL_PARTS + "".join(parts)


SQL_WL_COLORS = _sql_wl_colors()


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-peel densest subgraph (eps=1/2); the oracle unrolls the
    IDENTICAL 8-round schedule, and every density and cut comparison
    is exact-integer on both sides (algos/structure.py contract)."""
    from mesos_pregel_spark.algos.structure import densest_subgraph

    out, _run = densest_subgraph(
        spark, _parts_edges(spark, sf_dir), max_rounds=_DENSEST_ROUNDS,
    )
    return out.select(F.col("id").alias("part"), "density", "best_round")


def _sql_densest(rounds: int = _DENSEST_ROUNDS) -> str:
    parts = ["""
, v0 AS MATERIALIZED (SELECT id FROM pdeg),
e0 AS MATERIALIZED (SELECT lo, hi FROM und)"""]
    for t in range(rounds):
        parts.append(f""",
st{t} AS MATERIALIZED (
  SELECT (SELECT COUNT(*) FROM v{t}) AS nv,
         (SELECT COUNT(*) FROM e{t}) AS ne),
dg{t} AS (
  SELECT v.id, COALESCE(d.c, 0) AS deg
  FROM v{t} v LEFT JOIN (
    SELECT id, COUNT(*) AS c FROM (
      SELECT lo AS id FROM e{t} UNION ALL SELECT hi FROM e{t}) u
    GROUP BY id) d ON v.id = d.id),
rm{t} AS MATERIALIZED (
  SELECT id FROM dg{t}, st{t} WHERE deg * nv <= 3 * ne),
v{t + 1} AS MATERIALIZED (
  SELECT id FROM v{t} WHERE id NOT IN (SELECT id FROM rm{t})),
e{t + 1} AS MATERIALIZED (
  SELECT lo, hi FROM e{t}
  WHERE lo IN (SELECT id FROM v{t + 1})
    AND hi IN (SELECT id FROM v{t + 1}))""")
    vals = ", ".join(
        f"({t}, (SELECT ne FROM st{t}), (SELECT nv FROM st{t}))"
        for t in range(rounds)
    )
    unions = "\n  UNION ALL ".join(
        f"SELECT {t} AS k, id FROM v{t}" for t in range(rounds)
    )
    parts.append(f""",
dens AS (SELECT * FROM (VALUES {vals}) t(k, e, v) WHERE v > 0),
best AS (
  -- argmax by exact integer cross-multiplication (HUGEINT), mirroring
  -- the engine's no-FP-in-the-argmax contract (structure.py); only the
  -- REPORTED density is double
  SELECT d1.k, CAST(d1.e AS DOUBLE) / d1.v AS density FROM dens d1
  WHERE NOT EXISTS (
    SELECT 1 FROM dens d2
    WHERE CAST(d2.e AS HUGEINT) * d1.v > CAST(d1.e AS HUGEINT) * d2.v
       OR (CAST(d2.e AS HUGEINT) * d1.v = CAST(d1.e AS HUGEINT) * d2.v
           AND d2.k < d1.k))),
members AS (
  {unions}
)
SELECT m.id AS part, b.density, CAST(b.k AS BIGINT) AS best_round
FROM members m, best b WHERE m.k = b.k
""")
    return _SQL_PARTS + "".join(parts)


SQL_DENSEST_SUBGRAPH = _sql_densest()


# ---------------------------------------------------------------------------
# community analytics: per-community stats + Newman modularity over the
# engine's own LPA labels (algos/communities.py)
# ---------------------------------------------------------------------------

def q_community_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community (size, internal edges, volume, cut, conductance,
    modularity contribution) for the 20-superstep LPA communities of
    the events actor graph.  All counts exact longs; the two ratios
    are single divisions of exact integers (no FP in any aggregate),
    mirrored by the twin's BIGINT arithmetic."""
    from mesos_pregel_spark.algos.communities import community_stats

    e = _graph_edges(spark, sf_dir)
    labels, _run = label_propagation(
        spark, e, max_supersteps=20, edge_partitions=8
    )
    return community_stats(spark, e, labels)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Newman modularity of the 20-superstep LPA labelling —
    one row (n_communities, modularity); the sum runs over exact
    integer numerators, then divides once."""
    from mesos_pregel_spark.algos.communities import modularity

    e = _graph_edges(spark, sf_dir)
    labels, _run = label_propagation(
        spark, e, max_supersteps=20, edge_partitions=8
    )
    return modularity(spark, e, labels)


# Shared community CTE: LPA l20 labels + canonical undirected substrate
# + per-community exact-integer sufficient statistics.
_COMMUNITY_CTE = """,
cund AS MATERIALIZED (
  SELECT DISTINCT LEAST(src_actor, dst_actor) AS lo,
                  GREATEST(src_actor, dst_actor) AS hi
  FROM edges),
cdeg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT lo AS id FROM cund UNION ALL SELECT hi FROM cund) u GROUP BY id),
cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM cund),
cvol AS (
  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d.deg) AS BIGINT) AS volume
  FROM cdeg d JOIN l20 l ON d.id = l.actor GROUP BY l.label),
cint AS (
  SELECT l1.label, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM cund u JOIN l20 l1 ON u.lo = l1.actor
              JOIN l20 l2 ON u.hi = l2.actor
  WHERE l1.label = l2.label GROUP BY l1.label),
cstats AS (
  SELECT v.label, v.n_vertices,
         COALESCE(i.e_in, 0) AS internal_edges,
         v.volume,
         v.volume - 2 * COALESCE(i.e_in, 0) AS cut,
         4 * cm.m * COALESCE(i.e_in, 0) - v.volume * v.volume AS mod_num,
         LEAST(v.volume, 2 * cm.m - v.volume) AS cond_den,
         cm.m AS m
  FROM cvol v LEFT JOIN cint i ON v.label = i.label CROSS JOIN cm)
"""

SQL_COMMUNITY_STATS = _SQL_EDGES + _lpa_cte(20) + _COMMUNITY_CTE + """
SELECT label, n_vertices, internal_edges, volume, cut,
       ROUND(CASE WHEN cond_den = 0 THEN 0.0
                  ELSE CAST(cut AS DOUBLE) / CAST(cond_den AS DOUBLE) END,
             9) AS conductance,
       ROUND(CAST(mod_num AS DOUBLE) / CAST(4 * m * m AS DOUBLE), 9)
         AS modularity_part
FROM cstats
"""

SQL_MODULARITY = _SQL_EDGES + _lpa_cte(20) + _COMMUNITY_CTE + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       ROUND(CAST(SUM(mod_num) AS DOUBLE)
             / CAST(4 * MAX(m) * MAX(m) AS DOUBLE), 9) AS modularity
FROM cstats
"""


_GREEDY_MOD_STEPS = 4


def q_greedy_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain-style synchronous local-move communities on the parts
    co-order graph, 4 pinned rounds of the exact-integer monotone
    min-label rule (algos/communities.py::greedy_modularity); the twin
    unrolls the same 4 rounds, so the full labelling is bit-exact."""
    from mesos_pregel_spark.algos.communities import greedy_modularity

    out = greedy_modularity(
        spark, _parts_edges(spark, sf_dir), steps=_GREEDY_MOD_STEPS
    )
    return out.select(
        F.col("id").alias("part"), F.col("label").alias("community")
    )


def _sql_greedy_modularity(steps: int) -> str:
    parts = ["""
, gadj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und UNION ALL SELECT hi, lo FROM und),
gmm AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
g0 AS MATERIALIZED (SELECT id AS v, id AS label FROM pdeg)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
vol{k} AS (
  SELECT label, CAST(SUM(deg) AS BIGINT) AS vol
  FROM g{k-1} g JOIN pdeg d ON d.id = g.v GROUP BY label),
cand{k} AS (
  SELECT v, c, CAST(SUM(k) AS BIGINT) AS kvc FROM (
    SELECT a.v, g.label AS c, 1 AS k
    FROM gadj a JOIN g{k-1} g ON g.v = a.nbr
    UNION ALL SELECT v, label AS c, 0 AS k FROM g{k-1}) u
  GROUP BY v, c),
sc{k} AS (
  SELECT c.v, c.c, g.label,
         2 * gmm.m * c.kvc
           - d.deg * (vl.vol - CASE WHEN c.c = g.label
                                    THEN d.deg ELSE 0 END) AS score
  FROM cand{k} c
  JOIN pdeg d ON d.id = c.v
  JOIN vol{k} vl ON vl.label = c.c
  JOIN g{k-1} g ON g.v = c.v
  CROSS JOIN gmm),
g{k} AS MATERIALIZED (
  SELECT v, c AS label FROM (
    SELECT s.v, s.c, s.score,
           ROW_NUMBER() OVER (PARTITION BY s.v
                              ORDER BY s.score DESC, s.c ASC) AS rn
    FROM sc{k} s
    JOIN (SELECT v, score AS own FROM sc{k} WHERE c = label) o
      ON o.v = s.v
    WHERE s.c = s.label OR (s.c < s.label AND s.score > o.own)) r
  WHERE rn = 1)""")
    parts.append(f"""
SELECT v AS part, label AS community FROM g{steps}
""")
    return _SQL_PARTS + "".join(parts)


SQL_GREEDY_MODULARITY = _sql_greedy_modularity(_GREEDY_MOD_STEPS)


_HARMONIC_PIVOTS = 8
_HARMONIC_DEPTH = 6


def q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sampled harmonic centrality on the parts co-order graph:
    8 md5-min pivots, hop BFS truncated at depth 6, per-vertex sum of
    the exact longs HC_SCALE div d (algos/harmonic.py) — one 64-bit
    mask column carries all 8 frontiers, and the only double is the
    final reported ratio."""
    from mesos_pregel_spark.algos.harmonic import HC_SCALE, harmonic_sampled

    out, _run = harmonic_sampled(
        spark, _parts_edges(spark, sf_dir),
        n_pivots=_HARMONIC_PIVOTS, max_depth=_HARMONIC_DEPTH,
        edge_partitions=8,
    )
    return out.select(
        F.col("id").alias("part"),
        "n_reached",
        F.round(F.col("hnum").cast("double") / F.lit(1e12), 9).alias(
            "harmonic"
        ),
    )


# Shared pivot-BFS prefix: md5-min pivots, truncated recursive BFS,
# per-(pivot, vertex) min distance.  SQL_HARMONIC and SQL_ECCENTRICITY
# differ only in the aggregate over hmin — one body, two read-outs,
# so a depth/pivot/recursion fix can never diverge between them.
_SQL_HBFS = _SQL_PARTS.replace("WITH op", "WITH RECURSIVE op") + f""",
hadj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und UNION ALL SELECT hi, lo FROM und),
hsrc AS (
  SELECT id AS s FROM pdeg
  ORDER BY MD5(CAST(id AS VARCHAR)), id LIMIT {_HARMONIC_PIVOTS}),
hbfs AS (
  SELECT s, s AS v, 0 AS d FROM hsrc
  UNION
  SELECT b.s, a.nbr AS v, b.d + 1 AS d
  FROM hbfs b JOIN hadj a ON a.v = b.v
  WHERE b.d < {_HARMONIC_DEPTH}
),
hmin AS (SELECT s, v, MIN(d) AS d FROM hbfs GROUP BY s, v)"""

SQL_HARMONIC = _SQL_HBFS + f""",
hagg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(SUM({10**12} // d) AS BIGINT) AS hnum
  FROM hmin WHERE d >= 1 GROUP BY v)
SELECT p.id AS part,
       CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
       ROUND(CAST(COALESCE(h.hnum, 0) AS DOUBLE) / 1e12, 9) AS harmonic
FROM pdeg p LEFT JOIN hagg h ON h.v = p.id
"""

def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled eccentricity lower bounds on the parts co-order
    graph — ecc_lb(v) = max over the 8 md5-min pivots of d(pivot, v),
    truncated at depth 6; rides the same bit-packed BFS run as
    q_harmonic (the max-depth column is exact integers)."""
    from mesos_pregel_spark.algos.harmonic import harmonic_sampled

    out, _run = harmonic_sampled(
        spark, _parts_edges(spark, sf_dir),
        n_pivots=_HARMONIC_PIVOTS, max_depth=_HARMONIC_DEPTH,
        edge_partitions=8,
    )
    return out.select(
        F.col("id").alias("part"), "n_reached", "ecc_lb"
    )


SQL_ECCENTRICITY = _SQL_HBFS + """,
hagg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(MAX(d) AS BIGINT) AS ecc_lb
  FROM hmin WHERE d >= 1 GROUP BY v)
SELECT p.id AS part,
       CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
       CAST(COALESCE(h.ecc_lb, 0) AS BIGINT) AS ecc_lb
FROM pdeg p LEFT JOIN hagg h ON h.v = p.id
"""


def q_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled closeness on the parts co-order graph —
    closeness(v) = n_reached / sum of hop distances to the reaching
    pivots, the third read-out of the SAME bit-packed BFS run as
    q_harmonic/q_eccentricity (dsum is exact integers; the only
    double is the one reported ratio)."""
    from mesos_pregel_spark.algos.harmonic import harmonic_sampled

    out, _run = harmonic_sampled(
        spark, _parts_edges(spark, sf_dir),
        n_pivots=_HARMONIC_PIVOTS, max_depth=_HARMONIC_DEPTH,
        edge_partitions=8,
    )
    return out.select(
        F.col("id").alias("part"),
        "n_reached",
        "dsum",
        F.when(
            F.col("dsum") > 0,
            F.round(
                F.col("n_reached").cast("double")
                / F.col("dsum").cast("double"), 9
            ),
        ).otherwise(F.lit(0.0)).alias("closeness"),
    )


SQL_CLOSENESS = _SQL_HBFS + """,
hagg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_reached,
         CAST(SUM(d) AS BIGINT) AS dsum
  FROM hmin WHERE d >= 1 GROUP BY v)
SELECT p.id AS part,
       CAST(COALESCE(h.n_reached, 0) AS BIGINT) AS n_reached,
       CAST(COALESCE(h.dsum, 0) AS BIGINT) AS dsum,
       CASE WHEN COALESCE(h.dsum, 0) > 0
            THEN ROUND(CAST(h.n_reached AS DOUBLE)
                       / CAST(h.dsum AS DOUBLE), 9)
            ELSE 0.0 END AS closeness
FROM pdeg p LEFT JOIN hagg h ON h.v = p.id
"""


def q_four_cliques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex exact K4 counts on the parts co-order graph
    (algos/cliques.py — degree-ordered DAG enumeration; the twin uses
    the simpler id-canonical DAG, counts are orientation-independent)."""
    from mesos_pregel_spark.algos.cliques import four_clique_count

    per_vertex, _total = four_clique_count(spark, _parts_edges(spark, sf_dir))
    return per_vertex.select(F.col("id").alias("part"), "k4")


SQL_FOUR_CLIQUES = _SQL_PARTS + """
, ktri AS MATERIALIZED (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
k4 AS MATERIALIZED (
  SELECT t.a, t.b, t.c, e4.hi AS d
  FROM ktri t
  JOIN und e4 ON e4.lo = t.c
  JOIN und e5 ON e5.lo = t.a AND e5.hi = e4.hi
  JOIN und e6 ON e6.lo = t.b AND e6.hi = e4.hi),
kc AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS k4 FROM (
    SELECT a AS id FROM k4 UNION ALL SELECT b FROM k4
    UNION ALL SELECT c FROM k4 UNION ALL SELECT d FROM k4) u
  GROUP BY id)
SELECT p.id AS part, CAST(COALESCE(kc.k4, 0) AS BIGINT) AS k4
FROM pdeg p LEFT JOIN kc ON kc.id = p.id
"""


def q_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-correlation profile knn(k) on the parts co-order graph —
    exact integer numerator/denominator per degree class, one division
    (algos/structure.py::avg_neighbor_degree)."""
    from mesos_pregel_spark.algos.structure import avg_neighbor_degree

    return avg_neighbor_degree(spark, _parts_edges(spark, sf_dir))


SQL_AVG_NEIGHBOR_DEGREE = _SQL_PARTS + """
, bothn AS (
  SELECT lo AS v, hi AS nbr FROM und UNION ALL SELECT hi, lo FROM und),
wsum AS (
  SELECT b.v AS id, CAST(SUM(d.deg) AS BIGINT) AS w
  FROM bothn b JOIN pdeg d ON d.id = b.nbr GROUP BY b.v)
SELECT CAST(p.deg AS BIGINT) AS deg,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(SUM(w.w) AS BIGINT) AS sum_neighbor_deg,
       ROUND(CAST(SUM(w.w) AS DOUBLE)
             / CAST(p.deg * COUNT(*) AS DOUBLE), 9) AS knn
FROM pdeg p JOIN wsum w ON w.id = p.id
GROUP BY p.deg
"""


_EMBED_TOPK = 100


def q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 parts co-order edges by embeddedness (common-neighbor
    support; all-integer ordering ⇒ deterministic LIMIT)."""
    from mesos_pregel_spark.algos.structure import edge_embeddedness

    out = edge_embeddedness(
        spark, _parts_edges(spark, sf_dir), top_k=_EMBED_TOPK
    )
    return out.select(
        F.col("lo").alias("part_a"), F.col("hi").alias("part_b"), "cn"
    )


SQL_EDGE_EMBEDDEDNESS = _SQL_PARTS + f"""
, eadj AS MATERIALIZED (
  SELECT lo AS v, hi AS nbr FROM und UNION ALL SELECT hi, lo FROM und),
ecn AS (
  SELECT a.nbr AS lo, b.nbr AS hi, CAST(COUNT(*) AS BIGINT) AS cn
  FROM eadj a JOIN eadj b ON a.v = b.v AND a.nbr < b.nbr GROUP BY 1, 2),
sup AS (
  SELECT u.lo, u.hi, CAST(COALESCE(c.cn, 0) AS BIGINT) AS cn
  FROM und u LEFT JOIN ecn c ON c.lo = u.lo AND c.hi = u.hi)
SELECT lo AS part_a, hi AS part_b, cn FROM sup
ORDER BY cn DESC, lo, hi LIMIT {_EMBED_TOPK}
"""


def q_butterflies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex butterfly (2x2 biclique) counts on the DIRECTED
    customer→supplier bipartite graph (the msbfs substrate) — the
    bipartite analogue of per-vertex triangle counts
    (algos/bipartite.py)."""
    from mesos_pregel_spark.algos.bipartite import butterfly_counts

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    be = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("l"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("r"),
        )
        .distinct()
    )
    per_vertex, _total = butterfly_counts(spark, be)
    return per_vertex.select(F.col("id").alias("actor"), "butterflies")


def q_bipartite_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robins-Alexander bipartite clustering coefficient on the
    customer→supplier bipartite graph (algos/bipartite.py): one row
    (butterflies, caterpillars, cc4 = 4B/C rounded 9dp, NULL when no
    3-path exists)."""
    from mesos_pregel_spark.algos.bipartite import bipartite_clustering

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    be = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("l"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("r"),
        )
        .distinct()
    )
    return bipartite_clustering(spark, be)


SQL_BIPARTITE_CC = """
WITH be AS MATERIALIZED (
  SELECT DISTINCT 'c:' || o_custkey AS l, 's:' || l_suppkey AS r
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
blp AS (
  SELECT a.l AS x1, b.l AS x2, CAST(COUNT(*) AS BIGINT) AS k
  FROM be a JOIN be b ON a.r = b.r AND a.l < b.l GROUP BY 1, 2),
bft AS (
  SELECT CAST(COALESCE(SUM(k * (k - 1) // 2), 0) AS BIGINT) AS b
  FROM blp WHERE k >= 2),
degl AS (SELECT l, COUNT(*) AS dl FROM be GROUP BY l),
degr AS (SELECT r, COUNT(*) AS dr FROM be GROUP BY r),
cat AS (
  SELECT CAST(COALESCE(SUM((dl - 1) * (dr - 1)), 0) AS BIGINT) AS c
  FROM be JOIN degl USING (l) JOIN degr USING (r))
SELECT bft.b AS butterflies,
       cat.c AS caterpillars,
       CASE WHEN cat.c > 0
            THEN ROUND(4.0 * bft.b / cat.c, 9) END AS cc4
FROM bft, cat
"""


SQL_BUTTERFLIES = """
WITH be AS MATERIALIZED (
  SELECT DISTINCT 'c:' || o_custkey AS l, 's:' || l_suppkey AS r
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
blp AS (
  SELECT a.l AS x1, b.l AS x2, CAST(COUNT(*) AS BIGINT) AS k
  FROM be a JOIN be b ON a.r = b.r AND a.l < b.l GROUP BY 1, 2),
brp AS (
  SELECT a.r AS x1, b.r AS x2, CAST(COUNT(*) AS BIGINT) AS k
  FROM be a JOIN be b ON a.l = b.l AND a.r < b.r GROUP BY 1, 2),
bfall AS (
  SELECT x1, x2, CAST(k * (k - 1) // 2 AS BIGINT) AS bf
  FROM (SELECT * FROM blp UNION ALL SELECT * FROM brp) p WHERE k >= 2),
pv AS (
  SELECT id, CAST(SUM(bf) AS BIGINT) AS butterflies FROM (
    SELECT x1 AS id, bf FROM bfall UNION ALL SELECT x2, bf FROM bfall) u
  GROUP BY id),
bverts AS (
  SELECT DISTINCT id FROM (SELECT l AS id FROM be UNION ALL SELECT r FROM be))
SELECT v.id AS actor,
       CAST(COALESCE(pv.butterflies, 0) AS BIGINT) AS butterflies
FROM bverts v LEFT JOIN pv ON pv.id = v.id
"""


_EDGE_WINDOW_US = 86_400_000_000  # 1-day tumbling windows


def _daily_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared day-windowed edge substrate every *_daily / drift /
    burst query consumes — ONE call site pins (partition, order,
    actor, window size) so a query can never desynchronize from the
    SQL twins' shared ``_SQL_DAILY_SEQ`` prefix below."""
    from mesos_pregel_spark.functions.edges import build_edges_windowed

    return build_edges_windowed(
        _events(spark, sf_dir), "user_id", ["ts", "event_id"],
        F.col("event_type"), window_us=_EDGE_WINDOW_US,
    )


# The same substrate as a DuckDB CTE prefix (the _SQL_EDGES
# convention); SQL_CC_DAILY re-declares it RECURSIVE via .replace.
_SQL_DAILY_SEQ = f"""
WITH seq AS (
  SELECT user_id,
         epoch_us(ts) // {_EDGE_WINDOW_US} AS window_idx,
         event_type AS src_actor,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst_actor
  FROM events
)"""


def q_edges_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-windowed transition edges over the events table — the
    time-sliced input to per-window link analysis; attribution by the
    SOURCE event's day index (epoch-us div 86400e6, NTZ-safe integer
    arithmetic on both engines)."""
    return _daily_wedges(spark, sf_dir)


SQL_EDGES_DAILY = _SQL_DAILY_SEQ + """
SELECT CAST(window_idx AS BIGINT) AS window_idx, src_actor, dst_actor,
       CAST(COUNT(*) AS DOUBLE) AS weight
FROM seq
WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
GROUP BY 1, 2, 3
"""


def _parts_seq_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase sequence graph: consecutive lineitems of
    an order (l_linenumber order) link their partkeys — the X1–X5
    generic builder instantiated on a third table, giving a directed
    substrate where BOTH directions of a dyad genuinely occur (unlike
    the bipartite msbfs substrate).

    X2 stable-ordering note: (l_orderkey, l_linenumber) is NOT a key
    in the synthetic data, so l_partkey is the tiebreak — remaining
    ties have EQUAL partkey, so the actor sequence (and hence the
    edge multiset) is total-order-invariant on both engines."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return build_edges_generic(
        li, "l_orderkey", ["l_linenumber", "l_partkey"], F.col("l_partkey")
    )


_SQL_PARTS_SEQ = """
WITH seq AS (
  SELECT l_orderkey, l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
  FROM lineitem),
de AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM seq
  WHERE dst IS NOT NULL AND src <> dst)
"""


def q_bowtie(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder bow-tie profile of the directed parts co-purchase
    sequence graph: giant-SCC CORE, IN (reaches core), OUT (reachable
    from core), OTHER — one SCC run + two monotone BFS flags."""
    from mesos_pregel_spark.algos.bowtie import bowtie

    return bowtie(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        edge_partitions=8,
    )


# Full pairwise-reachability closure: SCC labels, the giant pick, and
# both reach sets all read the ONE materialized closure — quadratic,
# fine at driver scale; the engine path is the scalable one.
SQL_BOWTIE = """
WITH RECURSIVE seq AS (
  SELECT l_orderkey, l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
  FROM lineitem),
de AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM seq
  WHERE dst IS NOT NULL AND src <> dst),
verts AS MATERIALIZED (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM de UNION ALL SELECT dst FROM de)),
reach AS (
  SELECT id AS a, id AS b FROM verts
  UNION
  SELECT r.a, e.dst AS b FROM reach r JOIN de e ON e.src = r.b
),
sccs AS MATERIALIZED (
  SELECT r1.a AS id, MIN(r1.b) AS scc
  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
  GROUP BY r1.a),
giant AS (
  SELECT scc FROM (
    SELECT scc, COUNT(*) AS n FROM sccs GROUP BY scc
    ORDER BY n DESC, scc ASC LIMIT 1)),
core AS (SELECT id FROM sccs WHERE scc = (SELECT scc FROM giant)),
fwd AS (SELECT DISTINCT r.b AS id FROM reach r JOIN core c ON r.a = c.id),
bwd AS (SELECT DISTINCT r.a AS id FROM reach r JOIN core c ON r.b = c.id),
cls AS (
  SELECT v.id,
         CASE WHEN c.id IS NOT NULL THEN 'core'
              WHEN b.id IS NOT NULL THEN 'in'
              WHEN f.id IS NOT NULL THEN 'out'
              ELSE 'other' END AS cls
  FROM verts v
  LEFT JOIN core c ON c.id = v.id
  LEFT JOIN fwd f ON f.id = v.id
  LEFT JOIN bwd b ON b.id = v.id),
counts AS (
  SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_vertices
  FROM cls GROUP BY cls),
tot AS (SELECT CAST(SUM(n_vertices) AS BIGINT) AS n FROM counts)
SELECT c.cls, c.n_vertices,
       ROUND(CAST(c.n_vertices AS DOUBLE) / CAST(t.n AS DOUBLE), 9) AS share
FROM counts c CROSS JOIN tot t
"""


_ROBUSTNESS_FRACTIONS = (0.0, 0.05, 0.2)


def q_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Albert-Jeong-Barabási hub-attack tolerance of the undirected
    parts co-purchase graph: giant-component share after removing the
    top 0/5/20% highest-degree hubs."""
    from mesos_pregel_spark.algos.robustness import attack_tolerance

    return attack_tolerance(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        fractions=_ROBUSTNESS_FRACTIONS,
        edge_partitions=8,
    )


def q_error_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Nature-2000 companion curve: giant share under RANDOM
    (md5-pinned, degree-blind) removal — its gap to `robustness` is
    the scale-free resilient-to-failure / fragile-to-attack
    signature."""
    from mesos_pregel_spark.algos.robustness import attack_tolerance

    return attack_tolerance(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
            F.lit(1.0).alias("weight"),
        ),
        fractions=_ROBUSTNESS_FRACTIONS,
        strategy="random",
        edge_partitions=8,
    )


def _sql_robustness(
    fractions=_ROBUSTNESS_FRACTIONS, strategy: str = "degree",
    seed: str = "fail42",
) -> str:
    """Per-fraction min-label closure over the hub-filtered graph —
    quadratic per fraction, fine at driver scale; the engine path is
    the scalable one."""
    parts = ["""
WITH RECURSIVE seq AS (
  SELECT l_orderkey, l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
  FROM lineitem),
de AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM seq
  WHERE dst IS NOT NULL AND src <> dst),
und AS MATERIALIZED (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi FROM de),
deg AS MATERIALIZED (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT lo AS id FROM und UNION ALL SELECT hi FROM und)
  GROUP BY id),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg),
ranked AS MATERIALIZED (
  SELECT id, ROW_NUMBER() OVER (ORDER BY """ + (
        "deg DESC, id ASC" if strategy == "degree"
        else f"md5('{seed}:' || CAST(id AS VARCHAR)), id ASC"
    ) + """) AS rn
  FROM deg)"""]
    rows = []
    for i, f in enumerate(fractions):
        parts.append(f""",
hubs{i} AS (
  SELECT id FROM ranked
  WHERE rn <= (SELECT CAST(FLOOR({f} * n) AS BIGINT) FROM nn)),
sym{i} AS (
  SELECT lo AS s, hi AS d FROM und
  WHERE lo NOT IN (SELECT id FROM hubs{i})
    AND hi NOT IN (SELECT id FROM hubs{i})
  UNION ALL
  SELECT hi, lo FROM und
  WHERE lo NOT IN (SELECT id FROM hubs{i})
    AND hi NOT IN (SELECT id FROM hubs{i})),
reach{i} AS (
  SELECT s AS v, s AS c FROM sym{i}
  UNION
  SELECT e.d, r.c FROM reach{i} r JOIN sym{i} e ON e.s = r.v),
giant{i} AS (
  SELECT COALESCE(MAX(sz), 0) AS g FROM (
    SELECT COUNT(*) AS sz FROM (
      SELECT v, MIN(c) AS comp FROM reach{i} GROUP BY v)
    GROUP BY comp))""")
        rows.append(f"""
SELECT CAST({f} AS DOUBLE) AS frac,
       CAST(FLOOR({f} * nn.n) AS BIGINT) AS n_removed,
       nn.n - CAST(FLOOR({f} * nn.n) AS BIGINT) AS n_remaining,
       GREATEST(g{i}.g, CASE WHEN nn.n - CAST(FLOOR({f} * nn.n) AS BIGINT)
                             > 0 THEN 1 ELSE 0 END) AS giant_size
FROM nn CROSS JOIN giant{i} g{i}""")
    union = "\nUNION ALL".join(rows)
    return "".join(parts) + f""",
profile AS ({union})
SELECT frac, n_removed, n_remaining, giant_size,
       CASE WHEN n_remaining > 0
            THEN ROUND(CAST(giant_size AS DOUBLE)
                       / CAST(n_remaining AS DOUBLE), 9)
            ELSE 0.0 END AS giant_share
FROM profile
"""


SQL_ROBUSTNESS = _sql_robustness()
SQL_ERROR_TOLERANCE = _sql_robustness(strategy="random")


def q_directed_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foster et al.'s four directed degree correlations on the parts
    co-purchase sequence digraph."""
    from mesos_pregel_spark.algos.directed import directed_assortativity

    return directed_assortativity(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
        ),
    )


def _sql_dir_assort() -> str:
    modes = {
        "out-out": ("so", "tout"),
        "out-in": ("so", "ti"),
        "in-out": ("si", "tout"),
        "in-in": ("si", "ti"),
    }
    sums = ["CAST(COUNT(*) AS BIGINT) AS n"]
    rows = []
    for m, (x, y) in modes.items():
        tag = m.replace("-", "_")
        sums += [
            f"CAST(SUM({x}) AS BIGINT) AS sx_{tag}",
            f"CAST(SUM({y}) AS BIGINT) AS sy_{tag}",
            f"CAST(SUM({x} * {x}) AS BIGINT) AS sxx_{tag}",
            f"CAST(SUM({y} * {y}) AS BIGINT) AS syy_{tag}",
            f"CAST(SUM({x} * {y}) AS BIGINT) AS sxy_{tag}",
        ]
        rows.append(f"""
SELECT '{m}' AS mode, n AS n_edges,
       CASE WHEN CAST(n * sxx_{tag} - sx_{tag} * sx_{tag} AS DOUBLE) > 0
             AND CAST(n * syy_{tag} - sy_{tag} * sy_{tag} AS DOUBLE) > 0
       THEN ROUND(
         CAST(n * sxy_{tag} - sx_{tag} * sy_{tag} AS DOUBLE)
         / SQRT(CAST(n * sxx_{tag} - sx_{tag} * sx_{tag} AS DOUBLE)
                * CAST(n * syy_{tag} - sy_{tag} * sy_{tag} AS DOUBLE)), 9)
       END AS r
FROM stats""")
    return f"""
WITH seq AS (
  SELECT l_orderkey, l_partkey AS src,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS dst
  FROM lineitem),
de AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM seq
  WHERE dst IS NOT NULL AND src <> dst),
od AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS dout
       FROM de GROUP BY src),
idg AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS din
        FROM de GROUP BY dst),
degs AS (
  SELECT COALESCE(o.id, i.id) AS id,
         COALESCE(o.dout, 0) AS dout, COALESCE(i.din, 0) AS din
  FROM od o FULL OUTER JOIN idg i ON i.id = o.id),
p AS (
  SELECT s.dout AS so, s.din AS si, t.dout AS tout, t.din AS ti
  FROM de
  JOIN degs s ON s.id = de.src
  JOIN degs t ON t.id = de.dst),
stats AS (
  SELECT {", ".join(sums)} FROM p)
{" UNION ALL ".join(rows)}
"""


SQL_DIRECTED_ASSORTATIVITY = _sql_dir_assort()


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity of the parts co-purchase sequence
    graph (algos/directed.py — exact long counts, one rounded
    division)."""
    from mesos_pregel_spark.algos.directed import reciprocity

    return reciprocity(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
        ),
    )


SQL_RECIPROCITY = _SQL_PARTS_SEQ + """
, m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS mutual_edges
  FROM de a
  WHERE EXISTS (SELECT 1 FROM de b WHERE b.src = a.dst AND b.dst = a.src)),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_edges FROM de),
v AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices FROM (
    SELECT DISTINCT id FROM (
      SELECT src AS id FROM de UNION ALL SELECT dst FROM de)))
SELECT t.total_edges, m.mutual_edges, v.n_vertices,
       CASE WHEN t.total_edges > 0
            THEN ROUND(CAST(m.mutual_edges AS DOUBLE)
                       / CAST(t.total_edges AS DOUBLE), 9)
            ELSE 0.0 END AS reciprocity,
       -- products in IEEE double (int64 products overflow at scale);
       -- guard 0 < m < N is product-free integer/double logic
       CASE WHEN t.total_edges > 0
             AND CAST(t.total_edges AS DOUBLE)
                 < CAST(v.n_vertices AS DOUBLE)
                   * (CAST(v.n_vertices AS DOUBLE) - 1.0)
            THEN ROUND(
              (CAST(m.mutual_edges AS DOUBLE)
                 * (CAST(v.n_vertices AS DOUBLE)
                    * (CAST(v.n_vertices AS DOUBLE) - 1.0))
               - CAST(t.total_edges AS DOUBLE)
                 * CAST(t.total_edges AS DOUBLE))
              / (CAST(t.total_edges AS DOUBLE)
                   * (CAST(v.n_vertices AS DOUBLE)
                      * (CAST(v.n_vertices AS DOUBLE) - 1.0))
                 - CAST(t.total_edges AS DOUBLE)
                   * CAST(t.total_edges AS DOUBLE)), 9)
            ELSE NULL END AS rho
FROM t, m, v
"""


def q_triad_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclic vs transitive directed-triangle census on the parts
    co-purchase sequence graph (algos/directed.py — min-vertex-rooted
    cycles, ordered transitive triplets)."""
    from mesos_pregel_spark.algos.directed import triangle_census

    return triangle_census(
        spark,
        _parts_seq_edges(spark, sf_dir).select(
            F.col("src_actor").alias("src"),
            F.col("dst_actor").alias("dst"),
        ),
    )


SQL_TRIAD_CENSUS = _SQL_PARTS_SEQ + """
, cyc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cyclic_triangles
  FROM de e1
  JOIN de e2 ON e1.dst = e2.src
  JOIN de e3 ON e2.dst = e3.src AND e3.dst = e1.src
  WHERE e1.src < e1.dst AND e1.src < e2.dst),
tra AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS transitive_triplets
  FROM de e1
  JOIN de e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst
    AND EXISTS (SELECT 1 FROM de e3
                WHERE e3.src = e1.src AND e3.dst = e2.dst))
SELECT cyc.cyclic_triangles, tra.transitive_triplets FROM cyc, tra
"""


def q_rank_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day actor ranking with drift over the day-windowed edge
    table (functions/edges.py::window_rank_drift — dense rank from
    the distinct-strength table, drift LAG partitioned by actor)."""
    from mesos_pregel_spark.functions.edges import window_rank_drift

    wedges = _daily_wedges(spark, sf_dir)
    return window_rank_drift(wedges)


SQL_RANK_DRIFT = _SQL_DAILY_SEQ + """,
wedges AS (
  SELECT CAST(window_idx AS BIGINT) AS window_idx, src_actor,
         CAST(COUNT(*) AS DOUBLE) AS weight
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
  GROUP BY 1, 2, dst_actor
),
wdeg AS (
  SELECT window_idx, src_actor AS actor, SUM(weight) AS out_weight
  FROM wedges GROUP BY 1, 2
),
r AS (
  SELECT *, CAST(DENSE_RANK() OVER (
    PARTITION BY window_idx ORDER BY out_weight DESC) AS BIGINT) AS rnk
  FROM wdeg
)
SELECT window_idx, actor, out_weight, rnk,
       rnk - LAG(rnk) OVER (
         PARTITION BY actor ORDER BY window_idx) AS rank_delta
FROM r
"""


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club profile over the parts co-order graph
    (algos/structure.py::rich_club — two histograms + suffix sums
    over the tiny distinct-degree table)."""
    from mesos_pregel_spark.algos.structure import rich_club

    return rich_club(spark, _parts_edges(spark, sf_dir))


SQL_RICH_CLUB = _SQL_PARTS + """
, vh AS (SELECT deg AS k, CAST(COUNT(*) AS BIGINT) AS n_at
         FROM pdeg GROUP BY 1),
eh AS (
  SELECT LEAST(dl.deg, dh.deg) AS k, CAST(COUNT(*) AS BIGINT) AS e_at
  FROM und e
  JOIN pdeg dl ON dl.id = e.lo
  JOIN pdeg dh ON dh.id = e.hi
  GROUP BY 1),
m AS (SELECT vh.k, vh.n_at, COALESCE(eh.e_at, 0) AS e_at
      FROM vh LEFT JOIN eh ON eh.k = vh.k),
s AS (SELECT k,
        SUM(n_at) OVER (ORDER BY k DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_at
          AS n_rich,
        SUM(e_at) OVER (ORDER BY k DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - e_at
          AS rich_edges
      FROM m)
SELECT k, CAST(n_rich AS BIGINT) AS n_rich,
       CAST(rich_edges AS BIGINT) AS rich_edges,
       ROUND(CAST(2 * rich_edges AS DOUBLE)
             / (n_rich * (n_rich - 1)), 9) AS phi
FROM s WHERE n_rich >= 2
"""


def q_edge_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day edge-set Jaccard drift of the events interaction
    graph (functions/edges.py::window_edge_drift over the edges_daily
    substrate)."""
    from mesos_pregel_spark.functions.edges import window_edge_drift

    wedges = _daily_wedges(spark, sf_dir)
    return window_edge_drift(wedges)


SQL_EDGE_DRIFT = _SQL_DAILY_SEQ + """,
pairs AS (
  SELECT DISTINCT CAST(window_idx AS BIGINT) AS window_idx,
         src_actor, dst_actor
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
),
sizes AS (
  SELECT window_idx, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1
),
inter AS (
  SELECT a.window_idx, CAST(COUNT(*) AS BIGINT) AS i
  FROM pairs a
  JOIN pairs b ON b.window_idx = a.window_idx + 1
    AND b.src_actor = a.src_actor AND b.dst_actor = a.dst_actor
  GROUP BY 1
)
SELECT s1.window_idx, s1.window_idx + 1 AS next_idx,
       CAST(COALESCE(i, 0) AS BIGINT) AS intersect_edges,
       CAST(s1.n + s2.n - COALESCE(i, 0) AS BIGINT) AS union_edges,
       ROUND(CAST(COALESCE(i, 0) AS DOUBLE)
             / (s1.n + s2.n - COALESCE(i, 0)), 9) AS jaccard
FROM sizes s1
JOIN sizes s2 ON s2.window_idx = s1.window_idx + 1
LEFT JOIN inter ON inter.window_idx = s1.window_idx
"""


def q_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bursty (day, actor) cells of the events interaction graph —
    out-strength > 2 population sigmas above the actor's own mean
    (functions/edges.py::window_bursts — integer-algebra flag, one
    correctly-rounded sqrt only in the reported z)."""
    from mesos_pregel_spark.functions.edges import window_bursts

    wedges = _daily_wedges(spark, sf_dir)
    return window_bursts(wedges)


SQL_BURSTS = _SQL_DAILY_SEQ + """,
wdeg AS (
  SELECT CAST(window_idx AS BIGINT) AS window_idx,
         src_actor AS actor, CAST(COUNT(*) AS BIGINT) AS x
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
  GROUP BY 1, 2
),
stats AS (
  SELECT actor, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM wdeg GROUP BY 1
)
SELECT w.window_idx, w.actor, CAST(w.x AS DOUBLE) AS out_weight, st.n,
       ROUND((w.x * st.n - st.s)
             / SQRT(CAST(st.n * st.s2 - st.s * st.s AS DOUBLE)), 6) AS z
FROM wdeg w JOIN stats st USING (actor)
WHERE st.n >= 3
  AND w.x * st.n - st.s > 0
  AND (w.x * st.n - st.s) * (w.x * st.n - st.s)
      > 4 * (st.n * st.s2 - st.s * st.s)
"""


def q_pagerank_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day weighted PageRank (2 steps): ONE run of the standard
    engine over the WINDOW-EXPANDED composite graph — vertex id =
    'window:actor', edges only within their window by construction —
    so 30 days (or 30,000) cost one superstep pipeline, never a
    driver-side loop over windows.  Teleport mass is 0.15/N_total
    (N = all (window, actor) pairs), making scores comparable across
    windows; per-window normalization is one extra aggregate if
    wanted."""
    wedges = _daily_wedges(spark, sf_dir)
    comp = wedges.select(
        F.concat_ws(":", "window_idx", "src_actor").alias("src"),
        F.concat_ws(":", "window_idx", "dst_actor").alias("dst"),
        "weight",
    )
    ranks, _run = pagerank(
        spark, comp, tol=0.0, max_supersteps=2,
        edge_partitions=8, weighted=True,
    )
    return ranks.select(
        F.expr("CAST(substring_index(id, ':', 1) AS BIGINT)")
        .alias("window_idx"),
        F.expr("substring(id, instr(id, ':') + 1)").alias("actor"),
        F.round("pagerank", 9).alias("pagerank"),
    )


SQL_PAGERANK_DAILY = _SQL_DAILY_SEQ + """,
wedges AS MATERIALIZED (
  SELECT CAST(window_idx AS BIGINT) AS window_idx,
         src_actor, dst_actor, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
  GROUP BY 1, 2, 3
),
verts AS MATERIALIZED (
  SELECT DISTINCT window_idx, actor FROM (
    SELECT window_idx, src_actor AS actor FROM wedges
    UNION ALL SELECT window_idx, dst_actor FROM wedges)
),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
wd AS (SELECT window_idx, src_actor, SUM(weight) AS w
       FROM wedges GROUP BY 1, 2),
wp1 AS MATERIALIZED (
  SELECT v.window_idx, v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.window_idx, e.dst_actor AS actor,
           SUM((1.0/(SELECT n FROM n)) * e.weight / wd.w) AS s
    FROM wedges e
    JOIN wd ON e.window_idx = wd.window_idx
           AND e.src_actor = wd.src_actor
    GROUP BY 1, 2) c
  ON v.window_idx = c.window_idx AND v.actor = c.actor
),
wp2 AS MATERIALIZED (
  SELECT v.window_idx, v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.window_idx, e.dst_actor AS actor,
           SUM(p.pr * e.weight / wd.w) AS s
    FROM wedges e
    JOIN wd ON e.window_idx = wd.window_idx
           AND e.src_actor = wd.src_actor
    JOIN wp1 p ON p.window_idx = e.window_idx
              AND p.actor = e.src_actor
    GROUP BY 1, 2) c
  ON v.window_idx = c.window_idx AND v.actor = c.actor
)
SELECT window_idx, actor, ROUND(pr, 9) AS pagerank FROM wp2
"""


def q_cc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day connected components — the same window-expanded
    composite-graph trick as pagerank_daily (ONE engine run, vertex id
    = window:actor).  Component labels are the min composite id; the
    shared window prefix strips off, leaving the min ACTOR of the
    component within its day — exactly the windowed recursive-closure
    twin's MIN."""
    from mesos_pregel_spark.algos.cc import connected_components
    wedges = _daily_wedges(spark, sf_dir)
    comp = wedges.select(
        F.concat_ws(":", "window_idx", "src_actor").alias("src"),
        F.concat_ws(":", "window_idx", "dst_actor").alias("dst"),
        "weight",
    )
    comps, _run = connected_components(spark, comp, edge_partitions=8)
    return comps.select(
        F.expr("CAST(substring_index(id, ':', 1) AS BIGINT)")
        .alias("window_idx"),
        F.expr("substring(id, instr(id, ':') + 1)").alias("actor"),
        F.expr("substring(component, instr(component, ':') + 1)")
        .alias("component"),
    )


SQL_CC_DAILY = _SQL_DAILY_SEQ.replace(
    "WITH seq", "WITH RECURSIVE seq") + """,
wedges AS (
  SELECT DISTINCT CAST(window_idx AS BIGINT) AS window_idx,
         src_actor, dst_actor
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
),
wsym AS (
  SELECT DISTINCT window_idx, s, d FROM (
    SELECT window_idx, src_actor AS s, dst_actor AS d FROM wedges
    UNION ALL
    SELECT window_idx, dst_actor, src_actor FROM wedges)
),
reach AS (
  SELECT window_idx, s AS actor, s AS c FROM wsym
  UNION
  SELECT sym.window_idx, sym.d AS actor, r.c
  FROM reach r JOIN wsym sym
    ON sym.window_idx = r.window_idx AND sym.s = r.actor
)
SELECT window_idx, actor, MIN(c) AS component
FROM reach GROUP BY 1, 2
"""


def q_katz_step4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step Katz centrality unroll, beta=0.05, on the events actor
    graph (algos/katz.py — attenuation-weighted in-walk counts on the
    generic vertex-program API)."""
    from mesos_pregel_spark.algos.katz import katz

    scores, _run = katz(
        spark, _graph_edges(spark, sf_dir), beta=0.05,
        max_supersteps=4, edge_partitions=8,
    )
    return scores.select(F.col("id").alias("actor"), "katz")


SQL_KATZ_STEP4 = _SQL_EDGES + """
, dedges AS (SELECT DISTINCT src_actor AS s, dst_actor AS d FROM edges),
x1 AS MATERIALIZED (
  SELECT v.actor, CAST(0.05 AS DOUBLE) * COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(CAST(1.0 AS DOUBLE)) AS m
    FROM dedges e GROUP BY e.d) c ON v.actor = c.actor),
x2 AS MATERIALIZED (
  SELECT v.actor, CAST(0.05 AS DOUBLE) * COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN x1 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor),
x3 AS MATERIALIZED (
  SELECT v.actor, CAST(0.05 AS DOUBLE) * COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN x2 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor),
x4 AS MATERIALIZED (
  SELECT v.actor, CAST(0.05 AS DOUBLE) * COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN x3 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor)
SELECT v.actor,
       ROUND(CAST(1.0 AS DOUBLE) + x1.x + x2.x + x3.x + x4.x, 9) AS katz
FROM verts v
JOIN x1 ON x1.actor = v.actor
JOIN x2 ON x2.actor = v.actor
JOIN x3 ON x3.actor = v.actor
JOIN x4 ON x4.actor = v.actor
"""


def q_eigenvector_step4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-step power-iteration eigenvector centrality on the events
    actor graph (algos/eigenvector.py — bare A^T x fixpoint, L2-
    normalized once at the end; every unnormalized x_t is an exact
    integer in-walk count, so the unroll cannot drift)."""
    from mesos_pregel_spark.algos.eigenvector import eigenvector

    scores, _run = eigenvector(
        spark, _graph_edges(spark, sf_dir),
        max_supersteps=4, edge_partitions=8,
    )
    return scores.select(F.col("id").alias("actor"), "eigenvector")


SQL_EIGENVECTOR_STEP4 = _SQL_EDGES + """
, dedges AS (SELECT DISTINCT src_actor AS s, dst_actor AS d FROM edges),
e1 AS MATERIALIZED (
  SELECT v.actor, COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(CAST(1.0 AS DOUBLE)) AS m
    FROM dedges e GROUP BY e.d) c ON v.actor = c.actor),
e2 AS MATERIALIZED (
  SELECT v.actor, COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN e1 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor),
e3 AS MATERIALIZED (
  SELECT v.actor, COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN e2 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor),
e4 AS MATERIALIZED (
  SELECT v.actor, COALESCE(c.m, CAST(0.0 AS DOUBLE)) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x) AS m
    FROM dedges e JOIN e3 p ON p.actor = e.s GROUP BY e.d) c
  ON v.actor = c.actor),
nrm AS (SELECT SQRT(SUM(x * x)) AS norm FROM e4)
SELECT e4.actor,
       CASE WHEN nrm.norm > 0.0 THEN ROUND(e4.x / nrm.norm, 9)
            ELSE CAST(0.0 AS DOUBLE) END AS eigenvector
FROM e4 CROSS JOIN nrm
"""


def q_edge_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-level day-over-day delta report of the events interaction
    graph (functions/edges.py::window_edge_delta over the edges_daily
    substrate)."""
    from mesos_pregel_spark.functions.edges import window_edge_delta

    wedges = _daily_wedges(spark, sf_dir)
    return window_edge_delta(wedges)


SQL_EDGE_DELTA = _SQL_DAILY_SEQ + """,
wedges AS MATERIALIZED (
  SELECT CAST(window_idx AS BIGINT) AS window_idx,
         src_actor, dst_actor, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM seq
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
  GROUP BY 1, 2, 3
),
wins AS (SELECT DISTINCT window_idx FROM wedges),
wpairs AS (
  SELECT w.window_idx FROM wins w
  WHERE EXISTS (SELECT 1 FROM wins n WHERE n.window_idx = w.window_idx + 1)
),
cur AS (
  SELECT e.window_idx, e.src_actor, e.dst_actor, e.weight AS w_prev
  FROM wedges e JOIN wpairs p ON p.window_idx = e.window_idx
),
nxt AS (
  SELECT e.window_idx - 1 AS window_idx, e.src_actor, e.dst_actor,
         e.weight AS w_next
  FROM wedges e
  JOIN wpairs p ON p.window_idx = e.window_idx - 1
)
SELECT COALESCE(c.window_idx, n.window_idx) AS window_idx,
       COALESCE(c.window_idx, n.window_idx) + 1 AS next_idx,
       COALESCE(c.src_actor, n.src_actor) AS src_actor,
       COALESCE(c.dst_actor, n.dst_actor) AS dst_actor,
       c.w_prev, n.w_next,
       CASE WHEN c.w_prev IS NULL THEN 'added'
            WHEN n.w_next IS NULL THEN 'removed'
            WHEN c.w_prev = n.w_next THEN 'stable'
            ELSE 'changed' END AS status
FROM cur c
FULL OUTER JOIN nxt n
  ON n.window_idx = c.window_idx
 AND n.src_actor = c.src_actor AND n.dst_actor = c.dst_actor
"""


def q_weighted_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Barrat weighted local clustering over the parts co-order graph
    (algos/structure.py::weighted_clustering — co-order counts as
    weights; the twin enumerates on the id-canonical DAG, corner sums
    are orientation-independent)."""
    from mesos_pregel_spark.algos.structure import weighted_clustering

    return weighted_clustering(
        spark, _parts_edges(spark, sf_dir)
    ).select(F.col("id").alias("part"), "k", "s", "num2", "cw")


SQL_WEIGHTED_CLUSTERING = """
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
wund AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi, CAST(COUNT(*) AS BIGINT) AS w
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
vdeg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(w) AS BIGINT) AS s
  FROM (SELECT lo AS id, w FROM wund UNION ALL SELECT hi, w FROM wund)
  GROUP BY id
),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c,
         e1.w AS w1, e2.w AS w2, e3.w AS w3
  FROM wund e1
  JOIN wund e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN wund e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
num AS (
  SELECT id, CAST(SUM(c) AS BIGINT) AS num2 FROM (
    SELECT a AS id, w1 + w2 AS c FROM tri
    UNION ALL SELECT b, w1 + w3 FROM tri
    UNION ALL SELECT c, w2 + w3 FROM tri)
  GROUP BY id
)
SELECT v.id AS part, v.k, v.s,
       CAST(COALESCE(n.num2, 0) AS BIGINT) AS num2,
       CASE WHEN v.k >= 2
            THEN ROUND(CAST(COALESCE(n.num2, 0) AS DOUBLE)
                       / (v.s * (v.k - 1)), 9)
            ELSE 0.0 END AS cw
FROM vdeg v LEFT JOIN num n ON n.id = v.id
"""


_BETWEENNESS_PIVOTS = 8
_BETWEENNESS_DEPTH = 10


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-sampled Brandes betweenness (algos/betweenness.py) on the
    symmetrized customer↔supplier bipartite graph: 8 md5-min pivots,
    radius-10 truncation, per-vertex dependency sums rounded to 6 dp
    (collapses float summation-order ulps cross-engine)."""
    from mesos_pregel_spark.algos.betweenness import betweenness_sampled

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    bc, _run = betweenness_sampled(
        spark, e, n_pivots=_BETWEENNESS_PIVOTS, max_depth=_BETWEENNESS_DEPTH,
        edge_partitions=8,
    )
    return bc.select(F.col("id").alias("actor"), "bc")


def _sql_brandes_prefix(
    depth: int = _BETWEENNESS_DEPTH, k: int = _BETWEENNESS_PIVOTS
) -> str:
    """Unrolled Brandes CTE prefix (through bw0): forward BFS rounds
    with sigma path counting (NOT EXISTS visited-guard + SUM combine
    per lane-row), then the backward dependency sweep descending one
    depth per CTE — lanes are ROWS here (lane, id), the exact
    relational transcription of the engine's lane COLUMNS.  Shared by
    the vertex (betweenness) and edge (edge_betweenness) finals."""
    parts = [f"""
WITH be AS MATERIALIZED (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
und AS MATERIALIZED (
  SELECT s, d FROM be UNION SELECT d AS s, s AS d FROM be
),
bverts AS MATERIALIZED (SELECT DISTINCT s AS id FROM und),
piv AS MATERIALIZED (
  SELECT id, ROW_NUMBER() OVER (ORDER BY md5(id), id) - 1 AS lane
  FROM (SELECT id FROM bverts ORDER BY md5(id), id LIMIT {k})
),
f0 AS MATERIALIZED (
  SELECT lane, id, 0 AS dist, CAST(1 AS DOUBLE) AS sigma FROM piv
)"""]
    for t in range(1, depth + 1):
        parts.append(f""",
f{t} AS MATERIALIZED (
  SELECT lane, id, dist, sigma FROM f{t - 1}
  UNION ALL
  SELECT p.lane, e.d AS id, {t} AS dist, SUM(p.sigma) AS sigma
  FROM f{t - 1} p JOIN und e ON p.id = e.s
  WHERE p.dist = {t - 1}
    AND NOT EXISTS (SELECT 1 FROM f{t - 1} v
                    WHERE v.lane = p.lane AND v.id = e.d)
  GROUP BY p.lane, e.d
)""")
    parts.append(f""",
bw{depth} AS MATERIALIZED (
  SELECT lane, id, dist, sigma, CAST(0 AS DOUBLE) AS delta
  FROM f{depth} WHERE dist = {depth}
)""")
    for d in range(depth - 1, -1, -1):
        parts.append(f""",
bw{d} AS MATERIALIZED (
  SELECT lane, id, dist, sigma, delta FROM bw{d + 1}
  UNION ALL
  SELECT v.lane, v.id, v.dist, v.sigma,
         v.sigma * COALESCE(SUM((1 + w.delta) / w.sigma), 0) AS delta
  FROM f{depth} v
  LEFT JOIN und e ON v.id = e.s
  LEFT JOIN bw{d + 1} w
    ON w.lane = v.lane AND w.id = e.d AND w.dist = {d + 1}
  WHERE v.dist = {d}
  GROUP BY v.lane, v.id, v.dist, v.sigma
)""")
    return "".join(parts)


def _sql_betweenness(
    depth: int = _BETWEENNESS_DEPTH, k: int = _BETWEENNESS_PIVOTS
) -> str:
    return _sql_brandes_prefix(depth, k) + """
SELECT b.id AS actor,
       ROUND(COALESCE(SUM(CASE WHEN p.id IS NULL THEN w.delta END), 0), 6)
         AS bc
FROM bverts b
LEFT JOIN bw0 w ON w.id = b.id
LEFT JOIN piv p ON p.lane = w.lane AND p.id = w.id
GROUP BY b.id
"""


SQL_BETWEENNESS = _sql_betweenness()


# edge-betweenness output cap: the Girvan-Newman cut shortlist.
_EDGE_BETWEENNESS_TOPK = 200


def q_edge_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan-Newman edge betweenness from the SAME pivot-sampled
    Brandes sweeps as `betweenness` (algos/betweenness.py contract):
    per shortest-path-DAG edge, sigma(v)·(1+delta(w))/sigma(w) summed
    over lanes and both orientations, 6dp-rounded; top-200 under the
    (ebc DESC, lo, hi) total order — the cut-candidate shortlist."""
    from mesos_pregel_spark.algos.betweenness import edge_betweenness_sampled

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    ebc, _run = edge_betweenness_sampled(
        spark, e, n_pivots=_BETWEENNESS_PIVOTS, max_depth=_BETWEENNESS_DEPTH,
        edge_partitions=8, top_k=_EDGE_BETWEENNESS_TOPK,
    )
    return ebc


def _sql_edge_betweenness(
    depth: int = _BETWEENNESS_DEPTH, k: int = _BETWEENNESS_PIVOTS,
    top: int = _EDGE_BETWEENNESS_TOPK,
) -> str:
    return _sql_brandes_prefix(depth, k) + f"""
SELECT lo, hi, ebc FROM (
  SELECT LEAST(e.s, e.d) AS lo, GREATEST(e.s, e.d) AS hi,
         ROUND(SUM(v.sigma * (1 + w.delta) / w.sigma), 6) AS ebc
  FROM und e
  JOIN bw0 v ON v.id = e.s
  JOIN bw0 w ON w.lane = v.lane AND w.id = e.d AND w.dist = v.dist + 1
  GROUP BY 1, 2
) t
ORDER BY ebc DESC, lo, hi
LIMIT {top}
"""


SQL_EDGE_BETWEENNESS = _sql_edge_betweenness()


# Matching round cap: parity is exact at ANY shared cap (matched is
# monotone), and local-max matching on the driver-scale bipartite
# graph decides everything well inside 15 rounds.
_MATCHING_ROUNDS = 15


def q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic local-max maximal matching (Pregel's bipartite
    matching example [P §5.2], algos/matching.py) on the symmetrized
    customer↔supplier bipartite graph."""
    from mesos_pregel_spark.algos.matching import maximal_matching

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    membership, _run = maximal_matching(
        spark, e, max_rounds=_MATCHING_ROUNDS, edge_partitions=8
    )
    return membership.select(F.col("id").alias("actor"), "matched", "mate")


def _sql_matching(rounds: int = _MATCHING_ROUNDS) -> str:
    """Unrolled local-max matching rounds.  Each round: every
    unmatched vertex points at the min of md5(lo || '|' || hi) over
    its unmatched neighbors (fixed-width hex + '|' + id == the
    engine's struct(p, i) order); mutual pointers match.  The engine's
    two supersteps per round (propose, accept-by-min-suitor) reduce to
    exactly this mutual-pointer rule — see algos/matching.py."""
    parts = ["""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (SELECT s, d FROM e UNION SELECT d, s FROM e),
s0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, 0 AS st, CAST(NULL AS VARCHAR) AS mate
  FROM sym
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
c{k} AS (
  SELECT sym.d AS actor,
         SUBSTR(MIN(MD5(LEAST(sym.s, sym.d) || '|' ||
                        GREATEST(sym.s, sym.d)) || '|' || sym.s),
                34) AS cand
  FROM sym
  JOIN s{k-1} a ON a.actor = sym.s AND a.st = 0
  JOIN s{k-1} b ON b.actor = sym.d AND b.st = 0
  GROUP BY sym.d
),
s{k} AS MATERIALIZED (
  SELECT v.actor,
         CASE WHEN v.st = 1 OR m.actor IS NOT NULL THEN 1 ELSE 0 END AS st,
         COALESCE(v.mate, m.cand) AS mate
  FROM s{k-1} v
  LEFT JOIN (
    SELECT c1.actor, c1.cand
    FROM c{k} c1 JOIN c{k} c2 ON c2.actor = c1.cand
    WHERE c2.cand = c1.actor
  ) m ON m.actor = v.actor
)""")
    parts.append(f"""
SELECT actor, (st = 1) AS matched, mate FROM s{rounds}
""")
    return "".join(parts)


SQL_MATCHING = _sql_matching()


# Semi-clustering caps (pinned in algos/semicluster.py): fixed
# superstep count — parity is exact at any shared cap, the twin
# unrolls the identical transition.
_SEMI_STEPS, _SEMI_CMAX, _SEMI_MMAX = 2, 3, 4


def q_semi_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-clustering (Pregel's semi-cluster example [P §5.3],
    algos/semicluster.py; f_B=1/2, integer count weights) on the
    symmetrized customer↔supplier bipartite graph."""
    from mesos_pregel_spark.algos.semicluster import semi_clusters

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    out = semi_clusters(
        spark, e, supersteps=_SEMI_STEPS, c_max=_SEMI_CMAX,
        m_max=_SEMI_MMAX, edge_partitions=8,
    )
    return out.select(F.col("id").alias("actor"), "rank", "members", "score")


def _sql_semi_clusters(
    steps: int = _SEMI_STEPS, c_max: int = _SEMI_CMAX,
    m_max: int = _SEMI_MMAX,
) -> str:
    """Unrolled semi-clustering supersteps.  Exact-integer I/B updates
    (W(v,c) via an unnested member join), so the score doubles are
    bit-identical to the engine's; ranking by (score DESC, key)."""
    score = (
        "CASE WHEN len(string_split(key, ',')) = 1 THEN 0.0 "
        "ELSE (2 * i - b) / CAST(len(string_split(key, ',')) * "
        "(len(string_split(key, ',')) - 1) AS DOUBLE) END"
    )
    parts = [f"""
WITH e AS (
  SELECT 'c:' || o_custkey AS s, 's:' || l_suppkey AS d,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
sym AS (
  SELECT s, d, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT s, d, w FROM e UNION ALL SELECT d AS s, s AS d, w FROM e)
  GROUP BY s, d
),
dg AS (SELECT s AS actor, CAST(SUM(w) AS BIGINT) AS degw
       FROM sym GROUP BY s),
st0 AS MATERIALIZED (
  SELECT actor, actor AS key, CAST(0 AS BIGINT) AS i, degw AS b FROM dg
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
m{k} AS (
  SELECT sym.d AS actor, t.key, t.i, t.b
  FROM sym JOIN st{k-1} t ON t.actor = sym.s
),
x{k} AS (
  -- W(v,c) via member unnest + EQUI-join on (actor, member) — the
  -- list_contains form makes DuckDB nested-loop the whole sym table
  SELECT m.actor, m.key, m.i, m.b, u.mem
  FROM m{k} m, UNNEST(string_split(m.key, ',')) AS u(mem)
  WHERE NOT list_contains(string_split(m.key, ','), m.actor)
    AND len(string_split(m.key, ',')) < {m_max}
),
ext{k} AS (
  SELECT x.actor,
         array_to_string(list_sort(list_append(
           string_split(x.key, ','), x.actor)), ',') AS key,
         x.i + COALESCE(SUM(w.w), 0) AS i,
         x.b + ANY_VALUE(dg.degw) - 2 * COALESCE(SUM(w.w), 0) AS b
  FROM x{k} x
  JOIN dg ON dg.actor = x.actor
  LEFT JOIN sym w ON w.s = x.actor AND w.d = x.mem
  GROUP BY x.actor, x.key, x.i, x.b
),
cand{k} AS (
  SELECT actor, key, MIN(i) AS i, MIN(b) AS b FROM (
    SELECT actor, key, i, b FROM st{k-1}
    UNION ALL
    SELECT actor, key, i, b FROM m{k}
    WHERE list_contains(string_split(key, ','), actor)
    UNION ALL
    SELECT actor, key, i, b FROM ext{k})
  GROUP BY actor, key
),
st{k} AS MATERIALIZED (
  SELECT actor, key, i, b FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY actor ORDER BY {score} DESC, key ASC) AS rn
    FROM cand{k})
  WHERE rn <= {c_max}
)""")
    parts.append(f"""
SELECT actor,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY actor ORDER BY {score} DESC, key ASC) AS INT) AS rank,
       key AS members,
       ROUND({score}, 9) AS score
FROM st{steps}
""")
    return "".join(parts)


SQL_SEMI_CLUSTERS = _sql_semi_clusters()


# Borůvka caps (pinned in algos/boruvka.py): parity is exact at ANY
# shared (rounds, jumps) cap — converged rounds are no-ops — and the
# driver-scale bipartite graph contracts well inside these (measured:
# see the constants' test pin in tests/test_boruvka.py and the
# strict_contract run in the bench workload).
_MSF_ROUNDS = 10
_MSF_JUMPS = 4


def q_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest (algos/boruvka.py) of the
    customer↔supplier bipartite graph under exact BIGINT count weights
    with the (weight, lo, hi) total order — the unique MSF."""
    from mesos_pregel_spark.algos.boruvka import boruvka_msf

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    forest, _run = boruvka_msf(
        spark, e, max_rounds=_MSF_ROUNDS, jump_depth=_MSF_JUMPS,
        edge_partitions=8,
    )
    return forest.select("lo", "hi", "weight")


def _sql_boruvka(rounds: int = _MSF_ROUNDS, jumps: int = _MSF_JUMPS) -> str:
    """Unrolled Borůvka rounds.  Per round: per-component minimum
    cross edge under (weight, lo, hi) via ROW_NUMBER (explicit
    multi-key order == the engine's struct-min), mutual-pair root
    break, ``jumps`` pointer-jump CTEs, vertex relabel.  Selecting
    over the raw relabeled edge set equals the engine's collapsed
    working set (min over pair minima == global min) — see
    algos/boruvka.py."""
    parts = ["""
WITH ed AS MATERIALIZED (
  SELECT 'c:' || o_custkey AS lo, 's:' || l_suppkey AS hi,
         COUNT(*) AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
cmp0 AS MATERIALIZED (
  SELECT lo AS id, lo AS comp FROM ed
  UNION
  SELECT hi, hi FROM ed
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
cd{k} AS (
  SELECT ca AS c, cb AS oc, w, lo, hi FROM (
    SELECT a.comp AS ca, b.comp AS cb, e.w, e.lo, e.hi
    FROM ed e
    JOIN cmp{k-1} a ON a.id = e.lo
    JOIN cmp{k-1} b ON b.id = e.hi
    WHERE a.comp <> b.comp) x
  UNION ALL
  SELECT cb, ca, w, lo, hi FROM (
    SELECT a.comp AS ca, b.comp AS cb, e.w, e.lo, e.hi
    FROM ed e
    JOIN cmp{k-1} a ON a.id = e.lo
    JOIN cmp{k-1} b ON b.id = e.hi
    WHERE a.comp <> b.comp) y
),
sel{k} AS MATERIALIZED (
  SELECT c, oc, w, lo, hi FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY c ORDER BY w, lo, hi) AS rn
    FROM cd{k})
  WHERE rn = 1
),
p0_{k} AS (
  SELECT s.c,
         CASE WHEN t.oc = s.c AND s.c < s.oc THEN s.c ELSE s.oc END AS p
  FROM sel{k} s JOIN sel{k} t ON t.c = s.oc
)""")
        for j in range(1, jumps + 1):
            parts.append(f""",
p{j}_{k} AS (
  SELECT a.c, b.p FROM p{j-1}_{k} a JOIN p{j-1}_{k} b ON b.c = a.p
)""")
        parts.append(f""",
cmp{k} AS MATERIALIZED (
  SELECT v.id, COALESCE(p.p, v.comp) AS comp
  FROM cmp{k-1} v LEFT JOIN p{jumps}_{k} p ON p.c = v.comp
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT lo, hi, w FROM sel{k}" for k in range(1, rounds + 1)
    )
    parts.append(f"""
SELECT DISTINCT lo, hi, CAST(w AS BIGINT) AS weight FROM (
  {unions}
)
""")
    return "".join(parts)


SQL_BORUVKA_MSF = _sql_boruvka()


# ---------------------------------------------------------------------------
# attribute assortativity + partitioner cut profile (algos/structure.py)
# ---------------------------------------------------------------------------


def q_brand_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman categorical assortativity of the parts co-purchase graph
    over the part BRAND attribute (algos/structure.py::
    attribute_assortativity — exact-integer mixing-matrix sums widened
    to decimal(38,0), one double division)."""
    from mesos_pregel_spark.algos.structure import attribute_assortativity

    labels = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("label")
    )
    return attribute_assortativity(
        spark, _parts_edges(spark, sf_dir), labels
    )


SQL_BRAND_ASSORTATIVITY = _SQL_PARTS + """
, lab AS (SELECT p_partkey AS id, p_brand AS label FROM part),
tagged AS MATERIALIZED (
  SELECT la.label AS la, lb.label AS lb
  FROM und
  JOIN lab la ON la.id = und.lo
  JOIN lab lb ON lb.id = und.hi
),
stubs AS (
  SELECT label, CAST(COUNT(*) AS HUGEINT) AS stubs FROM (
    SELECT la AS label FROM tagged UNION ALL SELECT lb FROM tagged) u
  GROUP BY label
),
sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(SUM(stubs * stubs) AS HUGEINT) AS s2
  FROM stubs
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
         CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
           AS same_edges
  FROM tagged
)
SELECT n_classes, m_edges, same_edges,
       CASE WHEN 4 * CAST(m_edges AS HUGEINT) * CAST(m_edges AS HUGEINT)
                 - s2 <> 0 THEN
         ROUND(
           CAST(2 * CAST(m_edges AS HUGEINT) * 2 * CAST(same_edges AS HUGEINT)
                - s2 AS DOUBLE)
           / CAST(4 * CAST(m_edges AS HUGEINT) * CAST(m_edges AS HUGEINT)
                - s2 AS DOUBLE), 9)
       END AS r
FROM base, sums
"""


_CUT_PARTITIONS = (8, 32, 128)


def q_partition_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-partitioner edge-cut profile of the parts graph at P in
    {8, 32, 128} (algos/structure.py::partition_cut — the scatter
    stage's cross-executor message bill under the pinned md5-uniform
    vertex hash)."""
    from mesos_pregel_spark.algos.structure import partition_cut

    return partition_cut(
        spark, _parts_edges(spark, sf_dir), n_partitions=_CUT_PARTITIONS
    )


def _sql_partition_cut(plist: tuple[int, ...] = _CUT_PARTITIONS) -> str:
    cuts = ",\n         ".join(
        f"CAST(SUM(CASE WHEN hlo % {p} <> hhi % {p} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS cut_{p}" for p in plist
    )
    unions = "\n  UNION ALL ".join(
        f"SELECT CAST({p} AS INT) AS n_partitions, m AS n_edges, "
        f"cut_{p} AS cut_edges FROM one" for p in plist
    )
    return _SQL_PARTS + f"""
, hashed AS (
  SELECT CAST(('0x' || substr(md5(CAST(lo AS VARCHAR)), 1, 12)) AS BIGINT)
           AS hlo,
         CAST(('0x' || substr(md5(CAST(hi AS VARCHAR)), 1, 12)) AS BIGINT)
           AS hhi
  FROM und
),
one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         {cuts}
  FROM hashed
)
SELECT n_partitions, n_edges, cut_edges,
       ROUND(CAST(cut_edges AS DOUBLE) / CAST(n_edges AS DOUBLE), 9)
         AS cut_ratio,
       ROUND(1.0 - 1.0 / CAST(n_partitions AS DOUBLE), 9) AS random_expect
FROM ({unions})
"""


SQL_PARTITION_CUT = _sql_partition_cut()


# ---------------------------------------------------------------------------
# coarsening by matching contraction (algos/coarsen.py)
# ---------------------------------------------------------------------------

_COARSEN_ROUNDS = 6


def q_coarsen_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multilevel coarsening level of the parts graph: contract
    the deterministic local-max matching (capped at 6 rounds — capped
    ≡ unrolled) into super-vertices and re-aggregate edge weights
    (algos/coarsen.py)."""
    from mesos_pregel_spark.algos.coarsen import coarsen_graph

    coarse, _sup = coarsen_graph(
        spark, _parts_edges(spark, sf_dir), max_rounds=_COARSEN_ROUNDS,
        edge_partitions=8,
    )
    return coarse


def _sql_parts_matching_sup(rounds: int, priority: str = "md5") -> str:
    """Shared CTE chain: the matching unroll (SQL_MATCHING's
    mutual-pointer rounds) on the parts graph's VARCHAR id forms,
    ending in the ``sup`` super-vertex map (numeric min(id, mate)).
    Used by the coarsen twins and the partition-gain twin.
    ``priority="weight"`` = the heavy-edge key (16-digit descending
    weight prefix + md5 tiebreak — algos/matching.py::_edge_prio)."""
    if priority == "weight":
        pkey = ("LPAD(CAST(1000000000000000 - msym.w AS VARCHAR), 16, '0') "
                "|| MD5(LEAST(msym.s, msym.d) || '|' || "
                "GREATEST(msym.s, msym.d))")
        id_from = 50   # 16 weight digits + 32 hex + '|' -> id at 50
    else:
        pkey = ("MD5(LEAST(msym.s, msym.d) || '|' || "
                "GREATEST(msym.s, msym.d))")
        id_from = 34   # 32 hex + '|' -> id at 34
    parts = [_SQL_PARTS + """
, undw AS MATERIALIZED (
  SELECT a.p AS lo, b.p AS hi, CAST(COUNT(*) AS BIGINT) AS w
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
),
msym AS MATERIALIZED (
  SELECT CAST(lo AS VARCHAR) AS s, CAST(hi AS VARCHAR) AS d, w FROM undw
  UNION ALL SELECT CAST(hi AS VARCHAR), CAST(lo AS VARCHAR), w FROM undw
),
ms0 AS MATERIALIZED (
  SELECT DISTINCT s AS actor, 0 AS st, CAST(NULL AS VARCHAR) AS mate
  FROM msym
)"""]
    for k in range(1, rounds + 1):
        parts.append(f""",
mc{k} AS (
  SELECT msym.d AS actor,
         SUBSTR(MIN({pkey} || '|' || msym.s),
                {id_from}) AS cand
  FROM msym
  JOIN ms{k-1} a ON a.actor = msym.s AND a.st = 0
  JOIN ms{k-1} b ON b.actor = msym.d AND b.st = 0
  GROUP BY msym.d
),
ms{k} AS MATERIALIZED (
  SELECT v.actor,
         CASE WHEN v.st = 1 OR m.actor IS NOT NULL THEN 1 ELSE 0 END AS st,
         COALESCE(v.mate, m.cand) AS mate
  FROM ms{k-1} v
  LEFT JOIN (
    SELECT c1.actor, c1.cand
    FROM mc{k} c1 JOIN mc{k} c2 ON c2.actor = c1.cand
    WHERE c2.cand = c1.actor
  ) m ON m.actor = v.actor
)""")
    parts.append(f""",
sup AS (
  SELECT CAST(actor AS BIGINT) AS id,
         CASE WHEN mate IS NOT NULL
              THEN LEAST(CAST(actor AS BIGINT), CAST(mate AS BIGINT))
              ELSE CAST(actor AS BIGINT) END AS super
  FROM ms{rounds}
)""")
    return "".join(parts)


def _sql_coarsen(rounds: int = _COARSEN_ROUNDS,
                 priority: str = "md5") -> str:
    """Coarsen twin: the shared matching/sup chain + the contraction
    (intra-super edges dropped, weights re-aggregated on the canonical
    coarse key)."""
    return _sql_parts_matching_sup(rounds, priority) + """
SELECT LEAST(sa.super, sb.super) AS lo,
       GREATEST(sa.super, sb.super) AS hi,
       CAST(SUM(e.w) AS BIGINT) AS weight
FROM undw e JOIN sup sa ON sa.id = e.lo JOIN sup sb ON sb.id = e.hi
WHERE sa.super <> sb.super
GROUP BY 1, 2
"""


SQL_COARSEN_GRAPH = _sql_coarsen()


def q_coarsen_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAVY-EDGE coarsening of the parts graph (the METIS rule:
    contract the heaviest incident edge first, maximizing co-purchase
    weight absorbed per level) — same contraction as coarsen_graph,
    matching priority = descending weight with md5 tiebreak."""
    from mesos_pregel_spark.algos.coarsen import coarsen_graph

    coarse, _sup = coarsen_graph(
        spark, _parts_edges(spark, sf_dir), max_rounds=_COARSEN_ROUNDS,
        edge_partitions=8, priority="weight",
    )
    return coarse


SQL_COARSEN_HEAVY = _sql_coarsen(priority="weight")


_GAIN_P = 32


def q_coarsen_partition_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilevel partitioning WIN, measured: edge-cut of the
    fine-graph md5-hash partitioner vs the same hash applied to the
    coarsened super ids (matched pairs co-located by construction —
    their edges can never cut).  The gap is the network traffic one
    coarsening level saves every superstep; the partition_cut row is
    the baseline, this row is the payoff.  The gain equals the matched
    edges' share of the edge set (non-matched edges are rehashed with
    the same uniform expectation), so it is modest on a dense substrate
    like this one and grows as matching rounds / levels stack — the
    measured number is the honest one-level figure."""
    from mesos_pregel_spark.algos.coarsen import coarsen_graph
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    edges = _parts_edges(spark, sf_dir)
    _coarse, sup = coarsen_graph(
        spark, edges, max_rounds=_COARSEN_ROUNDS, edge_partitions=8
    )
    und = canonical_undirected(edges)
    tagged = (
        und.join(sup.withColumnsRenamed({"id": "lo", "super": "slo"}), "lo")
        .join(sup.withColumnsRenamed({"id": "hi", "super": "shi"}), "hi")
    )

    def pid(col: str) -> F.Column:
        h12 = F.substring(F.md5(F.col(col).cast("string")), 1, 12)
        return F.conv(h12, 16, 10).cast("long") % _GAIN_P

    one = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.when(pid("lo") != pid("hi"), 1).otherwise(0))
        .cast("long").alias("cut_fine"),
        F.sum(F.when(pid("slo") != pid("shi"), 1).otherwise(0))
        .cast("long").alias("cut_super"),
    )
    return one.select(
        F.lit(_GAIN_P).cast("int").alias("n_partitions"),
        "n_edges", "cut_fine", "cut_super",
        F.round(
            (F.col("cut_fine") - F.col("cut_super")).cast("double")
            / F.col("n_edges").cast("double"), 9
        ).alias("gain"),
    )


def _sql_coarsen_partition_gain(rounds: int = _COARSEN_ROUNDS,
                                p: int = _GAIN_P) -> str:
    def pid(col: str) -> str:
        return (f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 12)) "
                f"AS BIGINT) % {p}")

    return _sql_parts_matching_sup(rounds) + f""",
tagged AS (
  SELECT e.lo, e.hi, sa.super AS slo, sb.super AS shi
  FROM undw e JOIN sup sa ON sa.id = e.lo JOIN sup sb ON sb.id = e.hi
),
one AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CASE WHEN {pid('lo')} <> {pid('hi')} THEN 1 ELSE 0 END)
              AS BIGINT) AS cut_fine,
         CAST(SUM(CASE WHEN {pid('slo')} <> {pid('shi')} THEN 1 ELSE 0 END)
              AS BIGINT) AS cut_super
  FROM tagged
)
SELECT CAST({p} AS INT) AS n_partitions, n_edges, cut_fine, cut_super,
       ROUND(CAST(cut_fine - cut_super AS DOUBLE)
             / CAST(n_edges AS DOUBLE), 9) AS gain
FROM one
"""


SQL_COARSEN_PARTITION_GAIN = _sql_coarsen_partition_gain()


def q_brand_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """community_stats over the part-BRAND labelling of the parts
    graph — the conductance answer to the question brand_assortativity
    asks in correlation terms: how much of each brand-class's edge
    volume crosses the class boundary (cut/volume per class)?  Read
    together they decide whether an attribute is a usable partitioning
    key: assortativity near 0 AND conductance near 1 = hashing by this
    attribute buys nothing.  Pure composition of the audited
    community-stats kernel (algos/communities.py) with a different
    labelling — nothing new computes."""
    from mesos_pregel_spark.algos.communities import community_stats

    labels = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("label")
    )
    return community_stats(spark, _parts_edges(spark, sf_dir), labels)


SQL_BRAND_CONDUCTANCE = _SQL_PARTS + """
, lab AS (SELECT p_partkey AS id, p_brand AS label FROM part),
cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
cvol AS (
  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(d.deg) AS BIGINT) AS volume
  FROM pdeg d JOIN lab l ON d.id = l.id GROUP BY l.label),
cint AS (
  SELECT l1.label, CAST(COUNT(*) AS BIGINT) AS e_in
  FROM und u JOIN lab l1 ON u.lo = l1.id
             JOIN lab l2 ON u.hi = l2.id
  WHERE l1.label = l2.label GROUP BY l1.label),
cstats AS (
  SELECT v.label, v.n_vertices,
         COALESCE(i.e_in, 0) AS internal_edges,
         v.volume,
         v.volume - 2 * COALESCE(i.e_in, 0) AS cut,
         4 * cm.m * COALESCE(i.e_in, 0) - v.volume * v.volume AS mod_num,
         LEAST(v.volume, 2 * cm.m - v.volume) AS cond_den,
         cm.m AS m
  FROM cvol v LEFT JOIN cint i ON v.label = i.label CROSS JOIN cm)
SELECT label, n_vertices, internal_edges, volume, cut,
       ROUND(CASE WHEN cond_den = 0 THEN 0.0
                  ELSE CAST(cut AS DOUBLE) / CAST(cond_den AS DOUBLE) END,
             9) AS conductance,
       ROUND(CAST(mod_num AS DOUBLE) / CAST(4 * m * m AS DOUBLE), 9)
         AS modularity_part
FROM cstats
"""


# ---------------------------------------------------------------------------
# TrustRank / spam mass (algos/trustrank.py)
# ---------------------------------------------------------------------------

_SPAM_STEPS = 4
_SPAM_SEEDS = 4


def q_spam_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative spam mass on the transcript actor graph: trusted seeds
    = the 4 highest-out-degree actors (od DESC, actor ASC — the
    high-activity core), trust = 4-step personalized PageRank from
    them, rel_mass = rank share not attributable to trusted teleport
    (algos/trustrank.py)."""
    from mesos_pregel_spark.algos.trustrank import spam_mass

    e = _graph_edges(spark, sf_dir)
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    seeds = [
        r["src"]
        for r in od.orderBy(F.desc("od"), F.asc("src"))
        .limit(_SPAM_SEEDS).collect()
    ]
    out = spam_mass(spark, e, seeds, steps=_SPAM_STEPS, edge_partitions=8)
    return out.select(
        F.col("id").alias("actor"), "pr_n", "tr_n", "rel_mass"
    )


def _sql_spam_mass(steps: int = _SPAM_STEPS,
                   n_seeds: int = _SPAM_SEEDS) -> str:
    """pr-unroll + trust-unroll + exact nano-unit sums + the pinned
    rel-mass expression (algos/trustrank.py contract)."""
    e_mass = repr(1.0 / n_seeds)
    parts = [_SQL_EDGES + f"""
, n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src_actor, COUNT(*) AS od FROM edges GROUP BY src_actor),
pr0 AS MATERIALIZED (
  SELECT actor, 1.0/(SELECT n FROM n) AS pr FROM verts
),
seeds AS (
  SELECT src_actor AS actor FROM od
  ORDER BY od DESC, src_actor ASC LIMIT {n_seeds}
),
ev AS MATERIALIZED (
  SELECT v.actor,
         CASE WHEN s.actor IS NOT NULL THEN {e_mass} ELSE 0.0 END AS e
  FROM verts v LEFT JOIN seeds s ON s.actor = v.actor
),
tr0 AS MATERIALIZED (SELECT actor, e AS pr FROM ev)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
pr{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN pr{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
),
tr{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15*v.e + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM ev v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN tr{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)""")
    parts.append(f""",
nano AS (
  SELECT p.actor,
         CAST(ROUND(p.pr * 1e9) AS BIGINT) AS pr_n,
         CAST(ROUND(t.pr * 1e9) AS BIGINT) AS tr_n
  FROM pr{steps} p JOIN tr{steps} t ON t.actor = p.actor
),
sums AS (
  SELECT CAST(SUM(pr_n) AS BIGINT) AS sum_pr,
         CAST(SUM(tr_n) AS BIGINT) AS sum_tr
  FROM nano
)
SELECT actor, pr_n, tr_n,
       CASE WHEN pr_n > 0 THEN
         ROUND((CAST(pr_n AS DOUBLE)
                - CAST(tr_n AS DOUBLE)
                  * (CAST(sum_pr AS DOUBLE) / CAST(sum_tr AS DOUBLE)))
               / CAST(pr_n AS DOUBLE), 6)
       END AS rel_mass
FROM nano, sums
""")
    return "".join(parts)


SQL_SPAM_MASS = _sql_spam_mass()


# ---------------------------------------------------------------------------
# motif significance (configuration-model triangle expectation)
# ---------------------------------------------------------------------------


def q_motif_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed triangles on the parts graph vs the configuration-
    model (degree-preserving null) expectation E = (Σk(k−1)/Σk)³/6
    (Newman, "Random graphs with arbitrary degree distributions", PRE
    2001) — THE motif-significance read-out: ratio ≫ 1 means the
    clustering the LCC/transitivity queries measure is structure, not
    a degree-sequence artifact.  Exact BIGINT degree sums, the
    expectation a pinned r·r·r/6 double sequence (no libm pow), one
    rounded division for the ratio."""
    from mesos_pregel_spark.algos.triangles import (
        canonical_undirected,
        triangle_count,
    )

    edges = _parts_edges(spark, sf_dir)
    per_vertex, _run = triangle_count(spark, edges)
    obs = per_vertex.agg(
        (F.coalesce(F.sum("triangles"), F.lit(0)) / 3).cast("long")
        .alias("n_triangles")
    )
    und = canonical_undirected(edges)
    deg = (
        und.select(F.col("lo").alias("id"))
        .unionAll(und.select(F.col("hi").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    )
    sums = deg.agg(
        F.sum("deg").cast("long").alias("sum_k"),
        F.sum(F.col("deg") * (F.col("deg") - 1)).cast("long")
        .alias("sum_kk1"),
    )
    r = F.col("sum_kk1").cast("double") / F.col("sum_k").cast("double")
    expected = r * r * r / 6.0
    return obs.crossJoin(F.broadcast(sums)).select(
        "n_triangles", "sum_k", "sum_kk1",
        F.round(expected, 6).alias("expected"),
        F.round(F.col("n_triangles").cast("double") / expected, 6)
        .alias("ratio"),
    )


def q_rank_degree_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between 4-step PageRank and out-degree on
    the transcript actor graph — the sanity question every ranking
    deployment answers first: does the expensive iterated rank add
    signal over the one-aggregate degree, or is it degree in disguise
    (corr ≈ 1)?  PageRank snaps to exact integer nano-units (the
    spam_mass contract), sums of squares/products widen to
    decimal(38,0)/HUGEINT (pr_n² alone is ~10¹⁸ per vertex), and the
    coefficient is one pinned double expression over the exact sums —
    the degree_assortativity recipe."""
    from mesos_pregel_spark.algos.pagerank import pagerank

    e = _graph_edges(spark, sf_dir)
    pr, _run = pagerank(spark, e, tol=0.0, max_supersteps=4,
                        edge_partitions=8)
    od = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("od")
    )
    both = (
        pr.select(
            "id", F.round(F.col("pagerank") * 1e9).cast("long").alias("x")
        )
        .join(od, "id", "left_outer")
        .select("id", "x", F.coalesce(F.col("od"), F.lit(0)).alias("y"))
    )
    dec = "decimal(38,0)"
    s = both.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x").cast(dec))).cast(dec)
        .alias("sxx"),
        F.sum((F.col("y").cast(dec) * F.col("y").cast(dec))).cast(dec)
        .alias("syy"),
        F.sum((F.col("x").cast(dec) * F.col("y").cast(dec))).cast(dec)
        .alias("sxy"),
    )
    n = F.col("n").cast(dec)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # zero variance on either side (e.g. a regular graph where every
    # actor has the same out-degree) leaves corr undefined — NULL in
    # both engines, never a 0/0
    return s.select(
        F.col("n").alias("n_actors"),
        F.when(
            (denx > 0) & (deny > 0), num / F.sqrt(denx * deny)
        ).alias("corr"),
    )


SQL_RANK_DEGREE_CORR = _SQL_EDGES + """
, n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
od AS (SELECT src_actor, COUNT(*) AS od FROM edges GROUP BY src_actor),
pr0 AS MATERIALIZED (
  SELECT actor, 1.0/(SELECT n FROM n) AS pr FROM verts
)""" + "".join(f""",
pr{k} AS MATERIALIZED (
  SELECT v.actor,
         0.15/(SELECT n FROM n) + 0.85*COALESCE(c.s, 0.0) AS pr
  FROM verts v LEFT JOIN (
    SELECT e.dst_actor AS actor, SUM(p.pr/od.od) AS s
    FROM edges e
    JOIN pr{k-1} p ON e.src_actor = p.actor
    JOIN od ON e.src_actor = od.src_actor
    GROUP BY e.dst_actor) c
  ON v.actor = c.actor
)""" for k in range(1, 5)) + """,
xy AS (
  SELECT CAST(ROUND(p.pr * 1e9) AS HUGEINT) AS x,
         CAST(COALESCE(od.od, 0) AS HUGEINT) AS y
  FROM pr4 p LEFT JOIN od ON od.src_actor = p.actor
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS sxx,
         CAST(SUM(y * y) AS HUGEINT) AS syy,
         CAST(SUM(x * y) AS HUGEINT) AS sxy
  FROM xy
)
SELECT n AS n_actors,
       CASE WHEN CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) > 0
             AND CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) > 0
       THEN
         CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         / SQRT(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE))
       END AS corr
FROM s
"""


def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the parts-graph degree distribution — the
    inequality read-out beside hill_alpha's tail exponent and
    molloy_reed's kappa (Gini ≈ 0 = egalitarian wiring, → 1 = a few
    hubs own the edges; the skew number that decides whether salting
    is worth it before a run).  Computed from the DEGREE HISTOGRAM,
    never a global sort: Gini = Σ_{a,b} h_a·h_b·|a−b| / (2·n·Σdeg)
    over distinct degree VALUES — the histogram self-join is bounded
    by (#distinct degrees)², calendar-small however big the graph;
    products widened to decimal(38,0)/HUGEINT, ONE rounded division."""
    edges = _parts_edges(spark, sf_dir)
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und = canonical_undirected(edges)
    deg = (
        und.select(F.col("lo").alias("id"))
        .unionAll(und.select(F.col("hi").alias("id")))
        .groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    )
    hist = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("c")
    )
    a, b = hist.alias("a"), hist.alias("b")
    num = a.crossJoin(b).agg(
        F.sum(
            F.col("a.c") * F.col("b.c")
            * F.abs(F.col("a.deg") - F.col("b.deg")).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("num")
    )
    base = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum("deg").cast("long").alias("sum_deg"),
    )
    den = (
        F.lit(2).cast("decimal(38,0)")
        * F.col("n_vertices").cast("decimal(38,0)")
        * F.col("sum_deg").cast("decimal(38,0)")
    )
    return base.crossJoin(F.broadcast(num)).select(
        "n_vertices", "sum_deg",
        F.round(
            F.col("num").cast("double") / den.cast("double"), 9
        ).alias("gini"),
    )


SQL_DEGREE_GINI = _SQL_PARTS + """
, hist AS (
  SELECT deg, CAST(COUNT(*) AS HUGEINT) AS c FROM pdeg GROUP BY deg
),
num AS (
  SELECT CAST(SUM(a.c * b.c * CAST(ABS(a.deg - b.deg) AS HUGEINT))
              AS HUGEINT) AS num
  FROM hist a, hist b
),
base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
         CAST(SUM(deg) AS BIGINT) AS sum_deg
  FROM pdeg
)
SELECT n_vertices, sum_deg,
       ROUND(CAST(num AS DOUBLE)
             / CAST(2 * CAST(n_vertices AS HUGEINT)
                    * CAST(sum_deg AS HUGEINT) AS DOUBLE), 9) AS gini
FROM base, num
"""


SQL_MOTIF_SIGNIFICANCE = _SQL_PARTS + """
, tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM und e1
  JOIN und e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
  JOIN und e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
),
obs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles FROM tri),
sums AS (
  SELECT CAST(SUM(deg) AS BIGINT) AS sum_k,
         CAST(SUM(deg * (deg - 1)) AS BIGINT) AS sum_kk1
  FROM pdeg
)
SELECT n_triangles, sum_k, sum_kk1,
       ROUND((CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE))
             * (CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE))
             * (CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE)) / 6.0, 6)
         AS expected,
       ROUND(CAST(n_triangles AS DOUBLE)
             / ((CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE))
                * (CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE))
                * (CAST(sum_kk1 AS DOUBLE) / CAST(sum_k AS DOUBLE)) / 6.0),
             6) AS ratio
FROM obs, sums
"""


def q_markov_step8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-step row-stochastic Markov mass flow on the events actor
    graph (algos/markov.py — P(u→v) = w/outw, x0 uniform, no teleport,
    dangling mass leaves the chain)."""
    from mesos_pregel_spark.algos.markov import markov_mass

    mass, _run = markov_mass(
        spark, _graph_edges(spark, sf_dir), max_supersteps=8,
        edge_partitions=8,
    )
    return mass.select(F.col("id").alias("actor"), "mass")


def _sql_markov(steps: int = 8) -> str:
    """Unrolled row-stochastic power iteration.  The per-edge factor
    is written p.x * (e.w / ow.ow) — the engine's pinned
    parenthesization (algos/markov.py)."""
    parts = ["""
, ew AS MATERIALIZED (
  SELECT src_actor AS s, dst_actor AS d, weight AS w FROM edges),
ow AS MATERIALIZED (SELECT s, SUM(w) AS ow FROM ew GROUP BY s),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
mk0 AS MATERIALIZED (
  SELECT actor, 1.0 / (SELECT n FROM nn) AS x FROM verts
)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
mk{k} AS MATERIALIZED (
  SELECT v.actor, COALESCE(c.s, 0.0) AS x
  FROM verts v LEFT JOIN (
    SELECT e.d AS actor, SUM(p.x * (e.w / ow.ow)) AS s
    FROM ew e JOIN mk{k-1} p ON p.actor = e.s JOIN ow ON ow.s = e.s
    GROUP BY e.d) c
  ON v.actor = c.actor
)""")
    parts.append(f"""
SELECT actor, ROUND(x, 9) AS mass FROM mk{steps}
""")
    return _SQL_EDGES + "".join(parts)


SQL_MARKOV_STEP8 = _sql_markov(8)


def q_lt_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-threshold cascade (θ = 0.5) from the 2 smallest source
    actors on the events actor graph (algos/spread.py); round =
    activation round, -1 where the cascade never arrives."""
    from mesos_pregel_spark.algos.spread import lt_spread

    e = _graph_edges(spark, sf_dir)
    seeds = [
        r["src"]
        for r in e.select("src").distinct().orderBy("src").limit(2).collect()
    ]
    spread, _run = lt_spread(
        spark, e, seeds, theta=0.5, max_supersteps=8, edge_partitions=8,
    )
    return spread.select(F.col("id").alias("actor"), "round")


# Shared LT-cascade substrate CTEs (weights, in-weights, the 2
# smallest-source seed set) — ONE definition under both the single-θ
# twin and the sweep twin.
_SQL_LT_SUBSTRATE = """
, ew AS MATERIALIZED (
  SELECT src_actor AS s, dst_actor AS d, weight AS w FROM edges),
inw AS MATERIALIZED (SELECT d, SUM(w) AS inw FROM ew GROUP BY d),
sd AS MATERIALIZED (
  SELECT s AS actor FROM (
    SELECT DISTINCT src_actor AS s FROM edges ORDER BY s LIMIT 2))"""


def _lt_chain(tag: str, theta: str, steps: int) -> str:
    """ONE lane of the unrolled monotone active-set recurrence
    a_k = a_{k-1} ∪ {v : Σ_{u∈a_{k-1}} w(u,v) ≥ θ·inw(v)}, CTEs
    prefixed ``tag``; final per-lane rounds live in ``{tag}act``.
    The single generator keeps SQL_LT_SPREAD and SQL_LT_SWEEP
    recurrence-identical by construction."""
    parts = [f""",
{tag}a0 AS (SELECT actor FROM sd)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
{tag}a{k} AS MATERIALIZED (
  SELECT actor FROM {tag}a{k-1}
  UNION
  SELECT r.d AS actor FROM (
    SELECT e.d, SUM(e.w) AS rcv
    FROM ew e JOIN {tag}a{k-1} a ON e.s = a.actor GROUP BY e.d) r
  JOIN inw ON inw.d = r.d
  WHERE r.rcv >= {theta} * inw.inw
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT actor, {k} AS r FROM {tag}a{k}" for k in range(0, steps + 1)
    )
    parts.append(f""",
{tag}act AS (
  SELECT actor, CAST(MIN(r) AS BIGINT) AS round
  FROM ({unions}) GROUP BY actor)""")
    return "".join(parts)


def _sql_lt_spread(steps: int = 8, theta: str = "0.5") -> str:
    """The one-lane case of _lt_chain.  Exact whether the engine
    early-halts at the fixpoint or runs to the cap (monotone)."""
    return _SQL_EDGES + _SQL_LT_SUBSTRATE + _lt_chain("", theta, steps) + """
SELECT v.actor, COALESCE(act.round, -1) AS round
FROM verts v LEFT JOIN act ON act.actor = v.actor
"""


SQL_LT_SPREAD = _sql_lt_spread(8)


def q_lt_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep cascade: θ ∈ {0.3, 0.5, 0.7} as LANES of one
    Pregel run (algos/spread.py::lt_sweep — one edge pass per
    superstep answers all three sensitivity levels; per-lane
    send-once gating keeps message volume O(E) per lane)."""
    from mesos_pregel_spark.algos.spread import lt_sweep

    e = _graph_edges(spark, sf_dir)
    seeds = [
        r["src"]
        for r in e.select("src").distinct().orderBy("src").limit(2).collect()
    ]
    sweep, _run = lt_sweep(
        spark, e, seeds, thetas=(0.3, 0.5, 0.7), max_supersteps=8,
        edge_partitions=8,
    )
    return sweep.select(
        F.col("id").alias("actor"),
        F.col("r0").alias("r_03"),
        F.col("r1").alias("r_05"),
        F.col("r2").alias("r_07"),
    )


def _sql_lt_sweep(steps: int = 8,
                  thetas: tuple = ("0.3", "0.5", "0.7")) -> str:
    """Per-lane _lt_chain instances sharing the substrate/seed CTEs,
    joined to one row per actor — lane semantics identical to the
    single-θ twin BY CONSTRUCTION (same generator).  Thetas are
    sorted and deduped to mirror the engine (algos/spread.py sorts),
    and output aliases derive from the FULL theta string (``0.35`` →
    ``r_035``) so no parameterization can collide or mislabel."""
    ths = sorted(set(thetas), key=float)
    if not ths:
        raise ValueError("need at least one theta")
    parts = [_SQL_EDGES, _SQL_LT_SUBSTRATE]
    for i, th in enumerate(ths):
        parts.append(_lt_chain(f"l{i}", th, steps))
    aliases = [f"r_{th.replace('.', '')}" for th in ths]
    if len(set(aliases)) != len(aliases):
        raise ValueError(f"theta aliases collide: {aliases}")
    sel = ", ".join(
        f"COALESCE(l{i}act.round, -1) AS {al}"
        for i, al in enumerate(aliases)
    )
    joins = "\n".join(
        f"LEFT JOIN l{i}act ON l{i}act.actor = v.actor"
        for i in range(len(ths))
    )
    parts.append(f"""
SELECT v.actor, {sel}
FROM verts v
{joins}
""")
    return "".join(parts)


SQL_LT_SWEEP = _sql_lt_sweep(8)


def q_lpa_cc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-counting agreement (Rand / Adjusted Rand) between the
    20-step LPA communities and the exact CC components on the same
    substrate — the quality read-out for "do communities refine
    components and by how much" (algos/communities.py
    ::clustering_agreement)."""
    from mesos_pregel_spark.algos.cc import connected_components
    from mesos_pregel_spark.algos.communities import clustering_agreement
    from mesos_pregel_spark.algos.lpa import label_propagation

    e = _graph_edges(spark, sf_dir)
    labels, _r1 = label_propagation(
        spark, e, max_supersteps=20, edge_partitions=8
    )
    comps, _r2 = connected_components(spark, e, edge_partitions=8)
    return clustering_agreement(
        labels.select("id", "label"),
        comps.select("id", F.col("component").alias("label")),
    )


SQL_LPA_CC_AGREEMENT = _SQL_EDGES + _lpa_cte(20) + """
, reach AS (
  SELECT s AS actor, s AS c FROM symw
  UNION
  SELECT sym.d AS actor, r.c
  FROM reach r JOIN symw sym ON sym.s = r.actor),
comp AS (SELECT actor, MIN(c) AS component FROM reach GROUP BY actor),
pl AS (SELECT l.actor, l.label AS lx, c.component AS ly
       FROM l20 l JOIN comp c ON c.actor = l.actor),
cells AS (SELECT lx, ly, CAST(COUNT(*) AS BIGINT) AS nij
          FROM pl GROUP BY lx, ly),
xs AS (SELECT CAST(SUM(p) AS BIGINT) AS x_pairs FROM (
  SELECT ai * (ai - 1) // 2 AS p FROM (
    SELECT CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY lx))),
ys AS (SELECT CAST(SUM(p) AS BIGINT) AS y_pairs FROM (
  SELECT bj * (bj - 1) // 2 AS p FROM (
    SELECT CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY ly))),
bs AS (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS both_pairs,
              CAST(SUM(nij) AS BIGINT) AS n FROM cells)
SELECT n, n * (n - 1) // 2 AS pairs, both_pairs, x_pairs, y_pairs,
  ROUND((CAST(n * (n - 1) // 2 AS DOUBLE) - CAST(x_pairs AS DOUBLE)
         - CAST(y_pairs AS DOUBLE) + 2.0 * CAST(both_pairs AS DOUBLE))
        / CAST(n * (n - 1) // 2 AS DOUBLE), 9) AS rand,
  CASE WHEN (CAST(x_pairs AS DOUBLE) + CAST(y_pairs AS DOUBLE)) / 2.0
            - CAST(x_pairs AS DOUBLE) * CAST(y_pairs AS DOUBLE)
              / CAST(n * (n - 1) // 2 AS DOUBLE) <> 0.0
       THEN ROUND((CAST(both_pairs AS DOUBLE)
                   - CAST(x_pairs AS DOUBLE) * CAST(y_pairs AS DOUBLE)
                     / CAST(n * (n - 1) // 2 AS DOUBLE))
                  / ((CAST(x_pairs AS DOUBLE) + CAST(y_pairs AS DOUBLE)) / 2.0
                     - CAST(x_pairs AS DOUBLE) * CAST(y_pairs AS DOUBLE)
                       / CAST(n * (n - 1) // 2 AS DOUBLE)), 9)
       ELSE NULL END AS ari
FROM bs, xs, ys
"""


def q_khop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-hop neighbourhood profile from the 3 smallest source
    actors — the exact per-source counterpart of ANF's approximate
    global neighbourhood function, computed by the k-lane Bellman-Ford
    kernel (algos/landmarks.py) over UNIT weights so distances are hop
    counts.  One row per (lane, hop): how many vertices sit exactly
    ``hop`` transitions from sorted-order source ``lane``.  Iteration
    budget pinned 60 = the twin's recursion cap (hop ≤ 60 on BOTH
    sides — k supersteps relax paths of ≤ k edges; asymmetric caps
    would diverge on a >60-hop substrate)."""
    from mesos_pregel_spark.algos.landmarks import landmark_distances

    e = _graph_edges(spark, sf_dir).withColumn("weight", F.lit(1.0))
    lms = [
        r["src"]
        for r in e.select("src").distinct().orderBy("src").limit(3).collect()
    ]
    dists, _run = landmark_distances(
        spark, e, lms, max_supersteps=60, edge_partitions=8
    )
    lanes = None
    for i in range(len(lms)):
        part = dists.where(F.col(f"d{i}").isNotNull()).select(
            F.lit(i).cast("long").alias("lane"),
            F.col(f"d{i}").cast("long").alias("hop"),
        )
        lanes = part if lanes is None else lanes.unionByName(part)
    return lanes.groupBy("lane", "hop").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_KHOP_COUNTS = _SQL_EDGES + """
, dedges AS (SELECT DISTINCT src_actor AS s, dst_actor AS d FROM edges),
lms AS (SELECT s AS a, CAST(ROW_NUMBER() OVER (ORDER BY s) - 1 AS BIGINT)
               AS lane
        FROM (SELECT DISTINCT s FROM dedges ORDER BY s LIMIT 3)),
reach AS (
  SELECT lane, a AS actor, 0 AS hop FROM lms
  UNION
  SELECT r.lane, e.d AS actor, r.hop + 1 AS hop
  FROM reach r JOIN dedges e ON e.s = r.actor
  WHERE r.hop < 60),
md AS (SELECT lane, actor, CAST(MIN(hop) AS BIGINT) AS hop
       FROM reach GROUP BY lane, actor)
SELECT lane, hop, CAST(COUNT(*) AS BIGINT) AS n
FROM md GROUP BY lane, hop
"""


def _temporal_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamped transition substrate shared by the temporal family
    (temporal_reach / temporal_wedges): per-user consecutive events,
    t = the DESTINATION event's epoch-µs (NTZ-safe, _us_col), self-
    transitions dropped.  Per-occurrence timestamps are the point —
    this substrate is never collapsed to weights.  ONE definition,
    mirrored by _sql_transitions_cte, so the temporal twins cannot
    desynchronize."""
    from pyspark.sql import Window

    from mesos_pregel_spark.functions.sessions import _us_col

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _events(spark, sf_dir)
        .select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
            F.lead(_us_col()).over(w).alias("t"),
        )
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


_SQL_TRANSITIONS_INNER = """
    SELECT event_type AS src_actor,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS dst_actor,
           LEAD(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS t
    FROM events"""


def _sql_transitions_cte(cast_double: bool) -> str:
    """The DuckDB twin of _temporal_transitions as a WITH prefix
    (deduped on (s, d, t); temporal_reach casts t to DOUBLE to mirror
    the engine kernel's state type)."""
    tcol = "CAST(t AS DOUBLE) AS t" if cast_double else "t"
    return f"""
WITH tr AS MATERIALIZED (
  SELECT DISTINCT src_actor AS s, dst_actor AS d, {tcol}
  FROM ({_SQL_TRANSITIONS_INNER})
  WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor)"""


def q_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest time-respecting arrival from the smallest actor over
    TIMESTAMPED transitions (algos/temporal.py — foremost-path
    semantics: u→v→w counts only if the v→w transition happens after
    arrival at v).  6-round budget; monotone ⇒ capped ≡ unrolled.
    Transition time = the destination event's epoch-µs (NTZ-safe)."""
    from mesos_pregel_spark.algos.temporal import temporal_reach

    tr = _temporal_transitions(spark, sf_dir)
    seed = tr.agg(F.least(F.min("src"), F.min("dst"))).collect()[0][0]
    reach, _run = temporal_reach(
        spark, tr, seed, max_supersteps=6, edge_partitions=8
    )
    return reach.select(F.col("id").alias("actor"), "arrival_us")


def _sql_temporal_reach(steps: int = 6) -> str:
    """Unrolled earliest-arrival relaxation.  Self-contained (does not
    reuse _SQL_EDGES — the temporal substrate keeps per-transition
    timestamps instead of collapsing to weights)."""
    parts = [_sql_transitions_cte(cast_double=True), """,
tv AS MATERIALIZED (
  SELECT DISTINCT a AS actor FROM (
    SELECT s AS a FROM tr UNION ALL SELECT d FROM tr)),
t0 AS MATERIALIZED (
  SELECT actor,
         CASE WHEN actor = (SELECT MIN(actor) FROM tv)
              THEN 0.0 ELSE 1e18 END AS arr
  FROM tv)"""]
    for k in range(1, steps + 1):
        parts.append(f""",
t{k} AS MATERIALIZED (
  SELECT v.actor, LEAST(p.arr, COALESCE(c.m, 1e18)) AS arr
  FROM tv v
  JOIN t{k-1} p ON p.actor = v.actor
  LEFT JOIN (
    SELECT tr.d AS actor, MIN(tr.t) AS m
    FROM tr JOIN t{k-1} q ON q.actor = tr.s
    WHERE tr.t >= q.arr
    GROUP BY tr.d) c ON c.actor = v.actor
)""")
    parts.append(f"""
SELECT actor,
       CASE WHEN arr >= 1e18 THEN NULL
            ELSE CAST(arr AS BIGINT) END AS arrival_us
FROM t{steps}
""")
    return "".join(parts)


SQL_TEMPORAL_REACH = _sql_temporal_reach(6)


# Δ for temporal wedge counting: 1 hour in microseconds.
_WEDGE_DELTA_US = 3_600_000_000


def q_temporal_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Δ-restricted temporal 2-paths per middle actor (the smallest
    temporal motif of Paranjape-Benson-Leskovec WSDM 2017): count
    ordered transition pairs u→v at t₁, v→w at t₂ with
    0 < t₂−t₁ ≤ Δ (1 h) — "how often does traffic FLOW THROUGH v
    within the hour", the temporal-throughput counterpart of static
    wedge counts.  u = w (returning wedges) counts; it is real
    throughput.

    All-integer µs arithmetic; the self-join key is the middle actor,
    exactly the triangle kernel's wedge-enumeration shape — but the Δ
    window bounds a hub's blow-up by (transition rate × Δ)² instead
    of degree², which is what makes the count computable at all on a
    100-TB log (the static analogue needs the hub cap).

    Shape (design-for-100×): the self-join key is (middle actor,
    Δ-sized TIME BUCKET) — any wedge's closing transition lands in
    the opening transition's bucket or the next one, so the left side
    probes exactly two buckets (one explode) and a hub's join groups
    are bounded by its transition rate × Δ per bucket instead of its
    whole history.  Structural skew-proofing, not an AQE bet; the
    range predicate then exacts the window.  Results are identical to
    the naive mid-keyed join (pinned by
    tests/test_temporal.py::test_wedge_bucketing_equals_naive)."""
    tr = _temporal_transitions(spark, sf_dir).distinct()
    return temporal_wedge_counts(tr, _WEDGE_DELTA_US)


def temporal_wedge_counts(tr: DataFrame, delta_us: int) -> DataFrame:
    """Δ-restricted temporal 2-path counts per middle actor over
    deduped transitions (src, dst, t) — the bucketed join described in
    q_temporal_wedges."""
    # integer `div` — the temporal family's all-integer µs invariant
    # (double division is exact only below 2^53 µs)
    bkt = F.expr(f"t1 div {int(delta_us)}")
    a = (
        tr.select(F.col("dst").alias("mid"), F.col("t").alias("t1"))
        .withColumn("bk", F.explode(F.array(bkt, bkt + F.lit(1))))
    )
    b = tr.select(
        F.col("src").alias("mid"),
        F.col("t").alias("t2"),
        F.expr(f"t div {int(delta_us)}").alias("bk"),
    )
    return (
        a.join(b, ["mid", "bk"])
        .where(
            (F.col("t2") > F.col("t1"))
            & (F.col("t2") - F.col("t1") <= F.lit(delta_us))
        )
        .groupBy(F.col("mid").alias("actor"))
        .agg(F.count(F.lit(1)).alias("n_wedges"))
    )


SQL_TEMPORAL_WEDGES = _sql_transitions_cte(cast_double=False) + f"""
SELECT a.d AS actor, CAST(COUNT(*) AS BIGINT) AS n_wedges
FROM tr a JOIN tr b ON a.d = b.s
WHERE b.t > a.t AND b.t - a.t <= {_WEDGE_DELTA_US}
GROUP BY a.d
"""


def q_simrank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-micro SimRank pairs over the top-32-degree
    induced subgraph of the parts co-purchase graph
    (algos/simrank.py — landmark-bounded, the honest 100-TB form;
    C = 4/5 as multiply-4 / floor-div-5·d·d so NO floating point
    exists anywhere in the recurrence)."""
    from mesos_pregel_spark.algos.simrank import simrank_pairs

    und = _parts_edges(spark, sf_dir).select(
        F.col("src").alias("lo"), F.col("dst").alias("hi")
    )
    return simrank_pairs(
        spark, und, top_k=32, iters=3, pair_limit=100
    ).select(
        F.col("a").alias("part_a"), F.col("b").alias("part_b"), "sim_micro"
    )


def _sql_simrank(top_k: int = 32, iters: int = 3, limit: int = 100) -> str:
    parts = [f""",
top AS MATERIALIZED (
  SELECT id FROM pdeg ORDER BY deg DESC, id LIMIT {top_k}),
ind AS MATERIALIZED (
  SELECT lo, hi FROM und
  WHERE lo IN (SELECT id FROM top) AND hi IN (SELECT id FROM top)),
adj AS MATERIALIZED (
  SELECT lo AS v, hi AS b FROM ind UNION ALL SELECT hi, lo FROM ind),
ideg AS MATERIALIZED (
  SELECT v AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY v),
s0 AS MATERIALIZED (
  SELECT id AS u, id AS v, CAST(1000000 AS BIGINT) AS s FROM top)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
t{k} AS MATERIALIZED (
  SELECT p.u AS u, a.b AS b, CAST(SUM(p.s) AS BIGINT) AS t
  FROM s{k-1} p JOIN adj a ON a.v = p.v GROUP BY p.u, a.b),
o{k} AS MATERIALIZED (
  SELECT a, b, s FROM (
    SELECT g.a, g.b, (4 * g.tot) // (5 * da.deg * db.deg) AS s
    FROM (
      SELECT a2.b AS a, t.b AS b, CAST(SUM(t.t) AS BIGINT) AS tot
      FROM t{k} t JOIN adj a2 ON a2.v = t.u
      GROUP BY a2.b, t.b) g
    JOIN ideg da ON da.id = g.a
    JOIN ideg db ON db.id = g.b
    WHERE g.a <> g.b)
  WHERE s > 0),
s{k} AS MATERIALIZED (
  SELECT u, v, s FROM s0
  UNION ALL SELECT a AS u, b AS v, s FROM o{k})""")
    parts.append(f"""
SELECT u AS part_a, v AS part_b, s AS sim_micro
FROM s{iters} WHERE u < v
ORDER BY s DESC, u, v LIMIT {limit}
""")
    return _SQL_PARTS + "".join(parts)


SQL_SIMRANK_TOPK = _sql_simrank(32, 3, 100)


def q_next_actor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-actor next-hop predictability: the modal next actor and its
    transition share — "how deterministic is the workflow after v".
    Argmax = ROW_NUMBER over (weight DESC, dst ASC): weight is an
    exact integer-valued double and dst a string, so the pick is
    deterministic cross-engine; share is ONE division rounded 9dp.
    Shape: one hash aggregate (out-weights) + one per-src window over
    out-degree-bounded groups — never corpus-wide."""
    e = events_edges(spark, sf_dir)
    from pyspark.sql import Window

    ow = e.groupBy("src_actor").agg(F.sum("weight").alias("ow"))
    w = Window.partitionBy("src_actor").orderBy(
        F.desc("weight"), F.asc("dst_actor")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(ow, "src_actor")
        .select(
            F.col("src_actor").alias("actor"),
            F.col("dst_actor").alias("next_actor"),
            F.col("weight").cast("long").alias("n"),
            F.round(F.col("weight") / F.col("ow"), 9).alias("share"),
        )
    )


SQL_NEXT_ACTOR = _SQL_EDGES + """
, ow AS (SELECT src_actor, SUM(weight) AS ow FROM edges GROUP BY src_actor),
rk AS (
  SELECT src_actor, dst_actor, weight,
         ROW_NUMBER() OVER (
           PARTITION BY src_actor
           ORDER BY weight DESC, dst_actor ASC) AS rn
  FROM edges)
SELECT r.src_actor AS actor, r.dst_actor AS next_actor,
       CAST(r.weight AS BIGINT) AS n,
       ROUND(r.weight / ow.ow, 9) AS share
FROM rk r JOIN ow ON ow.src_actor = r.src_actor
WHERE r.rn = 1
"""


def q_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the transition process, out-weight-mixed:
    H = Σ_edges w·ln(outw/w) / W nats per transition — the one-number
    "how predictable is the whole workflow" next to next_actor's
    per-vertex argmax and turn_entropy's per-conversation profile.

    Determinism contract (the source_kl/unigram discipline): each
    edge's w·ln(outw/w) snaps to an exact BIGINT micro-nat BEFORE the
    corpus sum (order-independent under any partitioning; ln sees a
    bit-identical double in both engines); the reported rate is an
    exact integer FLOOR division in nano-nats — zero FP in any
    aggregate or output.  The nano conversion divides BEFORE scaling
    (quotient·1000 + remainder·1000 div n): a plain
    entropy_micro·1000 wraps int64 near 3·10¹² transitions — inside
    the design envelope — where Spark's non-ANSI multiply goes silent
    and DuckDB raises (the rho-overflow lesson, second sighting);
    this form is exact and safe until entropy_micro itself leaves
    int64 (~3·10¹² transitions at 10⁶ scale ·1000-fold later)."""
    e = events_edges(spark, sf_dir)
    ow = e.groupBy("src_actor").agg(F.sum("weight").alias("ow"))
    terms = e.join(ow, "src_actor").select(
        "weight",
        F.round(
            F.col("weight") * F.log(F.col("ow") / F.col("weight")) * 1e6
        ).cast("long").alias("h_micro"),
    )
    return terms.agg(
        F.sum("weight").cast("long").alias("n_transitions"),
        F.sum("h_micro").cast("long").alias("entropy_micro"),
    ).select(
        "n_transitions",
        "entropy_micro",
        F.expr(
            "(entropy_micro div n_transitions) * 1000"
            " + ((entropy_micro % n_transitions) * 1000)"
            " div n_transitions"
        ).alias("rate_nano"),
    )


SQL_TRANSITION_ENTROPY = _SQL_EDGES + """
, ow AS (SELECT src_actor, SUM(weight) AS ow FROM edges GROUP BY src_actor),
terms AS (
  SELECT e.weight,
         CAST(ROUND(e.weight * ln(ow.ow / e.weight) * 1000000)
              AS BIGINT) AS h_micro
  FROM edges e JOIN ow ON ow.src_actor = e.src_actor),
agg AS (
  SELECT CAST(SUM(weight) AS BIGINT) AS n_transitions,
         CAST(SUM(h_micro) AS BIGINT) AS entropy_micro
  FROM terms)
SELECT n_transitions, entropy_micro,
       (entropy_micro // n_transitions) * 1000
       + ((entropy_micro % n_transitions) * 1000) // n_transitions
         AS rate_nano
FROM agg
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

from mesos_pregel_spark.queries_text import TEXT_ORACLE_SQL, TEXT_QUERIES  # noqa: E402

_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "edge_extract": q_edge_extract,
    "degrees": q_degrees,
    "pagerank_step": _pr_query(1),
    "pagerank_step2": _pr_query(2),
    "pagerank_step8": _pr_query(8),
    "pagerank_weighted_step2": q_pagerank_weighted_step2,
    "pagerank_full": q_pagerank_full,
    "pagerank_conv": q_pagerank_conv,
    "ppr_step4": q_ppr_step4,
    "cc_step": q_cc_step,
    "cc_full": q_cc_full,
    "component_sizes": q_component_sizes,
    "cc_jump": q_cc_jump,
    "lpa_step": q_lpa_step,
    "lpa_step3": _lpa_query(3),
    "lpa_full": q_lpa_full,
    "sssp": q_sssp,
    "hits_step4": q_hits_step4,
    "kcore": q_kcore,
    "msbfs": q_msbfs,
    "landmark_distances": q_landmark_distances,
    "scc": q_scc,
    "condensation_levels": q_condensation_levels,
    "dag_levels": q_dag_levels,
    "tred_profile": q_tred_profile,
    "bipartite_cc": q_bipartite_cc,
    "label_spreading": q_label_spreading,
    "s_core": q_s_core,
    "burstiness": q_burstiness,
    "gap_percentiles": q_gap_percentiles,
    "circadian": q_circadian,
    "graph_hygiene": q_graph_hygiene,
    "core_periphery": q_core_periphery,
    "coreness_mixing": q_coreness_mixing,
    "hitting_time": q_hitting_time,
    "clique_communities": q_clique_communities,
    "dispersion": q_dispersion,
    "forman_curvature": q_forman_curvature,
    "ego_net": q_ego_net,
    "ic_spread": q_ic_spread,
    "percolation_profile": q_percolation_profile,
    "edge_betweenness": q_edge_betweenness,
    "triangles_per_vertex": q_triangles_per_vertex,
    "triangle_total": q_triangle_total,
    "ktruss": q_ktruss,
    "core_number": q_core_number,
    "trussness": q_trussness,
    "mis": q_mis,
    "coloring": q_coloring,
    "coloring_spec": q_coloring_spec,
    "walks": q_walks,
    "walks_multi": q_walks_multi,
    "walks_weighted": q_walks_weighted,
    "walks_node2vec": q_walks_node2vec,
    "anf": q_anf,
    "centralities": q_centralities,
    "graph_summary": q_graph_summary,
    "bipartite_edges": q_bipartite_edges,
    "bipartite_degrees": q_bipartite_degrees,
    "degree_histogram": q_degree_histogram,
    "hill_alpha": q_hill_alpha,
    "sessions": q_sessions,
    "turn_entropy": q_turn_entropy,
    "actor_paths": q_actor_paths,
    "session_funnel": q_session_funnel,
    "pagerank_decayed": q_pagerank_decayed,
    "props_rollup": q_props_rollup,
    "reply_latency": q_reply_latency,
    "session_copairs": q_session_copairs,
    "sweep_cut": q_sweep_cut,
    "wl_colors": q_wl_colors,
    "molloy_reed": q_molloy_reed,
    "onion_layers": q_onion_layers,
    "brand_assortativity": q_brand_assortativity,
    "partition_cut": q_partition_cut,
    "coarsen_graph": q_coarsen_graph,
    "spam_mass": q_spam_mass,
    "retention_cohorts": q_retention_cohorts,
    "funnel_conversion": q_funnel_conversion,
    "motif_significance": q_motif_significance,
    "degree_gini": q_degree_gini,
    "rank_degree_corr": q_rank_degree_corr,
    "session_histogram": q_session_histogram,
    "coarsen_partition_gain": q_coarsen_partition_gain,
    "brand_conductance": q_brand_conductance,
    "coarsen_heavy": q_coarsen_heavy,
    "clustering_coeff": q_clustering_coeff,
    "transitivity": q_transitivity,
    "assortativity": q_assortativity,
    "link_prediction": q_link_prediction,
    "link_prediction_ra": q_link_prediction_ra,
    "link_prediction_aa": q_link_prediction_aa,
    "densest_subgraph": q_densest_subgraph,
    "community_stats": q_community_stats,
    "modularity": q_modularity,
    "greedy_modularity": q_greedy_modularity,
    "harmonic": q_harmonic,
    "eccentricity": q_eccentricity,
    "closeness": q_closeness,
    "salsa_step4": q_salsa_step4,
    "four_cliques": q_four_cliques,
    "avg_neighbor_degree": q_avg_neighbor_degree,
    "edge_embeddedness": q_edge_embeddedness,
    "butterflies": q_butterflies,
    "edges_daily": q_edges_daily,
    "reciprocity": q_reciprocity,
    "bowtie": q_bowtie,
    "robustness": q_robustness,
    "error_tolerance": q_error_tolerance,
    "directed_assortativity": q_directed_assortativity,
    "triad_census": q_triad_census,
    "rank_drift": q_rank_drift,
    "rich_club": q_rich_club,
    "edge_drift": q_edge_drift,
    "bursts": q_bursts,
    "pagerank_daily": q_pagerank_daily,
    "cc_daily": q_cc_daily,
    "katz_step4": q_katz_step4,
    "eigenvector_step4": q_eigenvector_step4,
    "edge_delta": q_edge_delta,
    "weighted_clustering": q_weighted_clustering,
    "betweenness": q_betweenness,
    "matching": q_matching,
    "semi_clusters": q_semi_clusters,
    "boruvka_msf": q_boruvka_msf,
    "markov_step8": q_markov_step8,
    "lt_spread": q_lt_spread,
    "lt_sweep": q_lt_sweep,
    "lpa_cc_agreement": q_lpa_cc_agreement,
    "khop_counts": q_khop_counts,
    "temporal_reach": q_temporal_reach,
    "temporal_wedges": q_temporal_wedges,
    "simrank_topk": q_simrank_topk,
    "next_actor": q_next_actor,
    "transition_entropy": q_transition_entropy,
    **TEXT_QUERIES,
}

# The driver verifies only the FIRST 50 entries of queries() (insertion
# order) against the DuckDB oracles — verified against CORRECTNESS_r03/r04
# (r4 key list == the registry's first 50).  The registry is therefore
# ordered by verification priority, not by topic: every query without a
# green row in any official CORRECTNESS_r*.json comes first, so no window
# slot is spent on an already-green query while a never-green one waits
# (pinned by tests/test_registry.py).  Queries past the window are still
# exercised by tests/test_driver_contract.py, which replays the driver
# protocol over ALL entries at sf0.001.
_QUERY_PRIORITY: list[str] = [
    # --- never green in an official round (87 after round 5) ---
    "pmi_topk",
    "markov_step8",
    "lt_spread",
    "lpa_cc_agreement",
    "khop_counts",
    "temporal_reach",
    "temporal_wedges",
    "simrank_topk",
    "next_actor",
    "transition_entropy",
    "pq_adc_topk",
    "lt_sweep",
    "hill_alpha",
    "heaps_law",
    "fuzzy_decontaminate",
    "dup_source_matrix",
    "component_sizes",
    "bowtie",
    "robustness",
    "error_tolerance",
    "directed_assortativity",
    "eigenvector_step4",
    "textrank",
    "turn_entropy",
    "props_rollup",
    "reply_latency",
    "session_copairs",
    "ivf_purity",
    "ann_recall",
    "sweep_cut",
    "wl_colors",
    "decontam_by_source",
    "molloy_reed",
    "onion_layers",
    "doc_kl_outliers",
    "actor_paths",
    "session_funnel",
    "pagerank_decayed",
    "bm25_topk",
    "ngram_novelty",
    "approx_vocab",
    "dedup_keep_best",
    "brand_assortativity",
    "partition_cut",
    "coarsen_graph",
    "spam_mass",
    "retention_cohorts",
    "funnel_conversion",
    "motif_significance",
    "coarsen_partition_gain",
    # ----------------- driver's 50-query window ends here -----------------
    "brand_conductance",
    "coarsen_heavy",
    "simhash_candidates",
    "kmeanspp_seeds",
    "dedup_report",
    "degree_gini",
    "langid_confusion",
    "source_retention",
    "rank_degree_corr",
    "packing_report",
    "quality_vs_dup",
    "session_histogram",
    "condensation_levels",
    "dag_levels",
    "tred_profile",
    "bipartite_cc",
    "label_spreading",
    "s_core",
    "burstiness",
    "gap_percentiles",
    "core_periphery",
    "hitting_time",
    "clique_communities",
    "dispersion",
    "cluster_split",
    "fertility",
    "edge_betweenness",
    "circadian",
    "vocab_coverage",
    "forman_curvature",
    "ego_net",
    "ic_spread",
    "mrl_recall",
    "graph_hygiene",
    "coreness_mixing",
    "lexical_pairs",
    "percolation_profile",
    # --- green in at least one official round (r1–r5), in their
    #     previous priority order ---
    "multimodal_features",
    "decontaminate",
    "stratified_sample",
    "sample_budget",
    "pii_redact",
    "repetition_ratio",
    "pack_concat",
    "betweenness",
    "matching",
    "semi_clusters",
    "kmeans",
    "tfidf_topk",
    "cluster_balanced_sample",
    "boruvka_msf",
    "unigram_quality",
    "bigram_quality",
    "winnow_fp",
    "overlap_candidates",
    "community_stats",
    "modularity",
    "link_prediction_ra",
    "greedy_modularity",
    "harmonic",
    "eccentricity",
    "salsa_step4",
    "four_cliques",
    "avg_neighbor_degree",
    "edge_embeddedness",
    "butterflies",
    "edges_daily",
    "reciprocity",
    "triad_census",
    "rank_drift",
    "rich_club",
    "edge_drift",
    "bursts",
    "pagerank_daily",
    "cc_daily",
    "katz_step4",
    "edge_delta",
    "weighted_clustering",
    "source_mix",
    "vocab_stats",
    "length_histogram",
    "link_prediction_aa",
    "span_dedup",
    "source_kl",
    "chunk_windows",
    "ngram_hotspots",
    "closeness",
    "minhash_lsh_candidates",
    "near_duplicates",
    "dedup_clusters",
    "simhash",
    "corpus_clean",
    "ivf_topk",
    "ann_multitable_topk",
    "cosine_scores",
    "cosine_topk",
    "embedding_near_dups",
    "ann_lsh_topk",
    "edge_extract",
    "pagerank_full",
    "pagerank_conv",
    "ppr_step4",
    "cc_full",
    "lpa_full",
    "sssp",
    "kcore",
    "msbfs",
    "landmark_distances",
    "scc",
    "triangle_total",
    "ktruss",
    "core_number",
    "trussness",
    "mis",
    "coloring",
    "coloring_spec",
    "degrees",
    "walks",
    "anf",
    "centralities",
    "graph_summary",
    "sessions",
    "clustering_coeff",
    "transitivity",
    "assortativity",
    "link_prediction",
    "densest_subgraph",
    "pagerank_step",
    "pagerank_step2",
    "pagerank_step8",
    "hits_step4",
    "pagerank_weighted_step2",
    "cc_step",
    "cc_jump",
    "lpa_step",
    "lpa_step3",
    "triangles_per_vertex",
    "walks_multi",
    "walks_weighted",
    "walks_node2vec",
    "bipartite_edges",
    "bipartite_degrees",
    "degree_histogram",
    "token_stats",
    "quality_score",
    "language_id",
    "doc_fingerprint",
    "dedup_exact",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _ALL_QUERIES[name] for name in _QUERY_PRIORITY
    if name in _ALL_QUERIES
}
_missing = set(_ALL_QUERIES) - set(QUERIES)
assert not _missing, f"queries dropped from the priority order: {_missing}"

ORACLE_SQL: dict[str, str] = {
    "edge_extract": SQL_EDGE_EXTRACT,
    "degrees": SQL_DEGREES,
    "pagerank_step": SQL_PAGERANK_STEP,
    "pagerank_step2": SQL_PAGERANK_STEP2,
    "pagerank_step8": SQL_PAGERANK_STEP8,
    "pagerank_weighted_step2": SQL_PAGERANK_WEIGHTED_STEP2,
    "pagerank_full": SQL_PAGERANK_FULL,
    "pagerank_conv": SQL_PAGERANK_CONV,
    "ppr_step4": SQL_PPR_STEP4,
    "cc_step": SQL_CC_STEP,
    "cc_full": SQL_CC_FULL,
    "component_sizes": SQL_COMPONENT_SIZES,
    "cc_jump": SQL_CC_FULL,
    "lpa_step": SQL_LPA_STEP,
    "lpa_step3": SQL_LPA_STEP3,
    "lpa_full": SQL_LPA_FULL,
    "sssp": SQL_SSSP,
    "hits_step4": SQL_HITS_STEP4,
    "kcore": SQL_KCORE,
    "msbfs": SQL_MSBFS,
    "landmark_distances": SQL_LANDMARKS,
    "scc": SQL_SCC,
    "condensation_levels": SQL_CONDENSATION_LEVELS,
    "dag_levels": SQL_DAG_LEVELS,
    "tred_profile": SQL_TRED_PROFILE,
    "bipartite_cc": SQL_BIPARTITE_CC,
    "label_spreading": SQL_LABEL_SPREADING,
    "s_core": SQL_S_CORE,
    "burstiness": SQL_BURSTINESS,
    "gap_percentiles": SQL_GAP_PERCENTILES,
    "circadian": SQL_CIRCADIAN,
    "graph_hygiene": SQL_GRAPH_HYGIENE,
    "core_periphery": SQL_CORE_PERIPHERY,
    "coreness_mixing": SQL_CORENESS_MIXING,
    "hitting_time": SQL_HITTING_TIME,
    "clique_communities": SQL_CLIQUE_COMMUNITIES,
    "dispersion": SQL_DISPERSION,
    "forman_curvature": SQL_FORMAN,
    "ego_net": SQL_EGO_NET,
    "ic_spread": SQL_IC_SPREAD,
    "percolation_profile": SQL_PERCOLATION,
    "edge_betweenness": SQL_EDGE_BETWEENNESS,
    "triangles_per_vertex": SQL_TRIANGLES_PER_VERTEX,
    "triangle_total": SQL_TRIANGLE_TOTAL,
    "ktruss": SQL_KTRUSS,
    "core_number": SQL_CORE_NUMBER,
    "trussness": SQL_TRUSSNESS,
    "mis": SQL_MIS,
    "coloring": SQL_COLORING,
    "coloring_spec": SQL_COLORING_SPEC,
    "walks": SQL_WALKS,
    "walks_multi": SQL_WALKS_MULTI,
    "walks_weighted": SQL_WALKS_WEIGHTED,
    "walks_node2vec": SQL_WALKS_NODE2VEC,
    "anf": SQL_ANF,
    "centralities": SQL_CENTRALITIES,
    "graph_summary": SQL_GRAPH_SUMMARY,
    "bipartite_edges": SQL_BIPARTITE_EDGES,
    "bipartite_degrees": SQL_BIPARTITE_DEGREES,
    "degree_histogram": SQL_DEGREE_HISTOGRAM,
    "hill_alpha": SQL_HILL_ALPHA,
    "sessions": SQL_SESSIONS,
    "turn_entropy": SQL_TURN_ENTROPY,
    "actor_paths": SQL_ACTOR_PATHS,
    "session_funnel": SQL_SESSION_FUNNEL,
    "pagerank_decayed": SQL_PAGERANK_DECAYED,
    "props_rollup": SQL_PROPS_ROLLUP,
    "reply_latency": SQL_REPLY_LATENCY,
    "session_copairs": SQL_SESSION_COPAIRS,
    "sweep_cut": SQL_SWEEP_CUT,
    "wl_colors": SQL_WL_COLORS,
    "molloy_reed": SQL_MOLLOY_REED,
    "onion_layers": SQL_ONION_LAYERS,
    "brand_assortativity": SQL_BRAND_ASSORTATIVITY,
    "partition_cut": SQL_PARTITION_CUT,
    "coarsen_graph": SQL_COARSEN_GRAPH,
    "spam_mass": SQL_SPAM_MASS,
    "retention_cohorts": SQL_RETENTION_COHORTS,
    "funnel_conversion": SQL_FUNNEL_CONVERSION,
    "motif_significance": SQL_MOTIF_SIGNIFICANCE,
    "degree_gini": SQL_DEGREE_GINI,
    "rank_degree_corr": SQL_RANK_DEGREE_CORR,
    "session_histogram": SQL_SESSION_HISTOGRAM,
    "coarsen_partition_gain": SQL_COARSEN_PARTITION_GAIN,
    "brand_conductance": SQL_BRAND_CONDUCTANCE,
    "coarsen_heavy": SQL_COARSEN_HEAVY,
    "clustering_coeff": SQL_CLUSTERING_COEFF,
    "transitivity": SQL_TRANSITIVITY,
    "assortativity": SQL_ASSORTATIVITY,
    "link_prediction": SQL_LINK_PREDICTION,
    "link_prediction_ra": SQL_LINK_PREDICTION_RA,
    "link_prediction_aa": SQL_LINK_PREDICTION_AA,
    "densest_subgraph": SQL_DENSEST_SUBGRAPH,
    "community_stats": SQL_COMMUNITY_STATS,
    "modularity": SQL_MODULARITY,
    "greedy_modularity": SQL_GREEDY_MODULARITY,
    "harmonic": SQL_HARMONIC,
    "eccentricity": SQL_ECCENTRICITY,
    "closeness": SQL_CLOSENESS,
    "salsa_step4": SQL_SALSA_STEP4,
    "four_cliques": SQL_FOUR_CLIQUES,
    "avg_neighbor_degree": SQL_AVG_NEIGHBOR_DEGREE,
    "edge_embeddedness": SQL_EDGE_EMBEDDEDNESS,
    "butterflies": SQL_BUTTERFLIES,
    "edges_daily": SQL_EDGES_DAILY,
    "reciprocity": SQL_RECIPROCITY,
    "bowtie": SQL_BOWTIE,
    "robustness": SQL_ROBUSTNESS,
    "error_tolerance": SQL_ERROR_TOLERANCE,
    "directed_assortativity": SQL_DIRECTED_ASSORTATIVITY,
    "triad_census": SQL_TRIAD_CENSUS,
    "rank_drift": SQL_RANK_DRIFT,
    "rich_club": SQL_RICH_CLUB,
    "edge_drift": SQL_EDGE_DRIFT,
    "bursts": SQL_BURSTS,
    "pagerank_daily": SQL_PAGERANK_DAILY,
    "cc_daily": SQL_CC_DAILY,
    "katz_step4": SQL_KATZ_STEP4,
    "eigenvector_step4": SQL_EIGENVECTOR_STEP4,
    "edge_delta": SQL_EDGE_DELTA,
    "weighted_clustering": SQL_WEIGHTED_CLUSTERING,
    "betweenness": SQL_BETWEENNESS,
    "matching": SQL_MATCHING,
    "semi_clusters": SQL_SEMI_CLUSTERS,
    "boruvka_msf": SQL_BORUVKA_MSF,
    "markov_step8": SQL_MARKOV_STEP8,
    "lt_spread": SQL_LT_SPREAD,
    "lt_sweep": SQL_LT_SWEEP,
    "lpa_cc_agreement": SQL_LPA_CC_AGREEMENT,
    "khop_counts": SQL_KHOP_COUNTS,
    "temporal_reach": SQL_TEMPORAL_REACH,
    "temporal_wedges": SQL_TEMPORAL_WEDGES,
    "simrank_topk": SQL_SIMRANK_TOPK,
    "next_actor": SQL_NEXT_ACTOR,
    "transition_entropy": SQL_TRANSITION_ENTROPY,
    **TEXT_ORACLE_SQL,
}
