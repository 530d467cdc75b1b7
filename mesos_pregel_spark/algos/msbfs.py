"""Multi-source BFS with a bit-packed frontier — reachability from up
to 63 sources in ONE Pregel run (the classic batching trick for
landmark selection, reachability indexing and closeness estimation:
k separate BFS runs share their scatter joins by packing "which
sources reached me" into one 64-bit mask combined with bit_or).

Pinned semantics (mirrored by the recursive-CTE DuckDB oracle,
queries.SQL_MSBFS, and the python oracle in tests):

- DIRECTED reachability over the collapsed edge set; a source reaches
  itself (bit set at init).
- Bit i belongs to the i-th source in SORTED source order
  (deterministic cross-engine).
- Superstep: changed vertices send their mask; combiner = bit_or;
  new mask = old | inbox; vote-to-halt when no mask grows.  Round
  number = BFS depth, so the run finishes in diameter+1 supersteps.

Execution shape (design-for-100×): identical plan to CC — frontier-
filtered scatter over src-partitioned persisted edges + one bit_or
combine with map-side partials (P2's combiner table includes bit_or
precisely for this) — but ONE run answers k source queries, k× fewer
passes than per-source BFS.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def multi_source_bfs(
    spark: SparkSession,
    edges: DataFrame,
    sources: Sequence,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Directed reachability masks from ``sources`` (≤ 63).  Returns
    (reach(id, mask), run) — bit i of ``mask`` set iff sorted-order
    source i reaches the vertex."""
    srcs = sorted(set(sources))
    if not 0 < len(srcs) <= 63:
        raise ValueError(f"need 1..63 distinct sources, got {len(srcs)}")

    def init_mask():
        return functools.reduce(
            operator.add,
            [
                F.when(F.col("id") == F.lit(s), F.lit(1 << i).cast("long"))
                .otherwise(F.lit(0).cast("long"))
                for i, s in enumerate(srcs)
            ],
        )

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        verts = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        return verts.select(
            "id",
            init_mask().alias("mask"),
            (init_mask() != 0).alias("changed"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        inbox = F.coalesce(combined["m_or"], F.lit(0).cast("long"))
        new_mask = state["mask"].bitwiseOR(inbox)
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                new_mask.alias("mask"),
                (new_mask != state["mask"]).alias("changed"),
            )
        )

    program = VertexProgram(
        name="msbfs",
        init=init,
        prep_edges=lambda e: e.select("src", "dst").distinct(),
        edge_cols=("src", "dst"),
        msg_cols=[F.col("mask").alias("m")],
        active_filter=F.col("changed"),
        combiner={"m_or": ("m", "bit_or")},
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("active"),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select("id", "mask"),
        params={"sources": [str(s) for s in srcs]},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )
