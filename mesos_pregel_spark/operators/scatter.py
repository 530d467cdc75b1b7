"""P1 — scatter: message generation along out-edges.

Pregel semantics [P §3]: each *active* vertex runs Compute and calls
SendMessageTo along its out-edges; messages are visible at the next
superstep.  Spark-first mapping: an equi-join of the (static,
pre-partitioned, persisted) edge table with the active vertex state,
projecting ``(dst, msg)``.

Scale notes:
- The edge table is repartitioned by ``src`` ONCE and persisted, and
  the Pregel loop keeps the vertex state hash-partitioned by ``id``
  into the same number of partitions (plans/program.py), so the join
  needs no exchange on either side: nothing shuffles here.  The state
  is named as the hash-join build side with a ``shuffle_hash`` hint,
  because truncated state carries no size estimate to choose one by
  (plans/truncate.py).
- A caller whose state is not partitioned that way still gets a
  correct join; Spark then shuffles the sides it must.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scatter(
    edges: DataFrame,
    vertices: DataFrame,
    msg_cols: Sequence[Column],
    active_filter: Column | None = None,
) -> DataFrame:
    """Join edges (src, dst, weight) with vertex state on src == id and
    project message columns.

    ``msg_cols`` are expressions over the joined row (edge columns +
    vertex columns); each must be aliased.  ``active_filter`` restricts
    the sending side (vote-to-halt / frontier).  Returns one message
    row per (active-src out-edge).
    """
    v = vertices
    if active_filter is not None:
        v = v.where(active_filter)
    v = v.hint("shuffle_hash")
    joined = edges.join(v, edges["src"] == v["id"], "inner")
    return joined.select(F.col("dst"), *msg_cols)
