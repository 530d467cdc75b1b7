"""S2 — CSR-packed Arrow kernel (BASELINE.json:6 "vectorized
Arrow/pandas UDFs over CSR-packed edge partitions").

Triangle counting (A4) has a join-free fast path when the oriented
edge list is small enough to broadcast: the driver packs it once into
sorted numpy arrays — a CSR adjacency (per-vertex offsets into one
neighbor array) plus a sorted uint64 edge-key index — and
``mapInPandas`` streams the edge table in Arrow batches, answering
every wedge's closing-edge test with one vectorized binary search per
batch (see :func:`csr_triangle_counts`).  No per-row Python, and no
wedge shuffle.

This trades the wedge join's shuffles for a broadcast — the right
physical plan when the graph fits on one machine, and the caller
chooses it explicitly (``triangle_count(..., kernel='csr')``) since
Catalyst can't see that regime.  The broadcast is GUARDED: an edge
list larger than ``max_broadcast_rows`` raises
:class:`CsrStateTooLarge` instead of silently collecting the cluster's
edges through the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Rows above which a CSR kernel refuses to broadcast.  5e7 rows ×
# ~24 B/row ≈ 1.2 GB on the driver and per executor — the sane ceiling
# for a broadcast; past it the join kernel wins anyway.
MAX_BROADCAST_ROWS = 50_000_000


class CsrStateTooLarge(ValueError):
    """Input exceeds the broadcastable bound for a CSR kernel."""


def csr_triangle_counts(
    spark: SparkSession,
    oriented: DataFrame,
    max_broadcast_rows: int | None = None,
) -> DataFrame:
    """A4 alternate kernel: fully vectorized pair-membership triangle
    counting over a broadcast CSR adjacency.

    ``oriented`` is the degree-ordered oriented edge table (u, v) from
    algos/triangles.py.  Vertex ids are densified to 32-bit so an
    oriented edge packs into one uint64 key; the sorted key array IS
    the adjacency membership index.  For each edge batch:

    1. expand every edge (u, v) into its candidate rows — one per
       neighbor w ∈ adj(u) — with a repeat/cumsum gather (no Python
       loop: the concatenated adjacency slices are one fancy-index);
    2. w closes triangle {u, v, w} iff oriented edge (v, w) exists —
       ONE vectorized ``np.searchsorted`` of the packed (v<<32|w) keys
       against the broadcast key array;
    3. credit u and v with their per-edge hit counts (``np.bincount``)
       and each hit w with 1.

    Replaces the per-edge ``np.intersect1d`` loop (round-1 bench's
    slowest query — VERDICT r01 "What's wrong" #3).

    Regime: the oriented edge list must fit in a broadcast
    (``max_broadcast_rows`` guard); beyond that, the wedge-join
    formulation in algos/triangles.py is the scale path.  Returns
    (id, triangles) partial counts (sum per id = per-vertex count;
    total = sum/3).
    """
    if max_broadcast_rows is None:
        max_broadcast_rows = MAX_BROADCAST_ROWS
    n_edges = oriented.count()
    if n_edges > max_broadcast_rows:
        raise CsrStateTooLarge(
            f"oriented edge list has {n_edges:,} rows > broadcastable bound "
            f"{max_broadcast_rows:,}; use the join kernel"
        )
    pdf = oriented.select("u", "v").toPandas()
    u = pdf["u"].to_numpy()
    v = pdf["v"].to_numpy()
    vocab = np.unique(np.concatenate([u, v]))  # sorted raw ids
    if len(vocab) >= 2**31:
        raise CsrStateTooLarge("vertex count exceeds 32-bit dense id space")
    ud = np.searchsorted(vocab, u).astype(np.uint64)
    vd = np.searchsorted(vocab, v).astype(np.uint64)
    keys = np.sort((ud << np.uint64(32)) | vd)  # membership index
    order = np.lexsort((vd, ud))
    ud_s, vd_s = ud[order], vd[order]
    uniq, starts = np.unique(ud_s, return_index=True)
    bounds = np.append(starts, len(ud_s))
    bc = spark.sparkContext.broadcast((vocab, uniq, bounds, vd_s, keys))

    def count_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_vocab, b_uniq, b_bounds, b_adj, b_keys = bc.value
        for batch in batches:
            eu = np.searchsorted(b_vocab, batch["u"].to_numpy()).astype(np.uint64)
            ev = np.searchsorted(b_vocab, batch["v"].to_numpy()).astype(np.uint64)
            nb = len(eu)
            iu = np.searchsorted(b_uniq, eu)
            iu = np.clip(iu, 0, len(b_uniq) - 1)
            present = b_uniq[iu] == eu
            du = np.where(present, b_bounds[iu + 1] - b_bounds[iu], 0)
            total = int(du.sum())
            if total == 0:
                yield pd.DataFrame({"id": np.empty(0, np.int64),
                                    "triangles": np.empty(0, np.int64)})
                continue
            edge_rep = np.repeat(np.arange(nb), du)
            grp_start = np.cumsum(du) - du
            within = np.arange(total) - np.repeat(grp_start, du)
            pos = np.repeat(b_bounds[iu], du) + within
            w = b_adj[pos]                          # candidates: adj(u)
            probe = (np.repeat(ev, du) << np.uint64(32)) | w
            loc = np.searchsorted(b_keys, probe)
            loc = np.clip(loc, 0, len(b_keys) - 1)
            hit = b_keys[loc] == probe              # (v, w) edge exists
            per_edge = np.bincount(edge_rep[hit], minlength=nb)
            nz = per_edge > 0
            ids = np.concatenate([
                b_vocab[eu[nz].astype(np.int64)],
                b_vocab[ev[nz].astype(np.int64)],
                b_vocab[w[hit].astype(np.int64)],
            ])
            counts = np.concatenate([
                per_edge[nz], per_edge[nz],
                np.ones(int(hit.sum()), dtype=np.int64),
            ])
            yield pd.DataFrame({"id": ids.astype(np.int64),
                                "triangles": counts.astype(np.int64)})

    partials = oriented.select("u", "v").mapInPandas(
        count_batches, "id long, triangles long"
    )
    return partials.groupBy("id").agg(F.sum("triangles").alias("triangles"))
