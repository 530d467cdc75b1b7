"""Independent output oracles for the benchmark's workloads.

Pure numpy (plus DuckDB for transcript edge extraction): nothing here
imports the engine, so a defect in the engine cannot hide in its own
reference.  The semantics are the engine's pinned ones:

- PageRank: parallel edges collapsed (distinct pairs, or weight-summed
  when weighted), self-loops kept, dangling mass leaks (no
  renormalisation), start at 1/N, stop when max |delta| < tol.
- Connected components: undirected, self-loops dropped, every vertex
  labelled with the minimum vertex id of its component.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85
TOL = 1e-6


def pagerank(src, dst, weight=None, damping=DAMPING, tol=TOL, max_iter=1000):
    """Power iteration.  Returns (ids, ranks, iterations) with ``ids``
    sorted ascending; ``iterations`` counts updates up to and including
    the first whose max |delta| is below ``tol``."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, t = inv[: len(src)], inv[len(src):]
    pair, pinv = np.unique(s * n + t, return_inverse=True)
    if weight is None:
        w = np.ones(len(pair))
    else:
        w = np.bincount(pinv, weights=np.asarray(weight, dtype=np.float64),
                        minlength=len(pair))
    s, t = pair // n, pair % n
    out_w = np.bincount(s, weights=w, minlength=n)
    pr = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        gathered = np.bincount(t, weights=pr[s] * w / out_w[s], minlength=n)
        new = (1.0 - damping) / n + damping * gathered
        delta = np.abs(new - pr).max()
        pr = new
        if delta < tol:
            return ids, pr, it
    raise RuntimeError(f"oracle PageRank did not converge in {max_iter} iterations")


def components(src, dst):
    """Min-label propagation to a fixpoint.  Returns (ids, labels) with
    ``ids`` sorted ascending; vertices touching only self-loops are
    absent, as in the engine's symmetrised edge table."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a = np.concatenate([inv[: len(src)], inv[len(src):]])
    b = np.concatenate([inv[len(src):], inv[: len(src)]])
    label = np.arange(len(ids))  # dense index order == id order
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, b, label[a])
        if np.array_equal(nxt, label):
            return ids, ids[label]
        label = nxt


def undirected_edge_count(src, dst) -> int:
    """Rows of the engine's symmetrised CC edge table: both directions
    of every distinct non-self-loop pair."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    keep = src != dst
    lo = np.minimum(src[keep], dst[keep])
    hi = np.maximum(src[keep], dst[keep])
    pairs = np.unique(np.stack([lo, hi], axis=1), axis=0)
    return 2 * len(pairs)


def distinct_edge_count(src, dst) -> int:
    """Rows of the engine's unweighted PageRank edge table."""
    pairs = np.stack([np.asarray(src, np.int64), np.asarray(dst, np.int64)], axis=1)
    return len(np.unique(pairs, axis=0))


# Actor of a turn: its tool when it has one, else its role; consecutive
# turns of a conversation (by turn_idx) link, self-loops dropped,
# weight = number of links.
TRANSCRIPT_EDGES_SQL = """
WITH turns AS (
    SELECT conv_id, turn_idx,
           coalesce('tool:' || tool, 'role:' || role) AS actor
    FROM read_parquet(?)
), linked AS (
    SELECT actor AS src_actor,
           lead(actor) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst_actor
    FROM turns
)
SELECT src_actor, dst_actor, count(*)::DOUBLE AS weight
FROM linked
WHERE dst_actor IS NOT NULL AND src_actor <> dst_actor
GROUP BY src_actor, dst_actor
"""


def transcript_edges(parquet_glob: str) -> tuple[list[tuple[str, str, float]], int]:
    """DuckDB over the transcript parquet files.  Returns (actor edge
    rows sorted by (src, dst), number of turns)."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(TRANSCRIPT_EDGES_SQL, [parquet_glob]).fetchall()
        turns = con.execute("SELECT count(*) FROM read_parquet(?)", [parquet_glob]).fetchone()[0]
    finally:
        con.close()
    return sorted((s, d, float(w)) for s, d, w in rows), int(turns)


def ranks_match(ids, ranks, exp_ids, exp_ranks, rtol=1e-6) -> bool:
    """Same vertex set, and every rank within ``rtol`` of the oracle."""
    order = np.argsort(ids)
    ids, ranks = np.asarray(ids)[order], np.asarray(ranks)[order]
    return bool(
        np.array_equal(ids, exp_ids)
        and np.allclose(ranks, exp_ranks, rtol=rtol, atol=0.0)
    )


def labels_match(ids, labels, exp_ids, exp_labels) -> bool:
    """Same vertex set and exactly the same component labels."""
    order = np.argsort(ids)
    return bool(
        np.array_equal(np.asarray(ids)[order], exp_ids)
        and np.array_equal(np.asarray(labels)[order], exp_labels)
    )
