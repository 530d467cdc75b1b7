"""Deduplication operators for a large-scale training-data pipeline:
exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), n-gram Jaccard verification, SimHash.

All hashing is md5-based so every stage has an EXACT DuckDB oracle
twin (queries.py) — no engine-specific hash functions in the
deterministic path.  Everything is built from JVM-side higher-order
functions (transform/filter/aggregate over arrays) — no Python UDFs.

Scale notes (100 TB corpus):
- shingling + minhash is a single scan + explode + groupBy(doc_id):
  the explode multiplies rows ×|text| but the groupBy partially
  aggregates map-side, so the shuffle carries k minhash strings per
  document, not the shingles;
- the LSH band join shuffles (band_idx, band_key) — uniformly
  distributed md5 prefixes, no hotspot; candidate pairs ≪ n²;
- Jaccard verification joins shingle sets ONLY for candidate pairs
  (broadcast the candidate list when small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.text import (
    fingerprint,
    normalize_text,
    tokens_col,
)

DEFAULT_K = 8       # minhash functions
DEFAULT_BANDS = 4   # LSH bands (rows per band = K // BANDS)
SIMHASH_BITS = 16

# Intermediates persisted by lsh_candidates / near_duplicates (the
# signature / candidate / shingle tables are each referenced several
# times within one returned plan).  They are registered here so callers
# can release executor memory once the returned plan is materialized —
# otherwise repeated invocations in one session (bench + clean_corpus)
# accumulate cached tables forever.
_CACHES: list[DataFrame] = []


def _register_cache(df: DataFrame) -> DataFrame:
    _CACHES.append(df)
    return df


def release_dedup_caches() -> int:
    """Unpersist every intermediate cached by the dedup operators since
    the last release.  Call AFTER materializing the returned plans (the
    plans reference the caches lazily).  Returns the number released."""
    n = len(_CACHES)
    while _CACHES:
        _CACHES.pop().unpersist()
    return n


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via normalized-text fingerprint groups.  Returns one
    row per document: (doc_id, canonical_id, is_duplicate) where
    canonical_id is the smallest doc_id sharing the fingerprint."""
    fp = fingerprint(docs)
    canon = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return fp.join(canon, "fingerprint").select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        "group_size",
    )


def shingles(docs: DataFrame, n: int = 5) -> DataFrame:
    """Distinct character n-gram shingles of the normalized text:
    (doc_id, shingle).  Documents shorter than n yield their whole
    normalized text as the single shingle."""
    norm = normalize_text(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: F.substr(norm, i, F.lit(n)),
    )
    return docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame, n: int = 5, k: int = DEFAULT_K, hash_fn: str = "md5"
) -> DataFrame:
    """k-function MinHash signature per document.

    ``hash_fn='md5'`` (default): hash function i is
    ``md5(i || ':' || shingle)``; the signature component is the
    lexicographic MIN of those hex strings — string ordering is
    identical across engines, so the DuckDB oracle matches
    byte-for-byte.  This is the parity-checked variant.

    ``hash_fn='xxhash64'``: the scale variant — hash i is the native
    64-bit ``xxhash64(i, shingle)`` (no hex strings, 8-byte comparisons
    in whole-stage codegen).  No DuckDB twin (no xxhash64 there);
    identical documents still get identical signatures, so exact-dup
    recall is unchanged (pinned by test)."""
    sh = shingles(docs, n)
    if hash_fn == "xxhash64":
        exprs = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
            for i in range(k)
        ]
    else:
        exprs = [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle"))))
            .alias(f"mh{i}")
            for i in range(k)
        ]
    return sh.groupBy("doc_id").agg(*exprs)


def band_table(
    sig: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """LSH index rows (band_idx, band_key, doc_id) of a signature
    table — band j's key concatenates its r = k/bands minhash strings."""
    r = k // bands
    banded = None
    for j in range(bands):
        key = F.concat_ws(
            "|", *[F.col(f"mh{j * r + t}") for t in range(r)]
        ).alias("band_key")
        part = sig.select(
            F.lit(j).alias("band_idx"), key, F.col("doc_id")
        )
        banded = part if banded is None else banded.unionByName(part)
    return banded


def lsh_candidates(
    docs: DataFrame, n: int = 5, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing at least one LSH
    band; the banded self-join is the classic sub-quadratic LSH step."""
    # The signature table is scanned once per band and the banded table
    # self-joins — without materialization the shingle+minhash subplan
    # (k md5-mins over every shingle) re-executes up to 2*bands times.
    # Signatures are k hex strings per doc: tiny relative to shingles.
    sig = _register_cache(minhash_signatures(docs, n, k, hash_fn).persist())
    banded = band_table(sig, k, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def near_duplicates(
    docs: DataFrame,
    n: int = 5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.0,
    hash_fn: str = "md5",
) -> DataFrame:
    """LSH candidates verified with EXACT n-gram Jaccard similarity.
    Returns (doc_a, doc_b, jaccard) for candidates with
    jaccard >= threshold; jaccard rounded to 9 dp."""
    # cand is referenced twice (intersection + outer join) and sh three
    # times (both join sides + sizes); materialize both so the banded
    # self-join and the shingle explosion run once each.
    cand = _register_cache(lsh_candidates(docs, n, k, bands, hash_fn).persist())
    sh = _register_cache(shingles(docs, n).persist())
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    sa = sh.withColumnsRenamed({"doc_id": "doc_a"})
    sb = sh.withColumnsRenamed({"doc_id": "doc_b"})
    inter = (
        cand.join(sa, "doc_a")
        .join(sb.withColumnRenamed("shingle", "shingle_b"), "doc_b")
        .where(F.col("shingle") == F.col("shingle_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "n_a"})
    nb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "n_b"})
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left_outer")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("inter"), F.lit(0))),
                9,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-document SimHash over whitespace tokens of the normalized
    text.  Token hash = first 8 md5 hex chars as a 32-bit int (same
    derivation in the oracle); bit j of the signature is 1 iff the
    ±1 vote sum over tokens is positive."""
    norm = normalize_text(F.col("text"))
    tok = docs.select(
        "doc_id", F.explode(F.split(norm, " ")).alias("token")
    )
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long")
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def winnow_fingerprints(
    docs: DataFrame, k: int = 5, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): LOCAL fingerprints that two
    documents provably share whenever they have a common substring of
    length >= w + k - 1, which is what makes partial-overlap /
    plagiarism-style detection work where whole-document hashes
    (``fingerprint``) and set-similarity sketches (MinHash) do not
    localize the match.

    Pinned semantics (cross-engine determinism):
    - positions p = 1..max(len(norm)-k+1, 1) over the normalized
      text; h(p) = md5 of the char k-gram at p (short docs emit their
      whole text as the single gram, mirroring ``shingles``);
    - a selection window is anchored at EVERY position p and covers
      [p, min(p+w-1, end)] — anchoring at every position keeps the
      classic full-window guarantee and still emits >=1 fingerprint
      for docs shorter than w positions;
    - each window selects its minimum h; ties break to the RIGHTMOST
      position (the winnowing rule).  Both the min and the tie-break
      ride ONE string key ``h || '|' || lpad(10^9 - p)`` — md5 hex is
      fixed-width so string MIN == (h asc, p desc), identical in
      Spark and DuckDB;
    - output: DISTINCT (doc_id, pos, fp) of the selected grams.

    Shape (design-for-100x): one explode of positioned grams and one
    per-document sliding window frame (ROWS BETWEEN CURRENT ROW AND
    w-1 FOLLOWING) bounded by document length — no self-join blowup;
    the DuckDB twin mirrors the identical frame.  No UDFs, no
    unbounded windows.
    """
    from pyspark.sql import Window

    norm = normalize_text(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: F.substr(norm, i, F.lit(k)),
    )
    pos = docs.select(
        "doc_id", F.posexplode(grams).alias("pos0", "gram")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("p"),
        F.concat(
            F.md5("gram"), F.lit("|"),
            F.lpad((F.lit(1_000_000_000) - F.col("pos0") - 1).cast("string"),
                   10, "0"),
        ).alias("key"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.currentRow, w - 1)
    )
    sel = pos.select(
        "doc_id", F.min("key").over(frame).alias("sel_key")
    ).distinct()
    return sel.select(
        "doc_id",
        (F.lit(1_000_000_000)
         - F.substring("sel_key", 34, 10).cast("long")).alias("pos"),
        F.substring("sel_key", 1, 32).alias("fp"),
    )


def overlap_candidates(
    docs: DataFrame, k: int = 5, w: int = 4,
    min_shared: int = 2, cap: int = 50,
) -> DataFrame:
    """Partial-overlap candidate pairs from shared winnowing
    fingerprints — the companion discovery step to
    :func:`winnow_fingerprints`: two documents sharing a substring of
    length >= w + k - 1 share a fingerprint, so bucket-joining on
    fingerprints surfaces plagiarism-style PARTIAL overlaps that
    whole-document Jaccard misses at low global similarity.

    Pinned semantics:
    - fingerprint sets per doc (positions dropped, DISTINCT fp);
    - fps carried by fewer than 2 or more than ``cap`` documents are
      dropped — the > cap rule is the stop-gram guard (same
      bounded-bucket economics as the LSH band join and the hub cap
      in link_prediction: pair fan-out per fp is <= cap², never
      all-pairs);
    - candidate pair (doc_a < doc_b) kept when >= ``min_shared``
      surviving fps are shared (suppresses single-gram coincidences);
      shared_fps is the exact surviving-fp overlap count.
    """
    wf = (
        winnow_fingerprints(docs, k=k, w=w)
        .select("doc_id", "fp").distinct()
    )
    sz = wf.groupBy("fp").agg(F.count(F.lit(1)).alias("sz"))
    kept = wf.join(
        sz.where((F.col("sz") >= 2) & (F.col("sz") <= cap)).select("fp"),
        "fp",
    )
    a = kept.select(F.col("fp").alias("fp"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp").alias("fp2"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, (a["fp"] == b["fp2"]) & (a["doc_a"] < b["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def span_dedup_stats(docs: DataFrame, span_tokens: int = 8) -> DataFrame:
    """C4-style duplicate-SPAN accounting (Raffel et al. 2020 §2.2
    removed repeated three-sentence spans corpus-wide, keeping the
    first occurrence): documents are cut into consecutive
    non-overlapping ``span_tokens``-token spans, every span is hashed,
    and a span is a DUPLICATE iff the same hash occurs at a strictly
    smaller (doc_id, span position) anywhere in the corpus — the
    keep-first rule.  This localizes boilerplate that whole-document
    fingerprints and MinHash miss (a shared footer in otherwise
    distinct pages), at span rather than winnow's character-gram
    granularity.

    Pinned semantics (cross-engine determinism):
    - tokens: the repo's pinned tokenization (``tokens_col``); spans
      are the floor(n_tokens / span_tokens) FULL windows (the ragged
      tail is never hashed — a partial span is not a C4 span);
    - span hash = md5 of the space-joined token window — both engines
      re-join with a single space, so the hash is byte-identical;
    - first occurrence = lexicographic min (doc_id, pos) per hash,
      exactly one per hash; all other occurrences count as duplicates;
    - dup_ratio = ONE rounded division dup_spans / n_spans (0.0 for
      zero-span docs) — every other column is an exact integer.

    Shape (design-for-100x): ONE full corpus scan builds the hashed
    span table (fan-out n_tokens / span_tokens, i.e. SMALLER than the
    token stream), eagerly materialized because BOTH the keep-first
    aggregate and the attribution join read it — without the
    checkpoint Catalyst re-scans and re-explodes the corpus per
    branch (measured: 3 parquet scans, 0 ReusedExchange).  n_spans is
    recovered by COUNTing the span table itself, so the only other
    corpus touch is a doc_id-only projection (column-pruned to one
    parquet column) that re-attaches zero-span documents.  The
    keep-first aggregate is a struct-min — map-side combinable, so a
    hot boilerplate span carries ONE row out of each map task.  No
    windows, no UDFs, no collects.
    """
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    k = span_tokens
    toks = tokens_col(F.col("text"))
    ns = F.floor(F.size(toks) / k).cast("int")
    base = docs.select(
        "doc_id",
        ns.cast("long").alias("n_spans"),
        F.when(
            ns > 0, F.sequence(F.lit(0), ns - 1)
        ).otherwise(F.array().cast("array<int>")).alias("idx"),
        toks.alias("toks"),
    )
    spans = base.select(
        "doc_id",
        F.explode("idx").alias("pos"),
        F.col("toks"),
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos") * k + 1, k))
        ).alias("h"),
    ).localCheckpoint(eager=True)
    firsts = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    per_doc = (
        spans.join(firsts, "h")
        .select(
            "doc_id",
            (
                ~(
                    (F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("pos") == F.col("first.pos"))
                )
            ).cast("long").alias("is_dup"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("is_dup").cast("long").alias("dup_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long")
            .alias("n_spans"),
            F.coalesce(F.col("dup_spans"), F.lit(0)).cast("long")
            .alias("dup_spans"),
            F.when(
                F.col("n_spans") > 0,
                F.round(
                    F.coalesce(F.col("dup_spans"), F.lit(0)).cast("double")
                    / F.col("n_spans").cast("double"),
                    9,
                ),
            ).otherwise(F.lit(0.0)).alias("dup_ratio"),
        )
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Fuzzy train-vs-eval contamination: the MinHash-LSH counterpart
    of :func:`mesos_pregel_spark.functions.decontam.decontaminate`
    (which catches EXACT n-gram overlap — a lightly paraphrased or
    truncated eval document slips past it; this catches documents
    whose shingle sets are merely SIMILAR, the Jaccard regime GPT-3
    appendix C's 13-gram rule approximates from below).

    Pipeline: both corpora get the parity-checked md5 MinHash
    signatures; a banded CROSS-CORPUS equi-join on (band_idx,
    band_key) yields candidates (never all-pairs — eval is the tiny
    side and AQE broadcasts its band table); candidates are verified
    with EXACT shingle Jaccard; each flagged train document reports
    its single best eval match (max jaccard, tie-break min eval_id —
    deterministic because jaccard is 9dp-rounded first).

    Shape (design-for-100x): train is scanned once for shingles and
    once for signatures (both aggregates materialized); every
    downstream join is candidate-bounded; the best-match window
    partitions by train doc_id — bounded by that doc's candidate
    count, never by corpus size.  Returns (doc_id, eval_id, jaccard)
    for train docs with a match at >= threshold.
    """
    from pyspark.sql import Window

    sig_t = _register_cache(minhash_signatures(train, n, k).persist())
    sig_e = _register_cache(minhash_signatures(eval_docs, n, k).persist())
    bt = band_table(sig_t, k, bands)
    be = band_table(sig_e, k, bands).withColumnRenamed("doc_id", "eval_id")
    cand = (
        bt.join(be, ["band_idx", "band_key"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    sh_t = _register_cache(shingles(train, n).persist())
    sh_e = _register_cache(shingles(eval_docs, n).persist())
    inter = (
        cand.join(sh_t, "doc_id")
        .join(
            sh_e.withColumnsRenamed(
                {"doc_id": "eval_id", "shingle": "shingle_e"}
            ),
            "eval_id",
        )
        .where(F.col("shingle") == F.col("shingle_e"))
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    n_t = sh_t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_t"))
    n_e = (
        sh_e.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_e"))
        .withColumnRenamed("doc_id", "eval_id")
    )
    scored = (
        cand.join(inter, ["doc_id", "eval_id"], "left_outer")
        .join(n_t, "doc_id")
        .join(n_e, "eval_id")
        .select(
            "doc_id",
            "eval_id",
            F.round(
                F.coalesce(F.col("inter"), F.lit(0)).cast("double")
                / (
                    F.col("n_t") + F.col("n_e")
                    - F.coalesce(F.col("inter"), F.lit(0))
                ),
                9,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("eval_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "eval_id", "jaccard")
    )


def dup_source_matrix(
    docs: DataFrame,
    n: int = 5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-source duplication leakage matrix: for every unordered
    source pair, how many verified near-duplicate document pairs span
    it — the report that surfaces mirror sites / syndication feeds /
    source-overlap before a data recipe double-counts them (diagonal
    rows = within-source duplication, the dedup pipeline's own
    economics).

    Pure composition: :func:`near_duplicates` (banded LSH candidates +
    exact Jaccard at ``threshold``) joined twice against the tiny
    (doc_id, source) map, then LEAST/GREATEST-canonicalized and
    hash-aggregated — the matrix is |sources|² rows at most.
    Returns (source_lo, source_hi, n_pairs).
    """
    pairs = near_duplicates(docs, n, k, bands, threshold)
    src = docs.select("doc_id", "source")
    return (
        pairs
        .join(
            src.withColumnsRenamed(
                {"doc_id": "doc_a", "source": "source_a"}), "doc_a")
        .join(
            src.withColumnsRenamed(
                {"doc_id": "doc_b", "source": "source_b"}), "doc_b")
        .select(
            F.least("source_a", "source_b").alias("source_lo"),
            F.greatest("source_a", "source_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def simhash_candidates(
    docs: DataFrame,
    bits: int = SIMHASH_BITS,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate CANDIDATE pairs via banded bucketing —
    the discovery join that turns the per-doc ``simhash`` signature
    into a dedup path without an all-pairs comparison (Manku-Jain-
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007:
    split the fingerprint into bands; any pair within Hamming
    distance d < n_bands must agree EXACTLY on at least one band by
    pigeonhole, so equality buckets per band find every such pair).

    Pinned semantics (exact DuckDB twin in queries_text.py):

    - signature = the pinned 16-bit ``simhash``; band i's key =
      (sig >> i·(bits/n_bands)) & (2^(bits/n_bands) − 1);
    - candidates = distinct (doc_a < doc_b) pairs sharing ≥1 band
      key, kept when popcount(sig_a XOR sig_b) ≤ ``max_hamming``
      (default 3 < 4 bands ⇒ the guarantee is EXACT: the survivor
      set equals the true Hamming-≤3 pair set, found without ever
      comparing all pairs);
    - output (doc_a, doc_b, hamming).

    Shape (design-for-100x): one projection emits n_bands rows per
    doc; the self-join is an equi-join on (band_idx, band_key) —
    bucket sizes follow the signature distribution (a saturated
    bucket means the corpus shares boilerplate; upstream span/exact
    dedup owns that case); the Hamming verify is one integer XOR +
    popcount per candidate, never per pair of the corpus.
    """
    assert bits % n_bands == 0
    w = bits // n_bands
    mask = (1 << w) - 1
    sig = simhash(docs, bits=bits)
    bands = sig.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright("simhash", i * w).bitwiseAND(F.lit(mask))
                    .alias("band_key"),
                )
                for i in range(n_bands)
            ])
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs
