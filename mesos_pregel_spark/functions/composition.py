"""Corpus-composition reporting for training-data pipelines: source
mixing weights (temperature sampling), vocabulary/Zipf summary, and a
sequence-length histogram.  These are the one-pass aggregates a data
recipe consults before sampling/packing a 100-TB corpus (mixture
weights a la GPT-3 Table 2.2 / LLaMA data recipe; length histograms
drive pack_concat's chunk budget).

Cross-engine determinism discipline (same as unigram_logprob): every
aggregate is a SUM/COUNT of exact integers; the single reported ratio
per row divides two exactly-representable integers once.  The only
transcendental is sqrt in the temperature weight, snapped to an exact
integer micro-weight BEFORE the order-dependent sum, so partition
order can never change a digit.

Shape (design-for-100x): each operator is one or two hash aggregates
over the token stream or the per-doc stats — map-side combinable,
no windows over unbounded partitions, no UDFs, no collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.text import tokens_col

# sqrt(n_tokens) snapped to micro-units: the per-source weight is the
# exact long round(sqrt(n)*1e6), so the normalizing denominator is an
# integer sum (order-independent) and mix_weight is ONE division.
_MIX_MICRO = 10**6


def source_mix(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Per-source mixture table: document/token counts, the raw token
    share, and a temperature-flattened sampling weight w_s proportional
    to n_tokens^alpha (alpha=0.5 pinned: sqrt is the one correctly-
    rounded IEEE transcendental available identically in Spark and
    DuckDB; other alphas would need pow, which is not).

    Returns (source, n_docs, n_tokens, token_share, mix_weight),
    ordered deterministically by the caller if needed."""
    if alpha != 0.5:
        raise ValueError("alpha is pinned to 0.5 (sqrt) for determinism")
    per_source = docs.select(
        "source", F.size(tokens_col(F.col("text"))).cast("long").alias("nt")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )
    w_micro = F.round(
        F.sqrt(F.col("n_tokens").cast("double")) * _MIX_MICRO
    ).cast("long")
    per_source = per_source.select(
        "source", "n_docs", "n_tokens", w_micro.alias("w_micro")
    )
    totals = per_source.agg(
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
        F.sum("w_micro").cast("long").alias("tot_w"),
    )
    return per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("tot_tokens"), 9
        ).alias("token_share"),
        F.round(
            F.col("w_micro").cast("double") / F.col("tot_w"), 9
        ).alias("mix_weight"),
    )


def vocab_stats(docs: DataFrame) -> DataFrame:
    """One-row corpus vocabulary summary: total token count, vocabulary
    size, hapax-legomenon count (terms seen exactly once), and the
    type-token ratio — the Zipf-tail health check before vocab/BPE
    training.  Empty tokens are dropped (same rule as unigram_quality).

    Returns (total_tokens, vocab_size, hapax, type_token_ratio)."""
    terms = (
        docs.select(
            F.explode(tokens_col(F.col("text"))).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return terms.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("long").alias("hapax"),
    ).select(
        "total_tokens",
        "vocab_size",
        "hapax",
        F.round(
            F.col("vocab_size").cast("double") / F.col("total_tokens"), 9
        ).alias("type_token_ratio"),
    )


def length_histogram(docs: DataFrame) -> DataFrame:
    """Power-of-two sequence-length histogram: bucket b holds documents
    with 2^b <= n_tokens < 2^(b+1).  The bucket index is computed as
    LENGTH(bin(n_tokens)) - 1 — pure integer/string ops, because
    floor(log2(n)) via libm log division can land on the wrong side of
    a power-of-two boundary and the two engines' libm need not agree.

    Returns (bucket, n_docs, sum_tokens) — the packing planner's input
    (which chunk size covers which share of the corpus)."""
    nt = F.size(tokens_col(F.col("text"))).cast("long")
    return (
        docs.select(
            (F.length(F.bin(nt)) - 1).cast("long").alias("bucket"),
            nt.alias("nt"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("long").alias("sum_tokens"),
        )
    )


def source_kl(docs: DataFrame) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution,
    D(P_s || P) = sum_t p_s(t) * ln(p_s(t) / p(t)) — the standard
    domain-shift diagnostic a data recipe consults next to
    ``source_mix`` (a source with high KL is lexically unlike the
    blend it is being mixed into; Xie et al. "DoReMi" 2023 weights
    domains by exactly this kind of distributional gap).

    No smoothing is needed: every term of source s also occurs in the
    corpus (c_t >= c_st > 0), so the log-ratio is always finite.

    Pinned semantics (cross-engine determinism, the unigram_logprob
    discipline):
    - per (source, term): the log-ratio ln((c_st * N) / (c_t * n_s))
      is computed as ONE expression shape in both engines — two exact
      integer-to-double products, one correctly-rounded IEEE division,
      one libm ln, then snapped to an exact BIGINT micro-nat
      (ROUND(* 1e6)) BEFORE anything is summed;
    - the per-source sum is therefore a sum of exact integers
      c_st * lr_micro — order-independent under any partitioning;
    - kl = ROUND(sum / (n_s * 1e6), 9): ONE division of two
      exactly-representable integers (|sum| < 2^53 for corpora up to
      ~10^8 tokens per source; at 100 TB promote the sum column to
      decimal(38,0), the plan is unchanged).

    Shape (design-for-100x): ONE corpus scan — one explode + one
    (source, term) hash aggregate, eagerly materialized so the four
    downstream branches never re-scan the corpus; the corpus term
    table joins back on term (zipfian hot keys — the count table is
    |vocab| rows, AQE broadcasts it when small and splits skew
    otherwise, same economics as unigram_logprob); per-source totals
    and the 1-row corpus total are broadcast.
    Returns (source, n_tokens, n_terms, kl).
    """
    st = (
        docs.select(
            "source", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
        # Four branches (per-source totals, per-term totals, corpus
        # total, final join) read this table; column pruning makes
        # their exchanges non-identical, so Catalyst does NOT reuse
        # them and the corpus would be scanned+exploded FOUR times
        # (measured: 4 parquet scans, 0 ReusedExchange).  The
        # aggregate is |sources x vocab| rows — tiny vs the corpus —
        # so materialize it once and let every branch read the
        # checkpointed table (1 corpus scan total).
        .localCheckpoint(eager=True)
    )
    per_source = st.groupBy("source").agg(
        F.sum("c_st").cast("long").alias("n_s"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    per_term = st.groupBy("term").agg(
        F.sum("c_st").cast("long").alias("c_t")
    )
    total = per_source.agg(F.sum("n_s").cast("long").alias("n_total"))
    lr_micro = F.round(
        F.log(
            (F.col("c_st").cast("double") * F.col("n_total").cast("double"))
            / (F.col("c_t").cast("double") * F.col("n_s").cast("double"))
        ) * 1e6
    ).cast("long")
    return (
        st.join(per_term, "term")
        .join(F.broadcast(per_source), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source", "n_s", "n_terms",
            (F.col("c_st") * lr_micro).alias("contrib"),
        )
        .groupBy("source", "n_s", "n_terms")
        .agg(F.sum("contrib").alias("sum_micro"))
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            "n_terms",
            F.round(
                F.col("sum_micro").cast("double")
                / (F.col("n_s").cast("double") * 1e6),
                9,
            ).alias("kl"),
        )
    )


def ngram_hotspots(
    docs: DataFrame, n: int = 3, top_k: int = 100
) -> DataFrame:
    """Corpus-wide top-k most frequent token n-grams — the boilerplate
    detector (cookie banners, license headers, navigation chrome
    surface as n-grams whose corpus count vastly exceeds their
    document count × organic rate; the C4/Gopher cleaning recipes cut
    exactly these).  Complements ``span_dedup_stats``: spans find
    REPEATED REGIONS, hotspots name the phrases.

    Pinned semantics (cross-engine determinism):
    - tokens: the pinned tokenization; only FULL n-grams (positions
      1..n_tokens-n+1), space-rejoined — byte-identical text both
      engines; documents shorter than n emit nothing;
    - ordering all-integer-then-string: (cnt DESC, n_docs DESC,
      ngram ASC), LIMIT top_k — deterministic;
    - n_docs = exact distinct document count per n-gram.

    Shape (design-for-100x): one explode (fan-out ~n_tokens rows) and
    one hash aggregate; COUNT(DISTINCT doc_id) partially de-dups
    map-side, so the hottest n-gram's shuffle traffic is its distinct
    doc list, not its occurrence list; top-k is a TakeOrdered, never
    a global sort.  Returns (ngram, cnt, n_docs).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    nt = F.size(F.col("toks"))
    grams = F.when(
        nt >= n,
        F.transform(
            F.sequence(F.lit(1), nt - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs"),
        )
        .orderBy(F.desc("cnt"), F.desc("n_docs"), F.asc("ngram"))
        .limit(top_k)
    )


PMI_SCALE = 1_000_000


def pmi_topk(
    docs: DataFrame, min_count: int = 3, top_k: int = 100
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information
    (Church-Hanks 1990, computed over the bigram contingency table) —
    the phrase-mining step a tokenizer/vocabulary pipeline runs next
    to ``ngram_hotspots``: hotspots rank by raw frequency (surfacing
    boilerplate), PMI ranks by ASSOCIATION, surfacing multiword units
    ("new york") whose parts rarely appear apart.

    PMI(x, y) = ln( p(x,y) / (p_left(x) * p_right(y)) ) with all three
    probabilities estimated from the bigram table itself (row marginal
    = count of x as left word, column marginal = count of y as right
    word, N = total bigrams), i.e. the 2x2-contingency form — chosen
    over corpus unigram marginals because every quantity then derives
    from ONE materialized aggregate and the corpus is scanned once.

    Pinned semantics (cross-engine determinism, the source_kl
    discipline):
    - pinned tokenization; bigrams are consecutive token pairs within
      a document (docs shorter than 2 tokens emit nothing);
    - the log argument is ONE expression shape in both engines —
      (cnt*N)/(r_x*c_y) as left-associated double products and one
      correctly-rounded IEEE division — and the one libm ln result is
      snapped to an exact BIGINT micro-nat BEFORE ordering;
    - ordering all-integer-then-string: (pmi_micro DESC, cnt DESC,
      w1 ASC, w2 ASC), LIMIT top_k — deterministic; ``min_count``
      drops hapax pairs (classic PMI low-frequency pathology) by an
      integer comparison.

    Shape (design-for-100x): one corpus scan -> one (w1, w2) hash
    aggregate, materialized once (three branches — marginals and the
    total — read the aggregate, never the corpus; same economics as
    source_kl); marginal tables are <= |vocab| rows, AQE broadcasts
    them when small; the final top-k is a TakeOrdered over the
    min_count-filtered aggregate, never a global sort.  At 100 TB the
    distinct-bigram aggregate is large but distributed — swap the
    localCheckpoint for a reliable checkpoint dir, plan unchanged.
    Returns (w1, w2, cnt, pmi).
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    nt = F.size(F.col("toks"))
    pairs = F.when(
        nt >= 2,
        F.transform(
            F.sequence(F.lit(1), nt - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = (
        docs.select(tokens_col(F.col("text")).alias("toks"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    left_m = bg.groupBy("w1").agg(F.sum("cnt").cast("long").alias("r_x"))
    right_m = bg.groupBy("w2").agg(F.sum("cnt").cast("long").alias("c_y"))
    total = bg.agg(F.sum("cnt").cast("long").alias("n_b"))
    pmi_micro = F.round(
        F.log(
            (F.col("cnt").cast("double") * F.col("n_b").cast("double"))
            / (F.col("r_x").cast("double") * F.col("c_y").cast("double"))
        ) * PMI_SCALE
    ).cast("long")
    return (
        bg.where(F.col("cnt") >= min_count)
        .join(left_m, "w1")
        .join(right_m, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "cnt", pmi_micro.alias("pmi_micro"))
        .orderBy(
            F.desc("pmi_micro"), F.desc("cnt"), F.asc("w1"), F.asc("w2")
        )
        .limit(top_k)
        .select(
            "w1", "w2", "cnt",
            (F.col("pmi_micro").cast("double") / PMI_SCALE).alias("pmi"),
        )
    )


def heaps_law(docs: DataFrame, partitions: int | None = None) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(N) ~ K * N^beta (Heaps 1978;
    Herdan 1960) over the corpus read in doc_id order — the projection
    a vocab/BPE-training plan runs before committing to a vocabulary
    size: beta near 0.5 means doubling the corpus grows the vocabulary
    ~41%, and K*N^beta extrapolates the token budget needed to reach a
    target vocab.  Complements ``vocab_stats`` (the endpoint) with the
    whole growth curve's exponent.

    Semantics: for every document d (ascending doc_id), N_d = tokens
    read so far, V_d = distinct terms seen so far (a term is "new" at
    the min doc_id containing it — one aggregate, no rescan per doc);
    least-squares fit of ln V on ln N over all docs with N_d, V_d > 0.

    Pinned cross-engine determinism: x = ROUND(ln(N_d)*1e6), y =
    ROUND(ln(V_d)*1e6) are exact BIGINT micro-nats; the five
    regression sums (n, Sx, Sy, Sxy, Sx2) accumulate exact integers
    (Spark sums in decimal(38,0); DuckDB sums BIGINT into HUGEINT) so
    partition order cannot change a digit; beta and ln_k each spend a
    fixed pinned sequence of IEEE double ops on the exact sums (and
    ln_k reuses the ROUNDED beta), so both engines round identically.
    A degenerate fit (fewer than 2 distinct x values) reports NULL
    beta/ln_k in both engines.

    Shape (design-for-100x): the per-doc table is (doc_id, nt, nv) —
    three longs; the running totals use the pack_concat two-phase
    distributed prefix sum (range-partition by doc_id, per-partition
    window, tiny per-partition offset table broadcast back) so no
    single task ever sorts the whole corpus; the regression is one
    hash aggregate over the points.  The slim table is checkpointed
    once to pin the sampled range boundaries (recomputation would
    re-sample them).  Returns one row
    (n_points, total_tokens, vocab_size, beta, ln_k).
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = tokens_col(F.col("text"))
    nt = F.size(F.filter(toks, lambda t: t != "")).cast("long")
    per_doc = docs.select("doc_id", nt.alias("nt"))
    firsts = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.min("doc_id").alias("fd"))
        .groupBy(F.col("fd").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    slim = (
        per_doc.join(firsts, "doc_id", "left_outer")
        .select(
            "doc_id", "nt", F.coalesce("nv", F.lit(0)).cast("long").alias("nv")
        )
        .repartitionByRange(partitions, "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = slim.select(
        "doc_id", "pid",
        F.sum("nt").over(w_in).alias("cum_nt"),
        F.sum("nv").over(w_in).alias("cum_nv"),
    )
    totals = slim.groupBy("pid").agg(
        F.sum("nt").cast("long").alias("pt"),
        F.sum("nv").cast("long").alias("pv"),
    )
    w_pid = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # ordered scan over <= `partitions` rows only — never document rows
    offsets = totals.select(
        "pid",
        (F.sum("pt").over(w_pid) - F.col("pt")).alias("off_nt"),
        (F.sum("pv").over(w_pid) - F.col("pv")).alias("off_nv"),
    )
    pts = (
        local.join(F.broadcast(offsets), "pid")
        .select(
            (F.col("off_nt") + F.col("cum_nt")).alias("N"),
            (F.col("off_nv") + F.col("cum_nv")).alias("V"),
        )
        .where((F.col("N") > 0) & (F.col("V") > 0))
        .select(
            F.round(F.log(F.col("N").cast("double")) * 1e6)
            .cast("long").alias("x"),
            F.round(F.log(F.col("V").cast("double")) * 1e6)
            .cast("long").alias("y"),
        )
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sx2"),
    )
    grand = slim.agg(
        F.sum("nt").cast("long").alias("total_tokens"),
        F.sum("nv").cast("long").alias("vocab_size"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sx2_d = F.col("sx2").cast("double")
    den = n_d * sx2_d - sx_d * sx_d
    beta = F.round((n_d * sxy_d - sx_d * sy_d) / den, 9)
    scored = sums.select(
        F.col("n").alias("n_points"),
        F.when(den != 0, beta).alias("beta"),
        F.when(
            den != 0,
            F.round((sy_d - beta * sx_d) / (n_d * 1e6), 9),
        ).alias("ln_k"),
    )
    return scored.crossJoin(F.broadcast(grand)).select(
        "n_points", "total_tokens", "vocab_size", "beta", "ln_k"
    )


def textrank(
    docs: DataFrame,
    max_supersteps: int = 4,
    min_len: int = 3,
    edge_partitions: int | None = 8,
) -> DataFrame:
    """TextRank keyword scores (Mihalcea-Tarau 2004): build the word
    co-occurrence graph of the corpus and rank every word with the
    engine's OWN weighted-PageRank kernel — the text-to-graph
    synthesis this engine exists for (edge_extract lifts transcripts
    into an actor graph; this lifts the token stream into a word
    graph and reuses the identical superstep machinery).

    Pinned semantics (mirrored by queries_text.SQL_TEXTRANK):
    - pinned tokenization; co-occurrence = consecutive token pairs
      within a document (window 2, the paper's default);
    - pairs kept when BOTH tokens have length >= min_len and differ
      (the paper's syntactic filter, re-expressed as a deterministic
      length gate — no POS tagger in either engine);
    - UNDIRECTED graph, canonicalized (least, greatest), edge weight
      = raw co-occurrence count, symmetrized into two directed rows
      for the kernel;
    - weighted PageRank, d = 0.85, x_0 = 1/N, a FIXED superstep
      budget (bounded-iteration semantics like katz/eigenvector);
      scores round to 9 dp.  Scores are returned for the WHOLE
      vocabulary — top-k selection is the caller's one ORDER BY, so
      no float-boundary LIMIT enters the cross-engine contract.

    Shape (design-for-100x): one corpus scan -> one (a, b) hash
    aggregate builds the graph (map-side combinable); the rank loop is
    the engine's scatter/combine superstep — one shuffle per step over
    src-partitioned persisted edges.  Vocabulary-scale vertices (~1e8
    at 100 TB with garbage types) are far below the kernel's tested
    edge cardinality; hub words (stopword survivors) are exactly the
    skew the combiner's map-side partials absorb.
    Returns (token, textrank).
    """
    nt = F.size(F.col("toks"))
    pairs = F.when(
        nt >= 2,
        F.transform(
            F.sequence(F.lit(1), nt - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    und = (
        docs.select(tokens_col(F.col("text")).alias("toks"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .filter(
            (F.length("w1") >= min_len)
            & (F.length("w2") >= min_len)
            & (F.col("w1") != F.col("w2"))
        )
        .select(
            F.least("w1", "w2").alias("a"),
            F.greatest("w1", "w2").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    # the symmetrizing union references `und` twice — checkpoint so the
    # corpus tokenize/explode/aggregate scan runs once, not twice
    from mesos_pregel_spark.plans.truncate import release_plan, truncate_plan

    und = truncate_plan(und)
    edges = und.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "weight"
    ).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "weight")
    )
    from mesos_pregel_spark.algos.pagerank import pagerank

    try:
        ranks, _run = pagerank(
            docs.sparkSession, edges, tol=0.0,
            max_supersteps=max_supersteps, edge_partitions=edge_partitions,
            weighted=True,
        )
    finally:
        # the rank loop persisted its own prepped edge table and its
        # returned state is checkpoint-truncated, so nothing references
        # the co-occurrence checkpoint after the run (success or raise)
        release_plan(und)
    return ranks.select(
        F.col("id").alias("token"), F.round("pagerank", 9).alias("textrank")
    )


DOC_KL_TOP_K = 50


def doc_kl_outliers(docs: DataFrame, top_k: int = DOC_KL_TOP_K) -> DataFrame:
    """Per-DOCUMENT unigram KL divergence from the corpus blend — the
    document-granular cousin of ``source_kl``: a doc whose unigram
    distribution sits far from the corpus is boilerplate, a language
    the blend doesn't speak, or machine noise; top-k by KL is the
    triage list a cleaning pass reads next to quality_score (which
    scores FORM; this scores lexical TYPICALITY).

    Same pinned arithmetic as source_kl (micro-nat snap per
    (doc, term) BEFORE summation), so the per-doc sums are exact
    integers under any partitioning.  The top-k ordering is
    (sum_micro/n_d as ONE double division of exact integers) DESC
    then doc_id ASC — duplicate documents tie exactly and break
    deterministically.  The REPORTED value is ``kl_micro`` =
    GREATEST(sum_micro,0) div n_d, an exact BIGINT floor division in
    micro-nats: a 9dp double round here landed EXACTLY on a decimal
    .5 boundary at sf0.01 (1.0092864375) where Spark's BigDecimal
    half-up and DuckDB's multiply-round disagree — measured, so the
    contract stays all-integer (the reply_latency lesson; the clamp
    pins the sub-micro-nat negative snap noise a distribution equal
    to the corpus can produce).

    Shape (design-for-100x): the (doc, term) aggregate is token-
    stream-scale but one hash aggregate; the vocab table joins back by
    term (AQE broadcasts when small, splits zipf skew otherwise);
    top-k is a TakeOrdered, never a global sort.
    Returns (doc_id, n_tokens, n_terms, kl).
    """
    dt = (
        docs.select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c_dt"))
        .localCheckpoint(eager=True)
    )
    per_doc = dt.groupBy("doc_id").agg(
        F.sum("c_dt").cast("long").alias("n_d"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    per_term = dt.groupBy("term").agg(
        F.sum("c_dt").cast("long").alias("c_t")
    )
    total = per_doc.agg(F.sum("n_d").cast("long").alias("n_total"))
    lr_micro = F.round(
        F.log(
            (F.col("c_dt").cast("double") * F.col("n_total").cast("double"))
            / (F.col("c_t").cast("double") * F.col("n_d").cast("double"))
        ) * 1e6
    ).cast("long")
    return (
        dt.join(per_term, "term")
        .join(per_doc, "doc_id")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id", "n_d", "n_terms",
            (F.col("c_dt") * lr_micro).alias("contrib"),
        )
        .groupBy("doc_id", "n_d", "n_terms")
        .agg(F.sum("contrib").alias("sum_micro"))
        .orderBy(
            F.desc(
                F.col("sum_micro").cast("double") / F.col("n_d").cast("double")
            ),
            F.asc("doc_id"),
        )
        .limit(top_k)
        .select(
            "doc_id",
            F.col("n_d").alias("n_tokens"),
            "n_terms",
            F.expr("greatest(sum_micro, 0L) div n_d").alias("kl_micro"),
        )
    )
