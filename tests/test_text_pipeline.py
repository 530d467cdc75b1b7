"""Unit tests for the training-data-pipeline operators (text analysis,
dedup, similarity, multimodal) on planted fixtures — the driver-oracle
comparison in test_driver_contract.py covers engine-vs-DuckDB parity;
these pin the *semantics* on hand-checkable inputs."""

import math

import pytest
from pyspark.sql import types as T

from mesos_pregel_spark.functions.dedup import (
    exact_duplicates,
    lsh_candidates,
    near_duplicates,
    simhash,
)
from mesos_pregel_spark.functions.similarity import (
    ann_lsh_topk,
    cosine_scores,
    cosine_topk,
)
from mesos_pregel_spark.functions.text import (
    fingerprint,
    language_id,
    token_stats,
)
from mesos_pregel_spark.sources.multimodal import (
    decode_features,
    synthesize_media,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

LONG_A = "the quick brown fox jumps over the lazy dog and runs far away"
LONG_B = "the quick brown fox jumps over the lazy cat and runs far away"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The  Quick Brown\nFox", "en", "s1", 20),   # dup of 2 modulo ws/case
        (2, "the quick brown fox", "en", "s1", 19),
        (3, LONG_A, "en", "s2", len(LONG_A)),
        (4, LONG_B, "en", "s2", len(LONG_B)),            # near-dup of 3
        (5, "der hund ist das tier und die katze", "de", "s3", 36),
        (6, "zzz qqq xxx", None, "s4", 11),
    ]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_token_stats_hand_checked(spark, docs):
    got = {r["doc_id"]: r for r in token_stats(docs).collect()}
    r = got[2]  # "the quick brown fox"
    assert r["n_chars"] == 19
    assert r["n_tokens"] == 4
    assert math.isclose(r["avg_token_len"], 19 / 4, abs_tol=1e-9)
    assert r["punct_ratio"] == 0.0
    assert math.isclose(r["stopword_ratio"], 1 / 4, abs_tol=1e-9)


def test_language_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert got[3] == "en"
    assert got[5] == "de"
    assert got[6] == "und"


def test_fingerprint_normalization(spark, docs):
    got = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert got[1] == got[2]  # whitespace/case-insensitive identity
    assert got[3] != got[4]


def test_exact_duplicates(spark, docs):
    got = {r["doc_id"]: r for r in exact_duplicates(docs).collect()}
    assert got[1]["canonical_id"] == 1 and not got[1]["is_duplicate"]
    assert got[2]["canonical_id"] == 1 and got[2]["is_duplicate"]
    assert got[2]["group_size"] == 2
    assert not got[3]["is_duplicate"]


def test_lsh_finds_near_duplicates(spark, docs):
    cand = {(r["doc_a"], r["doc_b"]) for r in lsh_candidates(docs).collect()}
    assert (1, 2) in cand  # exact dups always collide on every band
    nd = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in near_duplicates(docs).collect()
    }
    assert nd[(1, 2)] == 1.0
    if (3, 4) in nd:  # 1-word edit: high jaccard when LSH catches it
        assert nd[(3, 4)] > 0.7


def test_simhash_properties(spark, docs):
    got = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert got[1] == got[2]  # identical normalized text -> same simhash
    # near-dups differ in few bits
    ham = bin(got[3] ^ got[4]).count("1")
    assert ham <= 6
    assert all(0 <= v < 2 ** 16 for v in got.values())


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0], 0),   # identical to 0
        (2, [0.0, 1.0, 0.0], 1),   # orthogonal to 0
        (3, [1.0, 1.0, 0.0], 1),   # 45 degrees
        (4, [-1.0, 0.0, 0.0], 2),  # opposite
    ]
    return spark.createDataFrame(rows, EMB_SCHEMA)


def test_cosine_hand_checked(spark, emb):
    got = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in cosine_scores(spark, emb, n_queries=1).collect()
    }
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == 0.0
    assert math.isclose(got[(0, 3)], round(1 / math.sqrt(2), 6), abs_tol=1e-9)
    assert got[(0, 4)] == -1.0


def test_cosine_topk_deterministic_order(spark, emb):
    rows = cosine_topk(spark, emb, n_queries=1, k=3).collect()
    ranked = [(r["rank"], r["vec_id"], r["cosine"]) for r in sorted(
        rows, key=lambda r: r["rank"])]
    assert ranked[0] == (1, 1, 1.0)        # best match, tie-break by vec_id
    assert ranked[1][1] == 3               # then 45-degree vector
    assert ranked[2][1] == 2


def test_ann_lsh_subset_of_exact_scores(spark, emb):
    """ANN results carry the same cosine values as the exact scorer and
    identical vectors always share a bucket."""
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in cosine_scores(spark, emb, n_queries=1).collect()
    }
    ann = ann_lsh_topk(spark, emb, n_queries=1, k=5).collect()
    assert len(ann) >= 1
    for r in ann:
        assert exact[(r["query_id"], r["vec_id"])] == r["cosine"]
    assert any(r["vec_id"] == 1 for r in ann)  # identical vector found


def test_multimodal_feature_plumbing(spark, docs):
    media = synthesize_media(docs)
    assert media.schema["payload"].dataType == T.BinaryType()
    feats = decode_features(media, partitions=4)
    rows = feats.collect()
    assert len(rows) == docs.count()
    r = {x["media_id"]: x for x in rows}[1]
    assert len(r["feat"]) == 8
    assert r["n_bytes"] == 32  # two md5 digests = 32 bytes
    assert r["kind"] in ("image", "audio", "video")
    # deterministic across runs
    rows2 = decode_features(media, partitions=2).collect()
    a = sorted([(x["media_id"], x["mean"], x["std"]) for x in rows])
    b = sorted([(x["media_id"], x["mean"], x["std"]) for x in rows2])
    assert a == b


def test_minhash_xxhash64_variant_finds_planted_dups(spark):
    """The scale-variant minhash (native 64-bit xxhash64 instead of md5
    hex strings) preserves the dedup contract: identical docs have
    identical signatures (always candidates) and planted near-dups
    verify at the same exact Jaccard as the md5 parity variant."""
    from mesos_pregel_spark.functions.dedup import near_duplicates

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (0, base), (1, base),                 # exact dup pair
        (2, base[:-20] + "and naps afterwards"),  # near dup
        (3, "completely different content about spark and pregel " * 4),
    ]
    # r = k/bands = 2: the planted pair's jaccard is 0.694, so
    # P(candidate) = 1-(1-j^2)^8 = 0.995 — the test pins the planted
    # recall, not the banding-probability tradeoff (r=8 is the bench's
    # scale setting and would legitimately skip a 0.69-jaccard pair).
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for hash_fn in ("md5", "xxhash64"):
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
               for r in near_duplicates(
                   docs, k=16, bands=8, threshold=0.5, hash_fn=hash_fn
               ).collect()}
        assert got[(0, 1)] == 1.0, hash_fn
        assert (0, 2) in got and got[(0, 2)] > 0.5, hash_fn
        assert all(3 not in pair for pair in got), hash_fn
    # exact Jaccard values are hash-family-independent (verification is
    # exact) — both variants must agree wherever both report a pair
    md5_pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in near_duplicates(docs, k=16, bands=8,
                                          threshold=0.5).collect()}
    xx_pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in near_duplicates(docs, k=16, bands=8, threshold=0.5,
                                         hash_fn="xxhash64").collect()}
    for pair in md5_pairs.keys() & xx_pairs.keys():
        assert md5_pairs[pair] == xx_pairs[pair]


def test_embedding_near_dups_planted(spark):
    """Default (self-contained LSH-bucket) blocking: identical vectors
    always share a bucket, so exact dups have recall 1.0 regardless of
    any external grouping column."""
    from mesos_pregel_spark.functions.similarity import embedding_near_dups

    # NB: base vector chosen OFF every ±1-hyperplane boundary (min
    # |±1·1 ±1·2 ±1·3.5| = 0.5), so a 0.01 perturbation cannot flip a
    # sign bit — near dups that straddle a plane are legitimately
    # missed by LSH blocking (recall < 1 is the documented trade).
    rows = [
        (0, [1.0, 2.0, 3.5], 0),
        (1, [1.0, 2.0, 3.5], 0),      # exact dup of 0
        (2, [1.0, 2.0, 3.51], 0),     # near dup of 0
        (3, [3.0, -1.0, 0.5], 0),     # unrelated
        (4, [1.0, 2.0, 3.5], 1),      # dup values, different label
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in embedding_near_dups(spark, emb, threshold=0.99).collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got and got[(0, 2)] > 0.999
    assert (1, 2) in got
    assert got[(0, 4)] == 1.0          # content-based blocking finds it
    assert (0, 3) not in got           # below threshold


def test_embedding_near_dups_external_block_col(spark):
    """block_col substitutes an externally supplied partitioner (IVF
    cell / cluster id) for the LSH bucket — pairs across blocks are
    never compared."""
    from mesos_pregel_spark.functions.similarity import embedding_near_dups

    rows = [
        (0, [1.0, 2.0, 3.0], 0),
        (1, [1.0, 2.0, 3.0], 0),
        (4, [1.0, 2.0, 3.0], 1),      # dup values but different label: blocked
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in embedding_near_dups(
               spark, emb, threshold=0.99, block_col="label").collect()}
    assert got == {(0, 1): 1.0}


# ---------------------------------------------------------------------------
# PII redaction + repetition (round 4)
# ---------------------------------------------------------------------------


def test_pii_redact_counts_and_text(spark):
    from mesos_pregel_spark.functions.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.com and c.d+x@e-f.org, call 555-1234, ip 10.0.0.1"),
            (2, "no pii here at all"),
            (3, "phone 123-4567 twice 999-0000; 1.2.3.4 and 255.255.255.0"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert (got[1]["emails"], got[1]["phones"], got[1]["ipv4s"]) == (2, 1, 1)
    assert got[1]["redacted"] == (
        "mail <EMAIL> and <EMAIL>, call <PHONE>, ip <IP>"
    )
    assert (got[2]["emails"], got[2]["phones"], got[2]["ipv4s"]) == (0, 0, 0)
    assert got[2]["redacted"] == "no pii here at all"
    assert (got[3]["phones"], got[3]["ipv4s"]) == (2, 2)
    assert got[4]["redacted"] == ""


def test_pii_redact_sequential_schedule(spark):
    """Emails are scrubbed BEFORE the phone pass: a phone-shaped span
    inside an email local part is consumed by the email replacement and
    must not be double-counted as a phone.  A dotted-quad email DOMAIN
    is not an email by the pattern (letters-only TLD) and falls through
    to the ipv4 pass."""
    from mesos_pregel_spark.functions.text import pii_redact

    docs = spark.createDataFrame(
        [(1, "a555-1234@x.com rest"), (2, "x@1.2.3.4 rest")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_redact(docs).collect()}
    assert got[1]["emails"] == 1 and got[1]["phones"] == 0
    assert got[1]["redacted"] == "<EMAIL> rest"
    assert got[2]["emails"] == 0 and got[2]["ipv4s"] == 1
    assert got[2]["redacted"] == "x@<IP> rest"


def test_repetition_stats(spark):
    from mesos_pregel_spark.functions.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),      # bigrams: ab ba ab ba -> 4 total, 2 distinct
            (2, "x y z"),           # 2 distinct of 2
            (3, "solo"),            # < 2 tokens
            (4, "  Spaced   OUT  spaced out "),  # normalization applies
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert (got[1]["n_bigrams"], got[1]["distinct_bigrams"]) == (4, 2)
    assert got[1]["repetition"] == 0.5
    assert got[2]["repetition"] == 0.0
    assert (got[3]["n_bigrams"], got[3]["repetition"]) == (0, 0.0)
    # "spaced out spaced out" -> bigrams: "spaced out","out spaced",
    # "spaced out" -> 3 total, 2 distinct
    assert (got[4]["n_bigrams"], got[4]["distinct_bigrams"]) == (3, 2)


def test_langid_confusion_rows_sum_to_one(spark):
    """Confusion rows per true language partition that language's
    docs: shares sum to 1, counts sum to the true-language totals,
    and a planted all-English corpus lands on the diagonal."""
    from mesos_pregel_spark.queries_text import _langid_confusion

    out = _langid_confusion(spark, "/root/testdata/sf0.001").collect()
    by_true = {}
    for r in out:
        by_true.setdefault(r["true_lang"], []).append(r)
    for rows in by_true.values():
        assert abs(sum(r["row_share"] for r in rows) - 1.0) < 1e-6

    from mesos_pregel_spark.functions.text import language_id

    docs = spark.createDataFrame(
        [(1, "the cat and the dog is here", "en", "s", 1),
         (2, "der hund und die katze ist das", "de", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pred = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert pred == {1: "en", 2: "de"}


def test_fertility_closed_forms(spark):
    """Subword fertility on hand texts: 'abc def' is 2 words / 2
    subwords (fertility 1.0); 'ab1cd, x9!' fragments into alpha/digit/
    punct runs — exact counts pinned against a python re replication."""
    import re

    from mesos_pregel_spark.functions.text import SUBWORD_RE, fertility_stats

    rows = [
        (1, "abc def", "en", "s1"),
        (2, "ab1cd, x9!", "en", "s1"),
        (3, "  Mixed   CASE  text ", "xx", "s2"),
    ]
    docs = spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {(r["source"], r["lang"]): r
           for r in fertility_stats(docs).collect()}

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    def expect(texts):
        nw = sum(len(norm(t).split(" ")) for t in texts)
        ns = sum(len(re.findall(SUBWORD_RE, norm(t))) for t in texts)
        nc = sum(len(norm(t)) for t in texts)
        return nw, ns, nc

    nw, ns, nc = expect(["abc def", "ab1cd, x9!"])
    r = got[("s1", "en")]
    assert (r["n_docs"], r["n_words"], r["n_subwords"], r["n_chars"]) \
        == (2, nw, ns, nc)
    # 'ab1cd, x9!' -> ab|1|cd|,|x|9|! = 7 subwords; 'abc def' -> 2
    assert ns == 9
    r2 = got[("s2", "xx")]
    assert (r2["n_words"], r2["n_subwords"]) == (3, 3)
    assert r2["fertility"] == 1.0



def test_fertility_non_bmp_subwords_match_the_oracle(spark):
    """Non-BMP characters (an emoji, a supplementary CJK ideograph)
    count as ONE subword each in Spark, as in the DuckDB oracle: Java's
    regex character classes match code points, not UTF-16 units."""
    import duckdb

    from mesos_pregel_spark.functions.text import fertility_stats
    from mesos_pregel_spark.queries_text import SQL_FERTILITY

    text = "ab \U0001F600 c\U00020000d"
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = [tuple(r) for r in fertility_stats(docs).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text TEXT, lang TEXT, "
        "source TEXT, n_chars BIGINT)"
    )
    con.execute("INSERT INTO documents VALUES (1, ?, 'en', 's', ?)",
                [text, len(text)])
    assert got == con.execute(SQL_FERTILITY).fetchall()
    # ab | 😀 | c | 𠀀 | d
    assert got[0][4] == 5

def test_vocab_coverage_monotone_and_exact():
    """Coverage ladder on the twin: hand corpus where the top-10 rung
    is computable by hand; rungs are monotone and k=1000 covers all."""
    import duckdb

    from mesos_pregel_spark.queries_text import SQL_VOCAB_COVERAGE

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text TEXT, lang TEXT, "
        "source TEXT, n_chars BIGINT)"
    )
    # 'a' x10, 'b' x5, then c..z one each (24 singletons): N = 39
    words = ["a"] * 10 + ["b"] * 5 + [chr(c) for c in range(99, 123)]
    text = " ".join(words)
    con.execute("INSERT INTO documents VALUES (1, ?, 'en', 's', ?)",
                [text, len(text)])
    rows = {r[0]: r[1:] for r in con.execute(SQL_VOCAB_COVERAGE).fetchall()}
    total = len(words)
    # top-10 by (cnt DESC, token ASC): a(10), b(5), then 8 singletons
    assert rows[10] == (10 + 5 + 8, total, round((10 + 5 + 8) / total, 9))
    assert rows[100] == (total, total, 1.0)
    assert rows[1000] == (total, total, 1.0)
    assert rows[10][0] <= rows[100][0] <= rows[1000][0]
