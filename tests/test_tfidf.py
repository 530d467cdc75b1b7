"""tf-idf top-k (functions/text.py::tfidf_topk): hand-checked scores
and a python replication of the pinned formula."""

import math

from mesos_pregel_spark.functions.text import tfidf_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _py_tfidf(rows, k):
    import re
    toks = {
        d: [t for t in re.sub(r"\s+", " ", txt.lower()).strip().split(" ")
            if t != ""]
        for d, txt in rows
    }
    n = len(rows)
    df = {}
    for d, ts in toks.items():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out = {}
    for d, ts in toks.items():
        tf = {}
        for t in ts:
            tf[t] = tf.get(t, 0) + 1
        scored = sorted(
            (
                (-round(c * round(math.log((n + 1) / (df[t] + 1)) + 1.0, 6),
                        6), t)
                for t, c in tf.items()
            )
        )[:k]
        out[d] = [(r + 1, t, -s) for r, (s, t) in enumerate(scored)]
    return out


def test_matches_python_replication(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog ate the cat food"),
        (3, "quantum flux capacitors hum the song"),
        (4, "cat cat cat dog"),
        (5, ""),
    ]
    got = {}
    for r in tfidf_topk(_docs(spark, rows), k=3).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["rank"], r["term"], r["score"])
        )
    for d in got:
        got[d].sort()
    exp = _py_tfidf(rows, k=3)
    exp = {d: v for d, v in exp.items() if v}  # empty doc emits no rows
    assert got == exp


def test_rare_term_outranks_common(spark):
    rows = [
        (1, "alpha beta"),
        (2, "alpha gamma"),
        (3, "alpha delta"),
    ]
    got = {
        (r["doc_id"], r["rank"]): r["term"]
        for r in tfidf_topk(_docs(spark, rows), k=2).collect()
    }
    # 'alpha' is in every doc (df=3, idf=1+ln(4/4)=1); each rare term
    # has idf 1+ln(2) > 1, so it ranks first in its doc.
    assert got[(1, 1)] == "beta" and got[(1, 2)] == "alpha"
    assert got[(2, 1)] == "gamma"
    assert got[(3, 1)] == "delta"


def test_lexical_pairs_exact_integer_scores():
    """Sparse all-pairs twin on a hand corpus: two template-sharing
    docs dominate, scores are exact integer micro-products replicated
    by a python implementation of the same pinned recipe, and a
    df>cap stopword contributes nothing."""
    import math

    import duckdb

    from mesos_pregel_spark.queries_text import (
        _LEXPAIR_DF_CAP,
        SQL_LEXICAL_PAIRS,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text TEXT, lang TEXT, "
        "source TEXT, n_chars BIGINT)"
    )
    # 60 docs all containing 'common' (df 60 > 50 cap -> excluded);
    # docs 1 and 2 share 'template alpha beta'; doc 3 shares 'alpha'
    texts = {1: "common template alpha beta x1",
             2: "common template alpha beta x2",
             3: "common alpha x3"}
    for i in range(4, 61):
        texts[i] = f"common filler{i}"
    for did, t in texts.items():
        con.execute("INSERT INTO documents VALUES (?, ?, 'en', 's', ?)",
                    [did, t, len(t)])
    rows = con.execute(SQL_LEXICAL_PAIRS).fetchall()

    n_docs = len(texts)

    def w_micro(tf, df):
        idf = round(math.log((n_docs + 1) / (df + 1)) + 1.0, 6)
        return round(round(tf * idf, 6) * 1e6)

    # expected top pair: (1,2) sharing template/alpha/beta (df 2,3,2)
    exp_12 = (w_micro(1, 2) ** 2) * 2 + w_micro(1, 3) ** 2
    got = {(r[0], r[1]): (r[2], r[3]) for r in rows}
    assert got[(1, 2)] == (3, exp_12)
    assert got[(1, 3)] == (1, w_micro(1, 3) ** 2)
    assert rows[0][:2] == (1, 2)  # dominant pair ranks first
    # the df-61 stopword never forms a pair on its own
    assert all(n <= 3 for (_a, _b), (n, _s) in got.items())


def test_lexical_pairs_overflow_raises_in_both_engines(spark):
    """Two docs repeating one term: at 3,000 repeats the pair score
    (3e9 micro-units squared = 9e18) still fits a BIGINT and both
    engines agree; at 3,100 the product passes 2^63 and both raise
    (Spark under its default ANSI mode, DuckDB always) instead of
    wrapping."""
    import duckdb
    import pytest
    from pyspark.errors import ArithmeticException

    from mesos_pregel_spark.functions.text import lexical_pairs
    from mesos_pregel_spark.queries_text import SQL_LEXICAL_PAIRS

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text TEXT, lang TEXT, "
        "source TEXT, n_chars BIGINT)"
    )

    def corpus(reps):
        text = " ".join(["w"] * reps)
        con.execute("DELETE FROM documents")
        con.execute("INSERT INTO documents VALUES (1, ?, 'en', 's', 1), "
                    "(2, ?, 'en', 's', 1)", [text, text])
        return spark.createDataFrame(
            [(1, text, "en", "s", 1), (2, text, "en", "s", 1)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )

    docs = corpus(3_000)
    got = [tuple(r) for r in lexical_pairs(docs).collect()]
    assert got == con.execute(SQL_LEXICAL_PAIRS).fetchall()
    assert got == [(1, 2, 1, 9 * 10**18)]

    docs = corpus(3_100)
    with pytest.raises(ArithmeticException, match="ARITHMETIC_OVERFLOW"):
        lexical_pairs(docs).collect()
    with pytest.raises(duckdb.OutOfRangeException, match="Overflow"):
        con.execute(SQL_LEXICAL_PAIRS).fetchall()
