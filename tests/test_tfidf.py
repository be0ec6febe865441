"""TF-IDF operator tests vs a pure-Python oracle (reference formulas,
src/boWords.c:552-619)."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pytest

from bigdataentityresolution_spark.operators import tfidf as TI

DOCS = [
    (0, "spark shuffle join join filter"),
    (1, "spark scan filter filter filter"),
    (2, "join merge sort sort"),
    (3, "unique singleton words appear once"),
]


def py_tfidf(docs):
    n_docs = len(docs)
    postings = {}
    lengths = Counter()
    dfc = Counter()
    for did, text in docs:
        toks = [t for t in text.lower().split() if t]
        lengths[did] = len(toks)
        for term, tf in Counter(toks).items():
            postings[(did, term)] = tf
            dfc[term] += 1
    out = {}
    for (did, term), tf in postings.items():
        idf = math.log(n_docs / dfc[term])
        out[(did, term)] = (tf, lengths[did], dfc[term], idf, tf / lengths[did] * idf)
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_postings_and_lengths(spark, docs_df):
    p = TI.postings(docs_df).collect()
    oracle = py_tfidf(DOCS)
    assert {(r["doc_id"], r["term"]): r["tf"] for r in p} == {
        k: v[0] for k, v in oracle.items()
    }
    lengths = {r["doc_id"]: r["n_tokens"] for r in TI.doc_lengths(TI.postings(docs_df)).collect()}
    assert lengths == {0: 5, 1: 5, 2: 4, 3: 5}


def test_tfidf_table_matches_oracle(spark, docs_df):
    rows = TI.tfidf_table(docs_df).collect()
    oracle = py_tfidf(DOCS)
    assert len(rows) == len(oracle)
    for r in rows:
        tf, n_tokens, df, idf, tfidf = oracle[(r["doc_id"], r["term"])]
        assert r["tf"] == tf
        assert r["n_tokens"] == n_tokens
        assert r["df"] == df
        assert abs(r["idf"] - idf) < 1e-12
        assert abs(r["tfidf"] - tfidf) < 1e-12


def test_top_k_vocab_deterministic_ties(spark, docs_df):
    p = TI.postings(docs_df)
    v = TI.vocab(p, n_docs=len(DOCS))
    top2 = [r["term"] for r in TI.top_k_vocab(v, 2).collect()]
    # oracle: rank by tfidf_sum_mean desc, term asc
    oracle = py_tfidf(DOCS)
    sums = defaultdict(float)
    for (did, term), (tf, n, df, idf, w) in oracle.items():
        sums[term] += w / len(DOCS)
    expect = [t for t, _ in sorted(sums.items(), key=lambda kv: (-kv[1], kv[0]))[:2]]
    assert top2 == expect


def test_doc_vectors_pruned_to_vocab(spark, docs_df):
    p = TI.postings(docs_df)
    v = TI.vocab(p, n_docs=len(DOCS))
    top = TI.top_k_vocab(v, 3)
    vecs = TI.doc_vectors(p, top, n_docs=len(DOCS)).collect()
    kept_terms = {r["term"] for r in top.collect()}
    for r in vecs:
        assert set(r["features"]).issubset(kept_terms)
        for t, w in r["features"].items():
            assert w > 0


def _er_vocab_driver_rule(vocab_df, n_docs, k, max_df_ratio, min_vocab_after_prune):
    """er_vocab's fallback guard as a driver-side barrier: prune only when
    at least ``min_vocab_after_prune`` terms survive the max-df filter."""
    from pyspark.sql import functions as F

    pruned = vocab_df.filter(F.col("df") <= F.lit(float(max_df_ratio) * float(n_docs)))
    if pruned.limit(min_vocab_after_prune).count() >= min_vocab_after_prune:
        vocab_df = pruned
    return TI.top_k_vocab(vocab_df, k)


def test_er_vocab_prune_guard_both_branches(spark, docs_df):
    """At max_df_ratio 0.3 of 4 docs, the 9 single-doc terms survive the
    prune and 'spark', 'join', 'filter' (2 docs each) do not. With
    min_vocab_after_prune 9 the pruned ranking is kept; with 10 the
    guard falls back to the unpruned one."""
    n = len(DOCS)
    v = TI.vocab(TI.postings(docs_df), n)
    common = {"spark", "join", "filter"}
    for min_keep, expect_pruned in ((9, True), (10, False)):
        got = [r["term"] for r in TI.er_vocab(v, n, 100, 0.3, min_keep).collect()]
        assert (not common & set(got)) == expect_pruned, (min_keep, got)
        assert len(got) == (9 if expect_pruned else 12)
        ref = _er_vocab_driver_rule(v, n, 100, 0.3, min_keep)
        assert got == [r["term"] for r in ref.collect()]


def test_er_vocab_matches_driver_rule_on_tiny_corpus(spark, tiny_tables):
    """The in-plan guard ranks the same terms in the same order as the
    driver-side rule, on the pipeline's default prune (taken) and with
    an unreachable survivor minimum (fallback)."""
    from bigdataentityresolution_spark.functions.text import tokenize

    files_df, _, _ = tiny_tables
    n = files_df.count()
    p = TI.postings(
        files_df, id_col="spec_id", text_col="content", tokenizer=tokenize("content")
    ).cache()
    v = TI.vocab(p, n)
    ranked = {}
    for min_keep in (200, 10**9):
        got = [(r["term"], r["df"]) for r in TI.er_vocab(v, n, 1000, 0.35, min_keep).collect()]
        ref = [
            (r["term"], r["df"])
            for r in _er_vocab_driver_rule(v, n, 1000, 0.35, min_keep).collect()
        ]
        assert got == ref
        ranked[min_keep] = got
    p.unpersist()
    # the two branches really differ here: the default prune is taken
    assert max(df for _, df in ranked[200]) <= 0.35 * n
    assert max(df for _, df in ranked[10**9]) > 0.35 * n
