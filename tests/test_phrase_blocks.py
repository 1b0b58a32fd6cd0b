"""Block-path positional phrase queries (query.phrase_topk_blocks).

The reference stores positions in every index posting
(/root/reference/src/cis5550/jobs/Indexer.java:252-283) but its rankers
never exploit them. phrase_topk_blocks makes phrases first-class on the
COMPRESSED block index; these gates pin (a) bit-identity — docs, match
stats, float64 scores — against the DataFrame twin phrase_topk_df over
the uncompressed token stream, (b) positional semantics incl. repeated
phrase terms and 3-term chains, (c) phrase normalization rules.
"""

from __future__ import annotations

import pytest

from search_engine_spark import constants as C
from search_engine_spark import query as Q
from search_engine_spark.index import (
    build_block_index,
    corpus_stats,
    doc_postings,
    doc_stats,
    term_stats,
)
from search_engine_spark.query import (
    normalize_phrase,
    phrase_topk_blocks,
    phrase_topk_df,
)
from search_engine_spark.tokenize import tokenize

DOCS = [
    (1, "alpha beta gamma alpha beta"),  # "alpha beta" ×2 (pos 1, 4)
    (2, "beta alpha beta gamma"),  # "alpha beta" ×1 (pos 2), "beta gamma" ×1
    (3, "alpha gamma beta"),  # no adjacency for "alpha beta"
    (4, "alpha beta beta beta"),  # "alpha beta beta" ×1, "beta beta" ×2
    (5, "delta delta delta"),  # repeated-term phrase "delta delta" ×2
    (6, "alpha"),
    (7, "gamma beta alpha gamma beta alpha gamma"),  # "gamma beta" ×2
]


@pytest.fixture(scope="module")
def built(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, content string")
    toks = tokenize(docs).cache()
    postings = doc_postings(toks)
    dstats = doc_stats(toks)
    tstats = term_stats(postings)
    N, avgdl = corpus_stats(dstats)
    blocks = build_block_index(postings, dstats, avgdl).cache()
    blocks.count()
    return toks, postings, dstats, tstats, N, avgdl, blocks


PHRASES = [
    ["alpha", "beta"],
    ["beta", "gamma"],
    ["alpha", "beta", "beta"],  # 3-term chain with a repeat
    ["delta", "delta"],  # repeated-term phrase
    ["gamma", "beta"],
    ["alpha", "zzzmissing"],  # absent term → empty
]


@pytest.mark.parametrize("terms", PHRASES, ids=["-".join(p) for p in PHRASES])
def test_block_phrase_bit_identical_to_df_twin(built, terms):
    toks, postings, dstats, tstats, N, avgdl, blocks = built
    blk = [
        tuple(r)
        for r in phrase_topk_blocks(blocks, tstats, N, avgdl, terms=terms, k=50).collect()
    ]
    df = [
        tuple(r)
        for r in phrase_topk_df(toks, postings, dstats, tstats, N, avgdl, terms, k=50).collect()
    ]
    # exact equality: doc ids, n_occurrences, first_pos AND float64 scores
    assert blk == df, f"block phrase path diverges from DataFrame twin for {terms}"


def test_phrase_routes_bit_identical(built, monkeypatch):
    """phrase_topk_blocks runs its phrase closure on the driver for small
    block sets and with applyInPandas otherwise: identical (doc_id,
    n_occurrences, first_pos, score) rows on both routes, for every
    phrase case, the empty phrase, and k=1 truncation."""
    _toks, _p, _d, tstats, N, avgdl, blocks = built
    cases = [(terms, k) for terms in PHRASES + [[], ["beta"]] for k in (50, 1)]

    def run():
        out = []
        for t, k in cases:
            df = phrase_topk_blocks(blocks, tstats, N, avgdl, terms=t, k=k)
            out.append((df.isLocal(), [tuple(r) for r in df.collect()]))
        return out

    driver = run()
    monkeypatch.setattr(Q, "DRIVER_MAX_PHRASE_POSTINGS", -1)  # forces applyInPandas
    dist = run()
    for case, (d_local, d_rows), (x_local, x_rows) in zip(cases, driver, dist):
        assert d_rows == x_rows, f"routes diverge for {case}"
        if d_rows:
            assert d_local and not x_local, case  # each route was taken
    assert any(len(rows) == 1 for _l, rows in driver)


def test_match_stats_semantics(built):
    _toks, _p, _d, tstats, N, avgdl, blocks = built

    def stats(terms):
        return {
            r["doc_id"]: (r["n_occurrences"], r["first_pos"])
            for r in phrase_topk_blocks(blocks, tstats, N, avgdl, terms=terms).collect()
        }

    assert stats(["alpha", "beta"]) == {1: (2, 1), 2: (1, 2), 4: (1, 1)}
    assert stats(["delta", "delta"]) == {5: (2, 1)}
    assert stats(["alpha", "beta", "beta"]) == {4: (1, 1)}
    assert stats(["gamma", "beta"]) == {3: (1, 2), 7: (2, 1)}
    # conjunctive-but-not-adjacent doc 3 must NOT match
    assert 3 not in stats(["alpha", "beta"])


def test_single_term_phrase_degenerates_to_term_lookup(built):
    _toks, _p, _d, tstats, N, avgdl, blocks = built
    got = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in phrase_topk_blocks(blocks, tstats, N, avgdl, terms=["beta"]).collect()
    }
    # n_occurrences == tf, first_pos == first occurrence
    assert got == {1: (2, 2), 2: (2, 1), 3: (1, 3), 4: (3, 2), 7: (2, 2)}


def test_scores_match_conjunctive_bm25_on_match_docs(built):
    """A phrase hit's score is plain BM25 over the phrase's distinct
    terms (weight 1.0) — identical to what bm25_score_terms assigns the
    same doc, so phrase and bag-of-words rankings are comparable."""
    from search_engine_spark.query import bm25_score_terms

    _toks, postings, dstats, tstats, N, avgdl, blocks = built
    phr = {
        r["doc_id"]: r["score"]
        for r in phrase_topk_blocks(blocks, tstats, N, avgdl, terms=["alpha", "beta"]).collect()
    }
    bow = {
        r["doc_id"]: r["score"]
        for r in bm25_score_terms(
            postings, dstats, tstats, N, avgdl, ["alpha", "beta"], 1.0, 50
        ).collect()
    }
    for d, s in phr.items():
        assert s == bow[d], f"doc {d}: phrase score {s} != bag-of-words {bow[d]}"


def test_empty_and_missing(built, spark):
    _toks, _p, _d, tstats, N, avgdl, blocks = built
    assert phrase_topk_blocks(blocks, tstats, N, avgdl, terms=[]).count() == 0
    assert phrase_topk_blocks(blocks, tstats, N, avgdl, terms=["zzz", "yyy"]).count() == 0
    assert phrase_topk_blocks(blocks, tstats, N, avgdl, phrase="").count() == 0


def test_normalize_phrase_rules():
    # order + multiplicity preserved (normalize_query sorts/dedupes)
    assert normalize_phrase("beta alpha beta", stem=False) == ["beta", "alpha", "beta"]
    # stopwords KEPT (the index stores them; dropping breaks adjacency)
    assert normalize_phrase("state of the art", stem=False) == ["state", "of", "the", "art"]
    # tokenizer skip-words dropped — same survivor space as the index
    assert normalize_phrase("http alpha www beta", stem=False) == ["alpha", "beta"]
    # overlong tokens dropped, case folded, split on non-alphanumerics
    assert normalize_phrase("Alpha-BETA " + "x" * (C.MAX_WORD_LEN + 1), stem=False) == [
        "alpha",
        "beta",
    ]
    # stemmed production path
    assert normalize_phrase("merging scans") == ["merg", "scan"]


def test_stemmed_phrase_end_to_end(spark):
    """Production path: normalize_phrase stems the query; a STEMMED index
    (stem channel in the postings) then matches inflected forms at the
    stems' shared positions."""
    docs = spark.createDataFrame(
        [(1, "merging scans quickly"), (2, "merge scan"), (3, "scans merging")],
        "doc_id long, content string",
    )
    toks = tokenize(docs)
    # stem-channel tokens: replace each term by its stem (positions kept)
    from search_engine_spark.stemmer import porter_stem
    from pyspark.sql import functions as F

    stem_udf = F.udf(porter_stem)
    stoks = toks.select("doc_id", stem_udf("term").alias("term"), "pos")
    postings = doc_postings(stoks)
    dstats = doc_stats(stoks)
    tstats = term_stats(postings)
    N, avgdl = corpus_stats(dstats)
    blocks = build_block_index(postings, dstats, avgdl)
    got = {
        r["doc_id"]
        for r in phrase_topk_blocks(blocks, tstats, N, avgdl, phrase="merging scans").collect()
    }
    assert got == {1, 2}  # doc 3 has the reverse order
