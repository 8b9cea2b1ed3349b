"""SpanMultiTermQueryWrapper (dictionary expansion to SpanOr alternatives)
and SpanPositionRangeQuery, brute-forced against python position scans."""

import pytest

from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import (
    MatchNoDocsQuery,
    PrefixQuery,
    SpanMultiTermWrapper,
    SpanNearQuery,
    SpanOrQuery,
    SpanPositionRangeQuery,
    WildcardQuery,
)


@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    return IndexSearcher(pos_index8, spark_corpus)


@pytest.fixture(scope="module")
def positions(fixture_corpus_pdf, oracle):
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return {i: oracle.analyzer.tokens(t) for i, t in enumerate(pdf["text"])}


def test_wrapper_expansion_matches_dictionary(searcher):
    got = searcher._expand_span_multiterm(SpanMultiTermWrapper(PrefixQuery("wu")))
    terms = {r["term"] for r in searcher.index.terms.collect() if r["term"].startswith("wu")}
    assert set(got) == terms and list(got) == sorted(got)


def test_standalone_wrapper_rewrites_to_span_or(searcher):
    q = searcher._rewrite_span_multiterm(SpanMultiTermWrapper(PrefixQuery("wu")))
    assert isinstance(q, SpanOrQuery)
    q2 = searcher._rewrite_span_multiterm(SpanMultiTermWrapper(PrefixQuery("zzzznope")))
    assert isinstance(q2, MatchNoDocsQuery)


def test_span_near_with_prefix_slot(pos_searcher, positions):
    q = SpanNearQuery((SpanMultiTermWrapper(PrefixQuery("wu")), "ge0"), slop=2, in_order=True)
    got = sorted(r["doc_id"] for r in pos_searcher.search(q, 100000).df.collect())
    want = []
    for d, toks in positions.items():
        hit = any(
            toks[i].startswith("wu") and toks[j] == "ge0" and j > i and j - i - 1 <= 2
            for i in range(len(toks))
            for j in range(i + 1, min(i + 4, len(toks)))
        )
        if hit:
            want.append(d)
    assert got == sorted(want)


def test_span_near_with_wildcard_slot(pos_searcher, positions):
    import fnmatch

    q = SpanNearQuery(("ge0", SpanMultiTermWrapper(WildcardQuery("w?hu"))), slop=0, in_order=True)
    got = sorted(r["doc_id"] for r in pos_searcher.search(q, 100000).df.collect())
    want = [
        d
        for d, toks in positions.items()
        if any(
            toks[i] == "ge0" and fnmatch.fnmatchcase(toks[i + 1], "w?hu")
            for i in range(len(toks) - 1)
        )
    ]
    assert got == sorted(want)


def test_span_position_range(pos_searcher, positions):
    q = SpanPositionRangeQuery("ge0", 1, 4)
    got = sorted(r["doc_id"] for r in pos_searcher.search(q, 100000).df.collect())
    want = [
        d
        for d, toks in positions.items()
        if any(t == "ge0" and 1 <= p and p + 1 <= 4 for p, t in enumerate(toks))
    ]
    assert got == sorted(want)
    # start=0 degenerates to SpanFirst semantics
    from lucene_solr_spark.plans.query import SpanFirstQuery

    a = sorted(r["doc_id"] for r in pos_searcher.search(SpanPositionRangeQuery("ge0", 0, 3), 100000).df.collect())
    b = sorted(r["doc_id"] for r in pos_searcher.search(SpanFirstQuery("ge0", 3), 100000).df.collect())
    assert a == b
