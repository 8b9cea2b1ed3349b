"""Standalone SpanFirst/SpanPositionRange with COMPOSED inner clauses, mixed
tuple clauses inside SpanNear, the _span_clause_terms tuple recursion, the
intervals-output empty schema, and the span occurrence-cache release.

These pin the round-5 composability fixes: the reference allows ANY span
clause inside SpanFirstQuery/SpanPositionRangeQuery
(``search/spans/SpanFirstQuery.java`` takes a SpanQuery match clause, see
TestBasics testNpeInSpanNearInSpanFirstInSpanNot), and a SpanOr clause of a
SpanNear may itself hold composed spans (``SpanOrQuery.java`` clauses are
SpanQuery).  Brute-force oracles re-derive expected doc sets from the
analyzer's token positions.
"""

import pytest

from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import (
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanPositionRangeQuery,
    _span_clause_terms,
)


@pytest.fixture(scope="module")
def pos_searcher3(pos_index8, spark_corpus):
    return IndexSearcher(pos_index8, spark_corpus)


def _tok_positions(fixture_corpus_pdf):
    from lucene_solr_spark.functions.analysis import standard_analyzer

    an = standard_analyzer()
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    per_doc = []
    for text in pdf["text"]:
        pos: dict = {}
        for t, p in an.tokens_with_positions(text):
            pos.setdefault(t, []).append(p)
        per_doc.append(pos)
    return per_doc


def _ordered_near_spans(pos, terms, slop):
    """Ordered two-term near spans [s, e) with gap <= slop."""
    a, b = terms
    return [
        (p0, p1 + 1)
        for p0 in pos.get(a, [])
        for p1 in pos.get(b, [])
        if p1 > p0 and p1 - p0 - 1 <= slop
    ]


def _eval_docs(s, q):
    return {r["doc_id"] for r in s._evaluate(q, 1.0, s._term_stats(q.terms())).collect()}


# ------------------------- standalone SpanFirst/PosRange with composed inner
def test_span_first_nested_near(pos_searcher3, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    inner = SpanNearQuery(("ge0", "vecodu"), slop=2, in_order=True)
    for end in (3, 6, 12):
        got = _eval_docs(pos_searcher3, SpanFirstQuery(inner, end))
        want = {
            d
            for d, pos in enumerate(per_doc)
            if any(e <= end for _, e in _ordered_near_spans(pos, ("ge0", "vecodu"), 2))
        }
        assert got == want, f"end={end}"
    assert any(
        _ordered_near_spans(pos, ("ge0", "vecodu"), 2) for pos in per_doc
    ), "fixture must exercise the nested near"


def test_span_first_tuple_inner(pos_searcher3, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    got = _eval_docs(pos_searcher3, SpanFirstQuery(("numa", "wehu"), 2))
    want = {
        d
        for d, pos in enumerate(per_doc)
        if any(p + 1 <= 2 for t in ("numa", "wehu") for p in pos.get(t, ()))
    }
    assert got == want and want


def test_span_posrange_nested_or(pos_searcher3, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    inner = SpanOrQuery(("numa", SpanNearQuery(("ge0", "vecodu"), slop=1, in_order=True)))
    got = _eval_docs(pos_searcher3, SpanPositionRangeQuery(inner, 2, 9))
    want = set()
    for d, pos in enumerate(per_doc):
        spans = [(p, p + 1) for p in pos.get("numa", ())]
        spans += _ordered_near_spans(pos, ("ge0", "vecodu"), 1)
        if any(s >= 2 and e <= 9 for s, e in spans):
            want.add(d)
    assert got == want and want


def test_span_posrange_plain_term_unchanged(pos_searcher3, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    got = _eval_docs(pos_searcher3, SpanPositionRangeQuery("ge0", 1, 4))
    want = {d for d, pos in enumerate(per_doc) if any(1 <= p and p + 1 <= 4 for p in pos.get("ge0", ()))}
    assert got == want


# ----------------------------------- mixed tuple clause inside SpanNearQuery
def test_near_with_mixed_tuple_clause(pos_searcher3, fixture_corpus_pdf):
    """A tuple clause mixing a term and a span clause is an inline SpanOr
    over clauses: (("and" | near(the, of)), "the") ordered, slop=1."""
    per_doc = _tok_positions(fixture_corpus_pdf)
    mixed = ("numa", SpanNearQuery(("ge0", "vecodu"), slop=0, in_order=True))
    q = SpanNearQuery((mixed, "hu"), slop=1, in_order=True)
    got = _eval_docs(pos_searcher3, q)
    want = set()
    for d, pos in enumerate(per_doc):
        first = [(p, p + 1) for p in pos.get("numa", ())]
        first += _ordered_near_spans(pos, ("ge0", "vecodu"), 0)
        if any(
            p1 >= e0 and p1 - e0 <= 1 for _, e0 in first for p1 in pos.get("hu", ())
        ):
            want.add(d)
    assert got == want and want


def test_span_clause_terms_recurses_tuples():
    inner = SpanNearQuery(("a", "b"), slop=0)
    assert _span_clause_terms(("x", inner)) == {"x", "a", "b"}
    assert _span_clause_terms((("x", "y"), inner)) == {"x", "y", "a", "b"}
    q = SpanNearQuery((("x", inner), "z"), slop=1)
    assert q.terms() == {"x", "a", "b", "z"}
    # SpanNot over a mixed tuple include
    qn = SpanNotQuery(("x", inner), "z")
    assert qn.terms() == {"x", "a", "b", "z"}


def test_span_not_with_mixed_tuple_include(pos_searcher3, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    inc = ("numa", SpanNearQuery(("ge0", "vecodu"), slop=0, in_order=True))
    q = SpanNotQuery(inc, "qe")
    got = _eval_docs(pos_searcher3, q)
    want = set()
    for d, pos in enumerate(per_doc):
        spans = [(p, p + 1) for p in pos.get("numa", ())]
        spans += _ordered_near_spans(pos, ("ge0", "vecodu"), 0)
        exc = pos.get("qe", ())
        if any(not any(s <= x < e for x in exc) for s, e in spans):
            want.add(d)
    assert got == want and want


# -------------------------------------------- intervals empty-result schema
def test_interval_source_intervals_empty_schema(pos_searcher3):
    from lucene_solr_spark.functions.interval_sources import IOrdered, ITerm

    src = IOrdered((ITerm("zzzznotaterm"), ITerm("zzzzalsonot")))
    out = pos_searcher3.interval_source_query(src, output="intervals")
    assert [f.name for f in out.schema.fields] == ["doc_id", "start", "end"]
    assert out.select("doc_id", "start", "end").collect() == []
    # the other two output modes keep their documented shapes
    assert [f.name for f in pos_searcher3.interval_source_query(src).schema.fields] == [
        "doc_id",
        "score",
    ]
    fq = pos_searcher3.interval_source_query(src, output="freq_q")
    assert [f.name for f in fq.schema.fields] == ["doc_id", "freq_q"]


# -------------------------------------------------- span occurrence caching
def test_span_occ_cache_released_on_next_search(pos_searcher3):
    s = pos_searcher3
    s.release_span_caches()
    q = SpanOrQuery(("numa", SpanNearQuery(("ge0", "vecodu"), slop=1, in_order=True)))
    s.search(q, 5).collect()
    assert len(s._span_occ_persists) >= 1  # the shared positional scan
    cached = list(s._span_occ_persists)
    s.search(SpanFirstQuery(SpanNearQuery(("ge0", "numa"), slop=2), 8), 5).collect()
    # previous caches were unpersisted and dropped from the registry
    assert all(c not in s._span_occ_persists for c in cached)
    assert all(c.storageLevel.useMemory is False for c in cached)
    s.release_span_caches()
    assert s._span_occ_persists == []
