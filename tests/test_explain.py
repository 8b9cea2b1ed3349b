"""IndexSearcher.explain: the breakdown's value must equal the search score."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    BoostQuery,
    DisjunctionMaxQuery,
    TermQuery,
)


def _hot2(searcher):
    rows = searcher.index.terms.orderBy(F.desc("df"), F.asc("term")).limit(2).collect()
    return [r["term"] for r in rows]


def test_explain_term_matches_search(searcher):
    hot = _hot2(searcher)[0]
    top = searcher.search(TermQuery(hot), 5).collect()
    for doc_id, score in top:
        e = searcher.explain(TermQuery(hot), doc_id)
        assert e["value"] == score
        # structure: weight * tf fraction
        w, tf = e["details"]
        assert np.float32(np.float32(w["value"]) * np.float32(tf["value"])) == np.float32(score)


def test_explain_boolean(searcher):
    h1, h2 = _hot2(searcher)
    q = BooleanQuery.build(must=[TermQuery(h1)], should=[BoostQuery(TermQuery(h2), 2.0)])
    top = searcher.search(q, 5).collect()
    for doc_id, score in top:
        e = searcher.explain(q, doc_id)
        assert e["value"] == pytest.approx(score, abs=1e-6)

    # non-matching doc: a doc that lacks the MUST term
    all_ids = {d for d, _ in searcher.search(TermQuery(h1), 100000).collect()}
    missing = next(i for i in range(10000) if i not in all_ids)
    e = searcher.explain(q, missing)
    assert e["value"] == 0.0 and "MUST" in e["description"]


def test_explain_must_not_exclusion(searcher):
    h1, h2 = _hot2(searcher)
    both = {d for d, _ in searcher.search(BooleanQuery.build(must=[TermQuery(h1), TermQuery(h2)]), 5).collect()}
    doc = next(iter(both))
    q = BooleanQuery.build(must=[TermQuery(h1)], must_not=[TermQuery(h2)])
    e = searcher.explain(q, doc)
    assert e["value"] == 0.0 and "MUST_NOT" in e["description"]


def test_explain_follows_filter_and_min_should_match(searcher):
    """explain() takes a boolean's match from the search itself: a doc that
    misses a FILTER, or holds fewer SHOULD terms than minimum_should_match,
    explains as 0 — it is not among the search's hits either."""
    rows = searcher.index.terms.orderBy(F.desc("df"), F.asc("term")).limit(3).collect()
    a, b, c = (r["term"] for r in rows)
    only_a = BooleanQuery.build(must=[TermQuery(a)], must_not=[TermQuery(b), TermQuery(c)])
    doc = searcher.search(only_a, 1).collect()[0][0]
    filtered = BooleanQuery.build(must=[TermQuery(a)], filter=[TermQuery(b)])
    two_of_three = BooleanQuery.build(
        should=[TermQuery(a), TermQuery(b), TermQuery(c)], minimum_should_match=2
    )
    for q in (filtered, two_of_three):
        hits = dict(searcher.search(q, 100000).collect())
        assert doc not in hits
        e = searcher.explain(q, doc)
        assert e["value"] == 0.0 and "does not match" in e["description"], e
        top, score = next(iter(hits.items()))
        assert searcher.explain(q, top)["value"] == score
    assert "[FILTER]" in searcher.explain(filtered, doc)["description"]


def test_explain_dismax(searcher):
    h1, h2 = _hot2(searcher)
    q = DisjunctionMaxQuery((TermQuery(h1), TermQuery(h2)), tie_breaker=0.4)
    top = searcher.search(q, 5).collect()
    for doc_id, score in top:
        e = searcher.explain(q, doc_id)
        assert e["value"] == pytest.approx(score, abs=1e-6)


def test_explain_rows_matches_per_doc_explain(searcher):
    """The batched explain_rows leaves agree with the driver-side explain
    tree doc by doc: same leaf score (under the 2^20 quantization) and the
    same weight detail, for every hit of a two-term OR page."""
    h1, h2 = _hot2(searcher)
    q = BooleanQuery.build(should=[TermQuery(h1), TermQuery(h2)])
    ids = [d for d, _ in searcher.search(q, 5).collect()]
    rows = {(r["doc_id"], r["term"]): r for r in searcher.explain_rows(q, ids).collect()}
    assert {d for d, _ in rows} == set(ids)
    for doc_id in ids:
        e = searcher.explain(q, doc_id)
        leaves = {
            d["description"].split("'")[1]: d for d in e["details"] if d["details"]
        }
        for term, leaf in leaves.items():
            r = rows[(doc_id, term)]
            assert r["score_q"] == int(np.floor(np.float64(np.float32(leaf["value"])) * (1 << 20)))
            w = leaf["details"][0]["value"]
            assert r["weight_q"] == int(np.floor(np.float64(np.float32(w)) * (1 << 20)))
        # no extra leaves beyond the matching terms
        assert {t for d, t in rows if d == doc_id} == set(leaves)


def test_explain_requires_bm25_family(searcher):
    """explain/explain_rows split a score into BM25's weight × tf: under
    another similarity both refuse rather than wrap a foreign score in a
    BM25 breakdown; LegacyBM25 (a BM25-family member) explains its own
    scaled scores."""
    from lucene_solr_spark.functions.similarities import (
        ClassicSimilarity,
        LegacyBM25Similarity,
    )
    from lucene_solr_spark.operators.searcher import IndexSearcher

    hot = _hot2(searcher)[0]
    classic = IndexSearcher(searcher.index, searcher.corpus, similarity=ClassicSimilarity())
    doc_id = searcher.search(TermQuery(hot), 1).collect()[0][0]
    with pytest.raises(NotImplementedError):
        classic.explain(TermQuery(hot), doc_id)
    with pytest.raises(NotImplementedError):
        classic.explain_rows(TermQuery(hot), [doc_id])

    legacy = IndexSearcher(searcher.index, searcher.corpus, similarity=LegacyBM25Similarity())
    for doc_id, score in legacy.search(TermQuery(hot), 3).collect():
        e = legacy.explain(TermQuery(hot), doc_id)
        assert e["value"] == score
        w, tf = e["details"]
        assert np.float32(np.float32(w["value"]) * np.float32(tf["value"])) == np.float32(score)
