"""MultiPhraseQuery, SpanFirst/SpanOr/SpanNot, and relatedness() tests.

MultiPhrase is rank-identity checked against the control oracle (float32
scores); the span algebra is brute-force verified against the analyzer's
token positions; relatedness is recomputed independently in numpy with the
reference's exact formula (RelatednessAgg.java:473-487).
"""

import math

import numpy as np
import pytest

from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import (
    ConstantScoreQuery,
    MultiPhraseQuery,
    PhraseQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanNotQuery,
    SpanOrQuery,
    TermQuery,
)


@pytest.fixture(scope="module")
def pos_searcher2(pos_index8, spark_corpus):
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


# ------------------------------------------------------------- multiphrase
@pytest.mark.parametrize(
    "slots",
    [
        (("ge0",), ("vecodu", "numa")),
        (("ge0", "wehu"), ("numa",)),
        (("vecodu",), ("ge0",), ("ge0", "numa", "wehu")),
    ],
)
def test_multiphrase_rank_identity(pos_searcher2, oracle, slots):
    q = MultiPhraseQuery(slots)
    want = oracle.search(q, 10)
    got = pos_searcher2.search(q, 10).collect()
    assert [d for d, _ in got] == [d for d, _ in want]
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=0), (gd, gs, ws)


def test_multiphrase_single_alternatives_equals_phrase(pos_searcher2, oracle):
    from lucene_solr_spark.plans.query import PhraseQuery

    mq = MultiPhraseQuery((("ge0",), ("vecodu",)))
    pq = PhraseQuery(("ge0", "vecodu"))
    assert pos_searcher2.search(mq, 10).collect() == pos_searcher2.search(pq, 10).collect()


def test_oracle_refuses_sloppy_phrases(oracle):
    for q in (PhraseQuery(("ge0", "vecodu"), slop=1), MultiPhraseQuery((("ge0",), ("vecodu",)), slop=1)):
        with pytest.raises(NotImplementedError):
            oracle.search(q, 10)


def test_multiphrase_missing_slot_is_empty(pos_searcher2):
    from lucene_solr_spark.plans.query import PhraseQuery

    q = MultiPhraseQuery((("the",), ("zzzznotaterm",)))
    assert pos_searcher2.search(q, 10).collect() == []
    # a phrase with no slots matches nothing on the driver and distributed arms
    for q in (MultiPhraseQuery(()), PhraseQuery(())):
        for prune in (True, False):
            assert pos_searcher2.search(q, 10, prune=prune).collect() == [], (q, prune)


# ------------------------------------------------------------- span algebra
def test_span_first(pos_searcher2, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    for end in (1, 3, 8):
        got = {
            r["doc_id"]
            for r in pos_searcher2._evaluate(
                SpanFirstQuery("the", end), 1.0, pos_searcher2._term_stats({"the"})
            ).collect()
        }
        want = {d for d, pos in enumerate(per_doc) if any(p + 1 <= end for p in pos.get("the", ()))}
        assert got == want, f"end={end}"


def test_span_or_standalone(pos_searcher2, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    got = {
        r["doc_id"]
        for r in pos_searcher2._evaluate(
            SpanOrQuery(("and", "of")), 1.0, pos_searcher2._term_stats({"and", "of"})
        ).collect()
    }
    want = {d for d, pos in enumerate(per_doc) if "and" in pos or "of" in pos}
    assert got == want


@pytest.mark.parametrize("pre,post", [(0, 0), (1, 1), (2, 0)])
def test_span_not(pos_searcher2, fixture_corpus_pdf, pre, post):
    per_doc = _tok_positions(fixture_corpus_pdf)
    q = SpanNotQuery("and", "the", pre=pre, post=post)
    got = {
        r["doc_id"]
        for r in pos_searcher2._evaluate(q, 1.0, pos_searcher2._term_stats(q.terms())).collect()
    }
    want = set()
    for d, pos in enumerate(per_doc):
        exc = pos.get("the", ())
        if any(not any(p - pre <= x <= p + post for x in exc) for p in pos.get("and", ())):
            want.add(d)
    assert got == want, f"pre={pre} post={post}"


def test_span_or_clause_inside_near(pos_searcher2, fixture_corpus_pdf):
    per_doc = _tok_positions(fixture_corpus_pdf)
    q = SpanNearQuery((("and", "of"), "the"), slop=1, in_order=True)
    got = {
        r["doc_id"]
        for r in pos_searcher2._evaluate(q, 1.0, pos_searcher2._term_stats(q.terms())).collect()
    }
    want = set()
    for d, pos in enumerate(per_doc):
        firsts = pos.get("and", []) + pos.get("of", [])
        for p0 in firsts:
            if any(p1 > p0 and p1 - p0 - 1 <= 1 for p1 in pos.get("the", ())):
                want.add(d)
                break
    assert got == want


# -------------------------------------------------------------- relatedness
def _sig(x, off, scale):
    return (x + off) / (scale + abs(x + off))


def _round5(x):
    return math.floor(x * 1e5 + 0.5) / 1e5


def test_relatedness_formula(pos_searcher2, fixture_corpus_pdf, oracle):
    got = {r["role"]: r for r in pos_searcher2.relatedness(TermQuery("the"), "role").collect()}

    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    fg_docs = set(oracle.postings.get("the", {}))
    bg_size = len(pdf)
    fg_size = len(fg_docs)
    for role, grp in pdf.groupby("role"):
        bg_count = len(grp)
        fg_count = sum(1 for d in grp.index if d in fg_docs)
        bg_prob = bg_count / bg_size
        num = fg_count - fg_size * bg_prob
        denom = math.sqrt(fg_size * bg_prob * (1 - bg_prob)) or 1e-10
        z = num / denom
        rel = 0.2 * (
            _sig(z, -80, 50) + _sig(z, -30, 30) + _sig(z, 0, 30) + _sig(z, 30, 30) + _sig(z, 80, 50)
        )
        r = got[role]
        assert r["fg_count"] == fg_count and r["bg_count"] == bg_count
        assert r["fg_pop"] == _round5(fg_count / bg_size)
        assert r["bg_pop"] == _round5(bg_count / bg_size)
        assert r["relatedness"] == _round5(rel)


def test_relatedness_min_pop_filters_to_neg_inf(pos_searcher2):
    rows = pos_searcher2.relatedness(TermQuery("the"), "role", min_pop=1.1).collect()
    assert rows and all(r["relatedness"] == float("-inf") for r in rows)


# ------------------------------------------------- span containing / within
def _brute_contain(per_doc, big_terms, big_slop, little):
    """Docs with an ordered big-span (over single-term clauses) containing an
    occurrence of `little` (a term or tuple of alternatives)."""
    little = (little,) if isinstance(little, str) else tuple(little)
    out = set()
    for d, pos in enumerate(per_doc):
        spans = []
        if len(big_terms) == 1:
            spans = [(p, p + 1) for p in pos.get(big_terms[0], [])]
        else:
            a, b = big_terms
            for p0 in pos.get(a, []):
                for p1 in pos.get(b, []):
                    if p1 > p0 and p1 - p0 - 1 <= big_slop:
                        spans.append((p0, p1 + 1))
        lits = [(p, p + 1) for t in little for p in pos.get(t, [])]
        if any(s <= ls and e >= le for s, e in spans for ls, le in lits):
            out.add(d)
    return out


def test_span_containing_brute_force(pos_searcher2, fixture_corpus_pdf):
    from lucene_solr_spark.plans.query import SpanContainingQuery, SpanWithinQuery

    per_doc = _tok_positions(fixture_corpus_pdf)
    big = SpanNearQuery(("the", "of"), slop=6, in_order=True)
    for little in ("and", ("a", "and")):
        q = SpanContainingQuery(big, little)
        got = {d for d, _ in pos_searcher2.search(q, 4000).collect()}
        want = _brute_contain(per_doc, ("the", "of"), 6, little)
        assert got == want and want, little
        # Within(little, big) matches the same document set (docstring note)
        qw = SpanWithinQuery(big, little)
        got_w = {d for d, _ in pos_searcher2.search(qw, 4000).collect()}
        assert got_w == want


def test_span_containing_term_big(pos_searcher2, fixture_corpus_pdf):
    """Degenerate big = single term: containment forces little == big spans,
    so only docs where the little term IS the big term (same position)."""
    from lucene_solr_spark.plans.query import SpanContainingQuery

    per_doc = _tok_positions(fixture_corpus_pdf)
    q = SpanContainingQuery("the", "the")
    got = {d for d, _ in pos_searcher2.search(q, 4000).collect()}
    want = {d for d, pos in enumerate(per_doc) if pos.get("the")}
    assert got == want
    q2 = SpanContainingQuery("the", "of")
    assert pos_searcher2.search(q2, 10).collect() == []


def test_span_containing_missing_term_empty(pos_searcher2):
    from lucene_solr_spark.plans.query import SpanContainingQuery

    q = SpanContainingQuery(SpanNearQuery(("the", "zzzznotaterm"), slop=3), "of")
    assert pos_searcher2.search(q, 10).collect() == []
