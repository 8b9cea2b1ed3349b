"""CommonTermsQuery + CoveringQuery vs the single-process oracle.

CommonTermsQuery's expected result is the manually-constructed rewrite
(classifying terms with the oracle's own df counts, reference
CommonTermsQuery.java:152-209) evaluated by the OracleEngine — so the Spark
engine's classification, group construction, and float chain are all checked
against an independent path.
"""

import math

import numpy as np
import pytest

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    CommonTermsQuery,
    CoveringQuery,
    TermQuery,
)


def _split_by_df(oracle, terms, mtf):
    thr = int(math.ceil(float(np.float32(np.float32(mtf) * np.float32(oracle.doc_count)))))
    low = [t for t in terms if len(oracle.postings.get(t, {})) <= thr]
    high = [t for t in terms if len(oracle.postings.get(t, {})) > thr]
    return low, high


def _hot_and_rare(oracle):
    by_df = sorted(oracle.postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    hot = [t for t, _ in by_df[:3]]
    rare = [t for t, p in by_df if 2 <= len(p) <= max(2, oracle.doc_count // 50)][0]
    return hot, rare


def test_common_terms_split_groups(searcher, oracle):
    hot, rare = _hot_and_rare(oracle)
    terms = tuple(hot + [rare])
    mtf = 0.5
    low, high = _split_by_df(oracle, terms, mtf)
    assert low and high, "fixture must exercise both groups"
    expected_rewrite = BooleanQuery.build(
        must=[BooleanQuery.build(should=[TermQuery(t) for t in low])],
        should=[BooleanQuery.build(should=[TermQuery(t) for t in high])],
    )
    expect = oracle.search(expected_rewrite, 10)
    got = searcher.search(CommonTermsQuery(terms, max_term_frequency=mtf), 10).collect()
    assert [(d, s) for d, s in expect] == got


def test_common_terms_all_high_is_conjunction(searcher, oracle):
    hot, _ = _hot_and_rare(oracle)
    q = CommonTermsQuery(tuple(hot), max_term_frequency=0.01)
    low, high = _split_by_df(oracle, hot, 0.01)
    assert not low
    expect = oracle.search(
        BooleanQuery.build(should=[BooleanQuery.build(must=[TermQuery(t) for t in high])]), 10
    )
    got = searcher.search(q, 10).collect()
    assert [(d, s) for d, s in expect] == got


def test_common_terms_high_freq_mm_fraction(searcher, oracle):
    """highFreqMinNrShouldMatch = 0.6 over 3 high terms -> Math.round(1.8) = 2."""
    hot, rare = _hot_and_rare(oracle)
    terms = tuple(hot + [rare])
    q = CommonTermsQuery(terms, max_term_frequency=0.5, high_freq_min_should_match=0.6)
    low, high = _split_by_df(oracle, terms, 0.5)
    assert len(high) == 3
    expect = oracle.search(
        BooleanQuery.build(
            must=[BooleanQuery.build(should=[TermQuery(t) for t in low])],
            should=[
                BooleanQuery.build(
                    should=[TermQuery(t) for t in high], minimum_should_match=2
                )
            ],
        ),
        10,
    )
    got = searcher.search(q, 10).collect()
    assert [(d, s) for d, s in expect] == got


def test_common_terms_single_and_empty(searcher, oracle):
    hot, _ = _hot_and_rare(oracle)
    got = searcher.search(CommonTermsQuery((hot[0],), max_term_frequency=0.5), 10).collect()
    expect = oracle.search(TermQuery(hot[0]), 10)
    assert [(d, s) for d, s in expect] == got
    assert searcher.search(CommonTermsQuery((), max_term_frequency=0.5), 10).collect() == []


def test_covering_per_doc_minimum(searcher, oracle, fixture_corpus_pdf):
    hot, _ = _hot_and_rare(oracle)
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    mm_of = {d: int(pdf["turn_idx"][d]) % 2 + 1 for d in range(len(pdf))}

    per_term = [oracle._evaluate(TermQuery(t), 1.0) for t in hot]
    agg: dict = {}
    for scores in per_term:
        for d, s in scores.items():
            tot, n = agg.get(d, (0.0, 0))
            agg[d] = (tot + float(s), n + 1)
    expect = {
        d: float(np.float32(tot))
        for d, (tot, n) in agg.items()
        if n >= max(1, mm_of[d])
    }
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    q = CoveringQuery(tuple(TermQuery(t) for t in hot), "turn_idx % 2 + 1")
    got = searcher.search(q, 10).collect()
    assert top == got


def test_covering_slow_path_with_group_clause(searcher, oracle):
    """A boolean group clause joins the covering scan as its own clause unit
    (float32-rounded group score, one match); results must agree with
    per-clause oracle evaluation."""
    hot, rare = _hot_and_rare(oracle)
    grp = BooleanQuery.build(should=[TermQuery(hot[1]), TermQuery(rare)])
    q = CoveringQuery((TermQuery(hot[0]), grp), "1")

    import numpy as np

    clause_scores = [oracle._evaluate(TermQuery(hot[0]), 1.0), oracle._evaluate(grp, 1.0)]
    agg: dict = {}
    for scores in clause_scores:
        for d, s in scores.items():
            tot, n = agg.get(d, (0.0, 0))
            agg[d] = (tot + float(s), n + 1)
    expect = {d: float(np.float32(tot)) for d, (tot, n) in agg.items() if n >= 1}
    top = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = searcher.search(q, 10).collect()
    assert top == got


def test_nested_boolean_single_scan_rank_identity(searcher, oracle):
    """(a OR b) AND (c OR d): the nested single-scan path must match the
    oracle's general nested evaluation bit-for-bit."""
    hot, rare = _hot_and_rare(oracle)
    q = BooleanQuery.build(
        must=[
            BooleanQuery.build(should=[TermQuery(hot[0]), TermQuery(rare)]),
            BooleanQuery.build(should=[TermQuery(hot[1]), TermQuery(hot[2])]),
        ]
    )
    expect = oracle.search(q, 10)
    got = searcher.search(q, 10).collect()
    assert [(d, s) for d, s in expect] == got


def test_covering_requires_at_least_one(searcher, oracle):
    """mm expression evaluating to 0 behaves as 1 (CoveringQuery javadoc)."""
    hot, _ = _hot_and_rare(oracle)
    q0 = CoveringQuery((TermQuery(hot[0]),), "0")
    q1 = CoveringQuery((TermQuery(hot[0]),), "1")
    assert searcher.search(q0, 10).collect() == searcher.search(q1, 10).collect()
