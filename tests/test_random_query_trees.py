"""Randomized query-tree equivalence — the reference's core test pattern
(SURVEY §5: LuceneTestCase under RandomizedRunner; TestBoolean2's
optimized-vs-naive diffing).

Hypothesis generates arbitrary boolean/dismax/synonym/boost trees over the
fixture vocabulary (including absent terms, duplicate clauses, nested groups,
FILTER clauses, MUST_NOT subtrees, minShouldMatch edge cases); the distributed engine with pruning ON must match
the scalar oracle on doc ids AND float32 scores for every tree."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    BoostQuery,
    DisjunctionMaxQuery,
    SynonymQuery,
    TermQuery,
)

# drawn lazily from the oracle's vocabulary inside the test
_N_VOCAB = 8


def _leaf(vocab):
    return st.builds(
        TermQuery,
        st.sampled_from(vocab),
        st.sampled_from([1.0, 2.0, 0.5]),
    )


def _tree(vocab, depth=2):
    leaf = _leaf(vocab)
    syn = st.builds(
        lambda a, b: SynonymQuery((a, b)), st.sampled_from(vocab), st.sampled_from(vocab)
    )
    base = st.one_of(leaf, syn)
    if depth == 0:
        return base
    sub = _tree(vocab, depth - 1)

    def mk_bool(must, should, must_not, filter_, mm):
        return BooleanQuery.build(
            must=must, should=should, must_not=must_not, filter=filter_, minimum_should_match=mm
        )

    boolean = st.builds(
        mk_bool,
        st.lists(sub, max_size=2),
        st.lists(sub, max_size=3),
        st.lists(sub, max_size=1),
        st.lists(sub, max_size=1),
        st.integers(min_value=0, max_value=3),
    )
    dismax = st.builds(
        lambda ds, tie: DisjunctionMaxQuery(tuple(ds), tie_breaker=tie),
        st.lists(sub, min_size=1, max_size=3),
        st.sampled_from([0.0, 0.3]),
    )
    boost = st.builds(lambda q, b: BoostQuery(q, b), sub, st.sampled_from([1.0, 3.0]))
    return st.one_of(base, boolean, dismax, boost)


@pytest.fixture(scope="module")
def vocab(oracle):
    by_df = sorted(oracle.postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    terms = [t for t, _ in by_df[:4]] + [t for t, _ in by_df[len(by_df) // 2 :][:3]]
    return terms + ["zzz_not_in_index"]


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_random_tree_matches_oracle(data, searcher, oracle, vocab):
    q = data.draw(_tree(vocab))
    expect = oracle.search(q, 10)
    got = searcher.search(q, 10, prune=True).collect()
    assert [(d, s) for d, s in expect] == got, q


def test_must_group_with_mm_matches_nothing(searcher, oracle, vocab):
    """A one-level group of MUST terms with minimum_should_match > 0 has no
    optional clause that could meet mm, so it matches nothing (Lucene's
    BooleanWeight, OracleEngine) — alone as a SHOULD clause and beside a
    MUST term, where it must add no score."""
    inner = BooleanQuery.build(must=[TermQuery(vocab[0])], minimum_should_match=1)
    alone = BooleanQuery.build(should=[inner])
    beside = BooleanQuery.build(must=[TermQuery(vocab[1])], should=[inner])
    assert oracle.search(alone, 10) == []
    for q in (alone, beside):
        assert searcher.search(q, 10).collect() == [(d, s) for d, s in oracle.search(q, 10)], q


@pytest.fixture(scope="module")
def real_phrases(oracle):
    """Adjacent token n-grams drawn from actual fixture documents, so random
    phrase queries have non-trivial match sets."""
    from lucene_solr_spark.plans.query import PhraseQuery

    out = []
    for d in sorted(oracle.texts)[:40]:
        toks = [t for t, _ in oracle.analyzer.tokens_with_positions(oracle.texts[d])]
        if len(toks) >= 3:
            out.append(PhraseQuery(tuple(toks[0:2])))
            out.append(PhraseQuery(tuple(toks[1:4])))
    return out[:24]


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(data=st.data())
def test_random_phrase_trees_match_oracle(data, searcher, oracle, vocab, real_phrases):
    """Positional leaves (exact phrases from real documents) inside random
    boolean trees — exercises the index-positions evaluation path under
    composition."""
    leaf = st.one_of(st.sampled_from(real_phrases), _leaf(vocab))
    q = data.draw(
        st.builds(
            lambda must, should, mm: BooleanQuery.build(must=must, should=should, minimum_should_match=mm),
            st.lists(leaf, max_size=2),
            st.lists(leaf, max_size=2),
            st.integers(min_value=0, max_value=2),
        )
    )
    expect = oracle.search(q, 10)
    got = searcher.search(q, 10, prune=True).collect()
    assert [(d, s) for d, s in expect] == got, q
