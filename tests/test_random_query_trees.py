"""Randomized query-tree equivalence — the reference's core test pattern
(SURVEY §5: LuceneTestCase under RandomizedRunner; TestBoolean2's
optimized-vs-naive diffing).

Hypothesis generates arbitrary boolean/dismax/synonym/boost trees over the
fixture vocabulary (including absent terms, duplicate clauses, nested groups,
FILTER clauses, MUST_NOT subtrees, minShouldMatch edge cases); the distributed engine with pruning ON must match
the scalar oracle on doc ids AND float32 scores for every tree."""

import dataclasses

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from lucene_solr_spark.plans.query import (
    BooleanQuery,
    BoostQuery,
    DisjunctionMaxQuery,
    MultiPhraseQuery,
    PhraseQuery,
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


@pytest.fixture(scope="module")
def driver_searcher(index8, spark_corpus):
    """The default cost gate: a small flat term tree takes the driver path."""
    from lucene_solr_spark.operators.searcher import IndexSearcher

    return IndexSearcher(index8, spark_corpus)


def _assert_batch(s, drawn: dict, want: dict) -> None:
    """Every drawn query, run in ONE ``batch_search`` on ``s``, returns
    exactly ``want[qid]``: its top 10 ``(doc_id, score)`` in rank order."""
    got: dict = {}
    for r in s.batch_search(drawn, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in drawn.items():
        assert [(d, sc) for _, d, sc in sorted(got.get(qid, []))] == want[qid], q


def test_random_tree_matches_oracle(searcher, driver_searcher, oracle, vocab):
    """Every drawn tree, with random ``exclude_doc_ids`` among its top 15,
    on the gate-0 searcher (θ pre-pass for flat term trees) and, for flat
    term trees, on the default-gate searcher (driver path).  Then all drawn
    trees run as ONE batch on the gate-0 searcher, each equal to its
    oracle top 10 (the answer search() gives without exclusions)."""
    drawn: dict = {}
    want: dict = {}

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(data=st.data())
    def check(data):
        q = data.draw(_tree(vocab))
        ranked = oracle.search(q, 20)
        ex = sorted({ranked[i][0] for i in data.draw(st.lists(st.integers(0, 14), max_size=3)) if i < len(ranked)})
        expect = [(d, s) for d, s in ranked if d not in ex][:10]
        flat = searcher._flat_clauses(q) is not None
        for s in (searcher, driver_searcher) if flat else (searcher,):
            assert s.search(q, 10, prune=True, exclude_doc_ids=ex).collect() == expect, (q, ex)
        want[f"q{len(drawn)}"] = ranked[:10]
        drawn[f"q{len(drawn)}"] = q

    check()
    _assert_batch(searcher, drawn, want)


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
    out = []
    for d in sorted(oracle.texts)[:40]:
        toks = [t for t, _ in oracle.analyzer.tokens_with_positions(oracle.texts[d])]
        if len(toks) >= 3:
            out.append(PhraseQuery(tuple(toks[0:2])))
            out.append(PhraseQuery(tuple(toks[1:4])))
    return out[:24]


@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    from lucene_solr_spark.operators.searcher import IndexSearcher

    return IndexSearcher(pos_index8, spark_corpus, prune_min_postings=0)


def _top_phrase(vocab, real_phrases, twins):
    """A top-level phrase leaf at slop 0-2: a real phrase or its multiphrase
    twin, a repeated-term phrase, or a two-slot multiphrase with gapped slot
    positions (and alternatives in its second slot)."""
    heads = st.sampled_from(vocab[:4])
    repeated = st.builds(lambda t, n: PhraseQuery((t,) * n), heads, st.integers(2, 3))
    gapped = st.builds(
        lambda a, b, c, gap: MultiPhraseQuery(((a,), (b, c)), positions=(0, gap)),
        heads,
        heads,
        heads,
        st.integers(2, 3),
    )
    return st.builds(
        lambda q, slop: dataclasses.replace(q, slop=slop),
        st.one_of(st.sampled_from(real_phrases + twins), repeated, gapped),
        st.integers(0, 2),
    )


def test_random_phrase_trees_match_oracle(searcher, pos_searcher, oracle, vocab, real_phrases):
    """Phrase leaves (exact phrases from real documents) and their
    one-term-per-slot MultiPhraseQuery twins inside random boolean trees.
    The positional index answers every tree through its one phrase path;
    trees without a multiphrase leaf also run the corpus verify pass of the
    index without positions.  Each example also draws a top-level phrase
    leaf (:func:`_top_phrase`) with random ``exclude_doc_ids`` among its top
    15: the driver phrase path (``prune=True``), the distributed doc scan
    (``prune=False``) and, for a PhraseQuery, the verify pass must agree bit
    for bit, with the oracle at slop 0 and with the unexcluded
    ``prune=False`` ranking at slop > 0 (the oracle scores exact phrases
    only).  Then every drawn tree and top-level phrase runs as ONE batch on
    the positional searcher, each equal to its reference top 10."""
    twins = [MultiPhraseQuery(tuple((t,) for t in p.phrase_terms)) for p in real_phrases]
    leaf = st.one_of(st.sampled_from(real_phrases + twins), _leaf(vocab))
    drawn: dict = {}
    want: dict = {}

    @settings(
        max_examples=10,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(data=st.data())
    def check(data):
        q = data.draw(
            st.builds(
                lambda must, should, mm: BooleanQuery.build(must=must, should=should, minimum_should_match=mm),
                st.lists(leaf, max_size=2),
                st.lists(leaf, max_size=2),
                st.integers(min_value=0, max_value=2),
            )
        )
        expect = [(d, s) for d, s in oracle.search(q, 10)]
        assert pos_searcher.search(q, 10, prune=True).collect() == expect, q
        if not any(isinstance(c.query, MultiPhraseQuery) for c in q.clauses):
            assert searcher.search(q, 10, prune=True).collect() == expect, q
        want[f"q{len(drawn)}"] = expect
        drawn[f"q{len(drawn)}"] = q

        top = data.draw(_top_phrase(vocab, real_phrases, twins))
        ranked = pos_searcher.search(top, 20, prune=False).collect() if top.slop else oracle.search(top, 20)
        ex = sorted({ranked[i][0] for i in data.draw(st.lists(st.integers(0, 14), max_size=3)) if i < len(ranked)})
        expect = [(d, s) for d, s in ranked if d not in ex][:10]
        for prune in (True, False):
            assert pos_searcher.search(top, 10, prune=prune, exclude_doc_ids=ex).collect() == expect, (top, ex, prune)
        if isinstance(top, PhraseQuery):
            assert searcher.search(top, 10, exclude_doc_ids=ex).collect() == expect, (top, ex)
        want[f"q{len(drawn)}"] = ranked[:10]
        drawn[f"q{len(drawn)}"] = top

    check()
    _assert_batch(pos_searcher, drawn, want)
