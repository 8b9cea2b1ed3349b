"""Nested interval-source algebra vs exhaustive per-level enumeration.

Control: at each level, enumerate EVERY combination of the subs' (already
minimal) intervals permitted by the combinator, then keep the candidates no
other candidate is strictly contained in — the minimizing-iterator contract.
The production code's greedy chain / pointer sweep must emit exactly that
set (and the same gap values for term operands)."""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_spark.functions.interval_sources import (
    IOr,
    IOrdered,
    IPhrase,
    ITerm,
    IUnordered,
    evaluate,
    min_extent,
    minimize,
    source_freq,
    source_terms,
)

# ------------------------------------------------------------ brute control


def _brute(src, positions):
    if isinstance(src, ITerm):
        return sorted((p, p) for p in positions.get(src.term, ()))
    subs = [_brute(s, positions) for s in src.subs]
    if isinstance(src, IOr):
        return _min_spans({iv for sub in subs for iv in sub})
    if any(not sub for sub in subs):
        return []
    cands = set()
    if isinstance(src, IPhrase):
        for combo in itertools.product(*subs):
            if all(b[0] == a[1] + 1 for a, b in zip(combo, combo[1:])):
                cands.add((combo[0][0], combo[-1][1]))
    elif isinstance(src, IOrdered):
        for combo in itertools.product(*subs):
            if all(b[0] > a[1] for a, b in zip(combo, combo[1:])):
                cands.add((combo[0][0], combo[-1][1]))
    elif isinstance(src, IUnordered):
        for combo in itertools.product(*subs):
            cands.add((min(iv[0] for iv in combo), max(iv[1] for iv in combo)))
    return _min_spans(cands)


def _min_spans(cands):
    out = []
    for s, e in cands:
        if not any((s2 >= s and e2 <= e and (s2, e2) != (s, e)) for s2, e2 in cands):
            out.append((s, e))
    return sorted(out)


# --------------------------------------------------------------- generators

_terms = ["a", "b", "c", "d"]


def _positions(draw):
    pos = {}
    taken = set()
    for t in _terms:
        pl = draw(st.lists(st.integers(0, 18), min_size=0, max_size=4))
        pl = sorted(set(pl) - taken)
        taken.update(pl)
        pos[t] = pl
    return pos


def _source(depth=2):
    leaf = st.sampled_from([ITerm(t) for t in _terms])
    if depth == 0:
        return leaf
    sub = _source(depth - 1)
    return st.one_of(
        leaf,
        st.lists(sub, min_size=2, max_size=3).map(lambda s: IOr(tuple(s))),
        st.lists(sub, min_size=2, max_size=2).map(lambda s: IOrdered(tuple(s))),
        st.lists(sub, min_size=2, max_size=2).map(lambda s: IPhrase(tuple(s))),
        st.lists(sub, min_size=2, max_size=2).map(lambda s: IUnordered(tuple(s))),
    )


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_nested_sources_match_brute(data):
    positions = _positions(data.draw)
    src = data.draw(_source())
    got = [(s, e) for s, e, _ in evaluate(src, positions)]
    assert got == _brute(src, positions), (src, positions)


@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_ordered_gaps_and_maxgaps_filter(data):
    positions = _positions(data.draw)
    subs = (ITerm("a"), ITerm("b"), ITerm("c"))
    full = evaluate(IOrdered(subs), positions)
    for s, e, g in full:
        assert g == e - s - 2  # width-1 operands telescope
    mg = data.draw(st.integers(0, 4))
    got = evaluate(IOrdered(subs, max_gaps=mg), positions)
    assert got == [iv for iv in full if iv[2] <= mg]


def test_min_extent():
    assert min_extent(ITerm("a")) == 1
    assert min_extent(IOr((ITerm("a"), IPhrase((ITerm("b"), ITerm("c")))))) == 1
    assert min_extent(IOrdered((ITerm("a"), IPhrase((ITerm("b"), ITerm("c")))))) == 3


def test_phrase_requires_adjacency():
    pos = {"a": [0, 5], "b": [1, 7]}
    assert [(s, e) for s, e, _ in evaluate(IPhrase((ITerm("a"), ITerm("b"))), pos)] == [(0, 1)]


def test_or_minimizes_across_subs():
    pos = {"a": [3], "b": [2], "c": [4]}
    # phrase(b,a) = [2,3]; term c = [4,4]; or keeps both; adding term a [3,3]
    # suppresses the containing [2,3]
    src = IOr((IPhrase((ITerm("b"), ITerm("a"))), ITerm("c"), ITerm("a")))
    assert [(s, e) for s, e, _ in evaluate(src, pos)] == [(3, 3), (4, 4)]


def test_source_freq_f32_order():
    pos = {"a": [0, 10], "b": [1, 12]}
    src = IOrdered((ITerm("a"), ITerm("b")))
    ivs = evaluate(src, pos)
    want = np.float32(0.0)
    for s, e, _ in ivs:
        want = np.float32(want + np.float32(1.0) / np.float32(max(e - s + 1 - 2 + 1, 1)))
    assert source_freq(src, pos) == want


def test_source_terms():
    src = IOr((IPhrase((ITerm("b"), ITerm("a"))), ITerm("c")))
    assert source_terms(src) == {"a", "b", "c"}


# ------------------------------------------------------- distributed path
@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    from lucene_solr_spark.operators.searcher import IndexSearcher

    return IndexSearcher(pos_index8, spark_corpus)


def test_distributed_nested_source_matches_local(pos_searcher, fixture_corpus_pdf, oracle):
    from lucene_solr_spark.functions.interval_sources import source_freq_quantized

    src = IOrdered((IOr((ITerm("vecodu"), ITerm("numa"))), ITerm("ge0")))
    got = {
        r["doc_id"]: r["freq_q"]
        for r in pos_searcher.interval_source_query(src, k=100000, output="freq_q").collect()
    }
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    want = {}
    for d, text in enumerate(pdf["text"]):
        positions = {}
        for t, p in oracle.analyzer.tokens_with_positions(text):
            positions.setdefault(t, []).append(p)
        v = source_freq_quantized(src, positions)
        if v:
            want[d] = v
    assert got == want and got


def test_intervals_output_matches_reference_golden(spark):
    """The engine's minimal intervals over the reference interval-test
    corpus must equal the reference's own checkIntervals literals
    (TestIntervals.java, transcribed in span_golden_data.GOLDEN_INTERVALS)
    — the pytest pin behind the ft_golden_intervals contract row."""
    import pandas as pd
    from pyspark.sql import functions as F

    from lucene_solr_spark.functions.analysis import simple_analyzer
    from lucene_solr_spark.functions.span_golden_data import (
        GOLDEN_INTERVALS,
        INTERVALS_FIELD1,
        INTERVALS_FIELD2,
    )
    from lucene_solr_spark.operators.indexer import IndexConfig, build_index
    from lucene_solr_spark.operators.searcher import IndexSearcher

    def searcher(texts):
        corpus = (
            spark.createDataFrame(
                pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
            )
            .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
            .repartition(2)
        )
        idx = build_index(
            corpus,
            IndexConfig(analyzer=simple_analyzer(), n_partitions=2, index_positions=True),
        )
        return IndexSearcher(idx, corpus)

    s1, s2 = searcher(INTERVALS_FIELD1), searcher(INTERVALS_FIELD2)
    cases = {
        "term_porridge": (s1, ITerm("porridge")),
        "ordered_pease_hot": (s1, IOrdered((ITerm("pease"), ITerm("hot")))),
        "phrase_pease_porridge": (s1, IPhrase((ITerm("pease"), ITerm("porridge")))),
        "unordered_pease_hot": (s1, IUnordered((ITerm("pease"), ITerm("hot")))),
        "or_pease_hot_notmatching": (
            s1, IOr((ITerm("pease"), ITerm("hot"), ITerm("notmatching")))),
        "nested_unordered_or": (
            s1, IUnordered((ITerm("pease"), ITerm("porridge"),
                            IOr((ITerm("hot"), ITerm("cold")))))),
        "combo_disjunction_f2": (
            s2, IOrdered((IOr((ITerm("alph"), ITerm("sacred"))),
                          ITerm("measureless")))),
    }
    for name, (s, src) in cases.items():
        got = sorted(
            (r["doc_id"], r["start"], r["end"])
            for r in s.interval_source_query(src, output="intervals").collect()
        )
        assert got == sorted(GOLDEN_INTERVALS[name]), name
