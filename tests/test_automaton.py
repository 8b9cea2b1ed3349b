"""TermAutomatonQuery tests: determinization, the batched DFA run, and
end-to-end float32 rank parity against a brute-force NFA control."""

import numpy as np
import pytest

from lucene_solr_spark.functions import bm25
from lucene_solr_spark.operators.automaton import automaton_freqs, determinize
from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import TermAutomatonQuery


def _brute_freq(tokens, q: TermAutomatonQuery) -> int:
    """#{(i, j): automaton accepts tokens[i..j]} — one count per (start, end)
    pair with an accepting run (the DFA accept flag is per-state, so parallel
    accepting NFA paths for the same (i, j) count once)."""
    trans: dict = {}
    for s, t, d in q.transitions:
        trans.setdefault((s, t), set()).add(d)
    freq = 0
    for i in range(len(tokens)):
        states = {0}
        for j in range(i, len(tokens)):
            nxt: set = set()
            for s in states:
                nxt |= trans.get((s, tokens[j]), set())
            if not nxt:
                break
            if nxt & q.accepts:
                freq += 1
            states = nxt
    return freq


def test_from_phrases_and_determinize():
    q = TermAutomatonQuery.from_phrases(("hash", "join"), ("sort", "merge", "join"))
    assert q.terms() == {"hash", "join", "sort", "merge"}
    delta, accept, alphabet = determinize(q.n_states, q.transitions, q.accepts)
    ti = {t: i for i, t in enumerate(alphabet)}
    s = delta[0, ti["hash"]]
    assert s >= 0 and not accept[s]
    s2 = delta[s, ti["join"]]
    assert s2 >= 0 and accept[s2]
    s = delta[0, ti["sort"]]
    s = delta[s, ti["merge"]]
    s = delta[s, ti["join"]]
    assert s >= 0 and accept[s]
    # dead arcs
    assert delta[0, ti["join"]] == -1 or not accept[delta[0, ti["join"]]]


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_automaton_freqs_matches_bruteforce(seed):
    rng = np.random.default_rng(seed)
    # automaton with shared prefixes, a loop, and overlapping alternatives
    q = TermAutomatonQuery(
        n_states=4,
        transitions=(
            (0, "a", 1),
            (0, "b", 1),
            (1, "a", 2),
            (2, "b", 3),
            (2, "a", 2),  # loop: 'a'('a')* 'b'
            (0, "c", 3),
        ),
        accepts=frozenset({2, 3}),
    )
    delta, accept, alphabet = determinize(q.n_states, q.transitions, q.accepts)
    ti = {t: i for i, t in enumerate(alphabet)}
    vocab = ["a", "b", "c", "x", "y"]  # x, y: filler terms outside the automaton
    doc_rows, pos_rows, tok_rows, expected = [], [], [], {}
    for doc_id in range(40):
        toks = [vocab[i] for i in rng.integers(0, len(vocab), size=int(rng.integers(1, 30)))]
        f = _brute_freq(toks, q)
        if f:
            expected[doc_id] = f
        for p, t in enumerate(toks):
            if t in ti:  # occurrence rows exist only for the automaton's terms
                doc_rows.append(doc_id)
                pos_rows.append(p)
                tok_rows.append(ti[t])
    docs, freqs, first = automaton_freqs(
        np.asarray(doc_rows, np.int64), np.asarray(pos_rows, np.int64),
        np.asarray(tok_rows, np.int64), delta, accept,
    )
    assert dict(zip(docs.tolist(), freqs.tolist())) == expected


@pytest.fixture(scope="module")
def pos_searcher(pos_index8, spark_corpus):
    return IndexSearcher(pos_index8, spark_corpus)


def test_term_automaton_end_to_end(pos_searcher, oracle):
    q = TermAutomatonQuery.from_phrases(("ge0", "vecodu"), ("vecodu", "ge0", "numa"))
    # brute-force control over the oracle's analyzed docs
    present = sorted(t for t in q.terms() if t in oracle.postings)
    idf_sum = np.float32(sum(float(bm25.idf(len(oracle.postings[t]), oracle.doc_count)) for t in present))
    w = np.float32(np.float32(1.0) * idf_sum)
    exp = []
    for doc_id, text in oracle.texts.items():
        toks = [t for t, _ in oracle.analyzer.tokens_with_positions(text)]
        f = _brute_freq(toks, q)
        if f:
            norm = float(oracle.cache[oracle.norm[doc_id]])
            t32 = np.float32(float(f) / (float(f) + norm))
            exp.append((doc_id, float(np.float32(w * t32))))
    exp.sort(key=lambda x: (-x[1], x[0]))
    got = [(d, float(np.float32(s))) for d, s in pos_searcher.search(q, 10).collect()]
    assert got == exp[:10]
    assert len(got) > 0  # the fixture corpus must actually exercise the query


def test_term_automaton_requires_positions(searcher):
    q = TermAutomatonQuery.from_phrases(("the", "and"))
    with pytest.raises(ValueError, match="index_positions"):
        searcher.search(q, 5).collect()
