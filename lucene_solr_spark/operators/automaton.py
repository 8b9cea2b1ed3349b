"""TermAutomatonQuery evaluation: token-graph matching over positional postings.

Re-expression of the reference sandbox operator
(``reference lucene/sandbox/src/java/org/apache/lucene/search/
TermAutomatonQuery.java`` + ``TermAutomatonScorer.java``):

- the query is an automaton whose arcs are labeled with index terms; a
  document matches where tokens at CONSECUTIVE positions spell an accepted
  string ("this token always transitions from state=pos to state=pos+1",
  ``TermAutomatonScorer.java:241-244``);
- ``freq`` counts every accept-state arrival across all start positions —
  the scorer's ``PosState`` keeps duplicate states (one per live run,
  ``TermAutomatonScorer.java:380-385``) and bumps ``freq`` on each accepting
  step (``:305-327``), so freq = #{(i, j) : automaton accepts tokens[i..j]};
- the query is determinized before running (``createWeight`` calls
  ``Operations.determinize``, ``TermAutomatonQuery.java:190-205``);
- the freq is scored by the searcher's similarity over the stats of the
  automaton's distinct present terms (``TermAutomatonWeight`` hands every
  ``idToTerm`` TermStatistics to ``similarity.scorer``, ``:346-361``; under
  BM25 the multi-stats idf is a double accumulation of float32 per-term
  idfs, ``BM25Similarity.java:172-181``).

Spark plan: one ``IndexSearcher._doc_scan`` of the automaton's terms (the
only shuffle is on ``doc_id``, over occurrence rows of the query terms only,
never the corpus) → a batched DFA run per Arrow batch of whole documents.
The run is vectorized across documents: occurrences split
into maximal consecutive-position segments, and one numpy step per *offset
within segment* advances every live run of every segment at once (fancy
indexing into the transition table) — iterations = max segment length, not
total occurrences.  Scores are final per partition (each doc's occurrences
are co-located), so the output feeds the global top-k directly.

At 100 TB the shuffle volume is bounded by the query terms' occurrence count,
the DFA tables are closure-captured constants (a few hundred bytes), and no
state crosses partitions.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from ..plans.query import TermAutomatonQuery

if TYPE_CHECKING:  # pragma: no cover
    from .searcher import IndexSearcher

__all__ = ["determinize", "automaton_freqs", "eval_term_automaton"]


def determinize(n_states: int, transitions, accepts):
    """Subset construction over the term alphabet (the
    ``Operations.determinize`` step of ``createWeight``).

    Returns ``(delta, accept, alphabet)``: ``delta[state, term_code]`` is the
    next DFA state or -1 (dead); ``accept[state]`` flags accepting states;
    ``alphabet`` is the sorted distinct term list (term_code = its index).
    DFA state 0 is the start state ({NFA state 0}).
    """
    alphabet = sorted({t for _, t, _ in transitions})
    tindex = {t: i for i, t in enumerate(alphabet)}
    nfa: dict = {}
    for s, t, d in transitions:
        nfa.setdefault(s, {}).setdefault(tindex[t], set()).add(d)
    accepts = frozenset(accepts)

    start = frozenset({0})
    ids = {start: 0}
    rows = {0: {}}
    accept_list = [bool(start & accepts)]
    todo = [start]
    while todo:
        cur = todo.pop()
        i = ids[cur]
        for c in range(len(alphabet)):
            dst: set = set()
            for s in cur:
                dst |= nfa.get(s, {}).get(c, set())
            if not dst:
                continue
            fz = frozenset(dst)
            if fz not in ids:
                ids[fz] = len(ids)
                rows[ids[fz]] = {}
                accept_list.append(bool(fz & accepts))
                todo.append(fz)
            rows[i][c] = ids[fz]

    delta = np.full((len(ids), max(len(alphabet), 1)), -1, dtype=np.int32)
    for i, row in rows.items():
        for c, j in row.items():
            delta[i, c] = j
    return delta, np.asarray(accept_list, dtype=bool), alphabet


def automaton_freqs(
    doc_ids: np.ndarray, positions: np.ndarray, tok: np.ndarray, delta: np.ndarray, accept: np.ndarray
):
    """The batched DFA run: per-doc accept counts over occurrence rows sorted
    by (doc_id, pos).

    ``tok`` holds term codes (columns of ``delta``).  Occurrences split into
    maximal consecutive-position segments per doc; live runs (one per start
    position whose prefix is still alive — the ``PosState`` multiset) advance
    one offset per iteration, all segments at once.  Returns
    ``(docs, freqs)`` over docs with freq > 0 plus the row index of each
    doc's first occurrence (for norm lookup).
    """
    n = doc_ids.size
    if n == 0:
        e = np.empty(0, np.int64)
        return e, e, e
    brk = np.empty(n, dtype=bool)
    brk[0] = True
    brk[1:] = (doc_ids[1:] != doc_ids[:-1]) | (positions[1:] != positions[:-1] + 1)
    seg_start = np.flatnonzero(brk)
    seg_len = np.diff(np.append(seg_start, n))
    n_seg = seg_start.size
    freq_seg = np.zeros(n_seg, dtype=np.int64)
    init_row = delta[0]

    run_seg = np.empty(0, dtype=np.int64)
    run_state = np.empty(0, dtype=np.int64)
    for t in range(int(seg_len.max())):
        segs_t = np.flatnonzero(seg_len > t)
        tok_t = tok[seg_start[segs_t] + t]
        if run_seg.size:
            # runs of segments that ended die; survivors step on their
            # segment's token at offset t (segs_t is sorted -> searchsorted)
            keep = seg_len[run_seg] > t
            run_seg, run_state = run_seg[keep], run_state[keep]
            rt = tok_t[np.searchsorted(segs_t, run_seg)]
            run_state = delta[run_state, rt].astype(np.int64)
            alive = run_state >= 0
            run_seg, run_state = run_seg[alive], run_state[alive]
            hit = accept[run_state]
            np.add.at(freq_seg, run_seg[hit], 1)
        # a new run starts at every occurrence (step(0, termID) per token,
        # TermAutomatonScorer.java:319-327)
        ns = init_row[tok_t].astype(np.int64)
        nalive = ns >= 0
        new_seg, new_state = segs_t[nalive], ns[nalive]
        hit = accept[new_state]
        np.add.at(freq_seg, new_seg[hit], 1)
        run_seg = np.concatenate((run_seg, new_seg))
        run_state = np.concatenate((run_state, new_state))

    doc_of_seg = doc_ids[seg_start]
    docs_u, inv = np.unique(doc_of_seg, return_inverse=True)
    freq_doc = np.zeros(docs_u.size, dtype=np.int64)
    np.add.at(freq_doc, inv, freq_seg)
    first_row = np.searchsorted(doc_ids, docs_u)  # doc_ids sorted
    keep = freq_doc > 0
    return docs_u[keep], freq_doc[keep], first_row[keep]


def eval_term_automaton(searcher: "IndexSearcher", q: TermAutomatonQuery, boost: float, stats: dict) -> DataFrame:
    """(doc_id, score) for a TermAutomatonQuery — plugged into
    ``IndexSearcher._evaluate``."""
    if not searcher.index.config.index_positions:
        raise ValueError("TermAutomatonQuery needs an index built with index_positions=True")
    delta, accept, alphabet = determinize(q.n_states, q.transitions, q.accepts)
    present = [t for t in alphabet if t in stats]
    if not present:
        return searcher._empty()
    scorer = searcher._sim_scorer(boost * q.boost, [stats[t] for t in present])
    tmap = {t: i for i, t in enumerate(alphabet)}

    def run(terms, doc_ids, norms, pos):
        codes, uniq = pd.factorize(terms)
        lut = np.asarray([tmap[u] for u in uniq], dtype=np.int64)
        docs_u, freq, first_row = automaton_freqs(doc_ids, pos, lut[codes], delta, accept)
        return pd.DataFrame({"doc_id": docs_u, "score": scorer(freq, norms[first_row])})

    return searcher._doc_scan(present, run, "doc_id bigint, score float")
