"""Seeded inputs of the benchmark: the staged transcripts corpus and the
query streams.

Nothing here reads the engine's index. Query terms come from the corpus
generator's own vocabulary, picked by Zipf rank: the generator draws word
``vocab[r]`` with probability ~ 1 / (r + 1) ** 1.07, so low ranks are the
head of the term distribution and high ranks its tail.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from lucene_solr_spark.functions.analysis import standard_analyzer
from lucene_solr_spark.plans.query import BooleanQuery, PhraseQuery, Query, TermQuery
from lucene_solr_spark.sources.transcripts import _vocab, generate_transcripts

# Zipf-rank strata of the generator's vocabulary (ranks are 0-based)
STRATA = {"head": (0, 20), "mid": (100, 1000), "tail": (5000, 30000)}
SEARCH_SHAPES = ("term", "or3", "and2", "phrase", "mustnot")
BATCH_SHAPES = ("term", "or2", "or3", "and2", "mustnot")


def stage_corpus(n_turns: int, seed: int, n_files: int, path: str) -> pd.DataFrame:
    """Generate exactly ``n_turns`` turns (the generator's leading
    conversations; the last may be cut short) and write them as ``n_files``
    parquet files, each a contiguous (conv_id, turn_idx)-sorted range of
    whole conversations: the sorted-table layout that
    ``build_index_sorted_source`` reads. Returns the corpus in doc-id order.

    The turn count is fixed rather than the conversation count, because the
    number of turns per conversation is drawn from the seed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_convs = max(1, n_turns // 12)
    pdf = generate_transcripts(n_convs, seed=seed)
    while len(pdf) < n_turns:
        n_convs *= 2
        pdf = generate_transcripts(n_convs, seed=seed)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable").iloc[:n_turns].reset_index(drop=True)
    os.makedirs(path, exist_ok=True)
    conv_starts = np.flatnonzero(pdf["turn_idx"].to_numpy() == 0)
    cuts = [conv_starts[i * len(conv_starts) // n_files] for i in range(n_files)] + [len(pdf)]
    for i in range(n_files):
        part = pdf.iloc[cuts[i] : cuts[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), f"{path}/part-{i:05d}.parquet")
    return pdf


class QueryGen:
    """Seeded query generator over the corpus generator's vocabulary."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = _vocab()
        self.analyzer = standard_analyzer()
        # a word's frequency is that of its lowest rank: short words repeat
        first: dict = {}
        for r, w in enumerate(self.vocab):
            first.setdefault(w, r)
        self.first_rank = first

    def terms(self, stratum: str, n: int, taken: set) -> list:
        """``n`` distinct index terms drawn uniformly from a Zipf-rank
        stratum, as the analyzer turns the words into query terms. Skipped:
        words first seen at a lower rank, words that do not analyze to
        exactly one term, and terms in ``taken``."""
        lo, hi = STRATA[stratum]
        out: list = []
        for r in self.rng.permutation(np.arange(lo, hi)):
            if self.first_rank[self.vocab[r]] != r:
                continue
            toks = self.analyzer.tokens(self.vocab[r])
            if len(toks) == 1 and toks[0] not in taken:
                taken.add(toks[0])
                out.append(toks[0])
                if len(out) == n:
                    return out
        raise ValueError(f"stratum {stratum} has fewer than {n} usable terms")

    def query(self, shape: str, stratum: str) -> Query:
        """One query of ``shape`` led by terms of ``stratum``; two- and
        three-term shapes pair the lead term with head terms so that they
        match documents."""
        taken: set = set()
        lead = self.terms(stratum, 3, taken)
        head = self.terms("head", 2, taken)
        t = [TermQuery(x) for x in lead]
        h = [TermQuery(x) for x in head]
        if shape == "term":
            return t[0]
        if shape == "or2":
            return BooleanQuery.build(should=t[:2])
        if shape == "or3":
            return BooleanQuery.build(should=t[:3])
        if shape == "and2":
            return BooleanQuery.build(must=[t[0], h[0]])
        if shape == "phrase":
            return PhraseQuery((lead[0], head[0]))
        if shape == "mustnot":
            return BooleanQuery.build(must=[t[0]], must_not=[h[1]])
        raise ValueError(shape)

    def cells(self, shapes) -> list:
        """One fresh ``(shape, stratum, Query)`` per (shape, stratum) cell, in
        a seeded order."""
        cells = [(shape, stratum) for stratum in STRATA for shape in shapes]
        return [(*cells[i], self.query(*cells[i])) for i in self.rng.permutation(len(cells))]


def search_passes(seed: int):
    """The search workload's stream, pass by pass (an endless generator):
    each pass holds one fresh query per (shape, stratum) cell, so every pass
    issues the same mix while terms keep changing, as in a Zipf stream."""
    gen = QueryGen(np.random.default_rng([seed, 1]))
    while True:
        yield gen.cells(SEARCH_SHAPES)


def batch_calls(seed: int, size: int = 64):
    """The batch_search calls of the traced probes (an endless generator):
    each call maps ``size`` query ids to fresh flat boolean queries, cycling
    through the (shape, stratum) cells."""
    gen = QueryGen(np.random.default_rng([seed, 2]))
    n = 0
    while True:
        queries: dict = {}
        while len(queries) < size:
            for shape, stratum, q in gen.cells(BATCH_SHAPES)[: size - len(queries)]:
                queries[f"q{n}-{len(queries)}"] = (shape, stratum, q)
        n += 1
        yield queries


def probe_terms() -> tuple:
    """Terms of the traced run's probes: the words at Zipf ranks 0, 1 and 2
    (head) and at rank 100 (mid)."""
    vocab, analyzer = _vocab(), standard_analyzer()
    return tuple(analyzer.tokens(vocab[r])[0] for r in (0, 1, 2, 100))
