"""Payload queries: PayloadScoreQuery and SpanPayloadCheckQuery.

Re-expression of the reference payloads module
(``reference lucene/queries/src/java/org/apache/lucene/queries/payloads/``):

- ``PayloadScoreQuery.java``: wraps a span query; every matched span's leaf
  payloads are decoded to float factors and folded by a ``PayloadFunction``
  (``Min/Max/Average/SumPayloadFunction.java``) into a per-doc payload score
  (``docScore``: avg divides by the count, min/max/sum return the fold, all
  return 1 when no payloads were seen; negative scores clamp to 0,
  ``PayloadScoreQuery.java:232-239``); the final score multiplies in the
  wrapped span score when ``includeSpanScore`` (``:259-264``).
- ``SpanPayloadCheckQuery.java``: keeps only spans whose collected payloads
  equal ``payloadToMatch``; the surviving spans feed the normal span scorer
  (freq = count of accepted spans for term spans).

Here the wrapped span is a term span (``SpanTermQuery``): each occurrence of
the term is one span, so the payload fold runs over the term's per-occurrence
payload stream — one pruned postings scan, per-doc segmented numpy reductions
(``np.{add,minimum,maximum}.reduceat`` — the left-fold order matches the
reference's position-ordered ``collectLeaf`` loop), no shuffle before the
top-k.  The payload factor is ``(float) payload_int`` (the
``PayloadDecoder.FLOAT_DECODER`` analog for our integer payload streams).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions.codec import unpack_payloads
from .searcher import _BLOCK_COLS, _unpack_postings

PAYLOAD_FUNCTIONS = ("min", "max", "avg", "sum")

__all__ = ["PAYLOAD_FUNCTIONS", "payload_score_topk", "payload_check_topk"]


def _fold_payloads(factors: np.ndarray, tfs: np.ndarray, function: str) -> np.ndarray:
    """Per-posting fold of the per-occurrence float32 factors — the
    PayloadFunction currentScore/docScore pair, vectorized."""
    occ_starts = (np.cumsum(tfs) - tfs).astype(np.int64)
    f32 = factors.astype(np.float32)
    if function == "sum":
        return np.add.reduceat(f32, occ_starts).astype(np.float32)
    if function == "min":
        return np.minimum.reduceat(f32, occ_starts).astype(np.float32)
    if function == "max":
        return np.maximum.reduceat(f32, occ_starts).astype(np.float32)
    if function == "avg":
        s = np.add.reduceat(f32, occ_starts).astype(np.float32)
        return (s / tfs.astype(np.float32)).astype(np.float32)
    raise ValueError(f"unknown payload function {function!r} (expected one of {PAYLOAD_FUNCTIONS})")


def _term_blocks(searcher, term: str) -> Optional[DataFrame]:
    if searcher.index.config.payload_mode is None:
        raise ValueError("index was built without payloads (IndexConfig.payload_mode)")
    stats = searcher._term_stats({term})
    if term not in stats:
        return None
    return searcher.index.postings.filter(F.col("term") == term).select(*_BLOCK_COLS, "payloads")


def payload_score_topk(
    searcher,
    term: str,
    function: str = "avg",
    include_span_score: bool = True,
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """Top-k ``(doc_id, score)`` of ``PayloadScoreQuery(SpanTermQuery(term),
    function, includeSpanScore)``.

    For a term span the wrapped span score is the term's score under the
    searcher's similarity (each span contributes sloppyFreq 1.0, so the
    accumulated freq equals tf — ``spans/SpanScorer.java``
    setFreqCurrentDoc), making the ``includeSpanScore`` product exact here.
    """
    blocks = _term_blocks(searcher, term)
    if blocks is None:
        return searcher._empty()
    scorer = searcher._sim_scorer(boost, [searcher._term_stats({term})[term]])
    codec = searcher.index.config.codec

    def fn(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            _, doc_ids, tfs, norms = _unpack_postings(pdf, codec)
            factors = unpack_payloads(list(pdf["payloads"]))
            pay = _fold_payloads(factors, tfs, function)
            pay = np.maximum(pay, np.float32(0.0))  # negative docScore clamps to 0
            if include_span_score:
                score = (scorer(tfs, norms) * pay).astype(np.float32)
            else:
                score = pay
            yield pd.DataFrame({"doc_id": doc_ids, "score": score})

    scored = blocks.mapInPandas(fn, schema="doc_id bigint, score float")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def payload_check_topk(
    searcher,
    term: str,
    payloads_to_match: Sequence[int],
    k: int = 10,
    boost: float = 1.0,
) -> DataFrame:
    """Top-k of ``SpanPayloadCheckQuery(SpanTermQuery(term), [payload])``:
    only occurrences whose payload equals the target survive; the surviving
    count is the span freq fed to the similarity's span scorer (term
    statistics stay those of the unfiltered term — SpanWeight binds
    TermStates before payload filtering)."""
    if len(payloads_to_match) != 1:
        raise ValueError("term spans collect exactly one payload per span")
    target = int(payloads_to_match[0])
    blocks = _term_blocks(searcher, term)
    if blocks is None:
        return searcher._empty()
    scorer = searcher._sim_scorer(boost, [searcher._term_stats({term})[term]])
    codec = searcher.index.config.codec

    def fn(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            _, doc_ids, tfs, norms = _unpack_postings(pdf, codec)
            payloads = unpack_payloads(list(pdf["payloads"]))
            occ_starts = (np.cumsum(tfs) - tfs).astype(np.int64)
            accepted = np.add.reduceat((payloads == target).astype(np.int64), occ_starts)
            keep = accepted > 0
            if not keep.any():
                continue
            score = scorer(accepted[keep], norms[keep])
            yield pd.DataFrame({"doc_id": doc_ids[keep], "score": score})

    scored = blocks.mapInPandas(fn, schema="doc_id bigint, score float")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
