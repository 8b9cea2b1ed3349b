"""PayloadScoreQuery / SpanPayloadCheckQuery parity tests.

Brute-force float32 reference of
``reference lucene/queries/src/java/org/apache/lucene/queries/payloads/
PayloadScoreQuery.java`` (+ Min/Max/Average/SumPayloadFunction) and
``SpanPayloadCheckQuery.java`` over term spans with pos&7 payloads, compared
bit-for-bit against the engine, plus a merge round-trip of the payload
stream.
"""

import re

import numpy as np
import pytest

from lucene_solr_spark.functions import bm25
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.operators.payloads import payload_check_topk, payload_score_topk
from lucene_solr_spark.operators.searcher import IndexSearcher


def _tok(s):
    return re.findall(r"[a-z0-9]+", s.lower())


@pytest.fixture(scope="module")
def payload_searcher(payload_index8, spark_corpus):
    return IndexSearcher(payload_index8, spark_corpus)


@pytest.fixture(scope="module")
def corpus_pdf(spark_corpus):
    return spark_corpus.select("doc_id", "text").orderBy("doc_id").toPandas()


def brute_payload_score(pdf, term, function, include_span_score, k):
    texts = pdf["text"].tolist()
    toks = [_tok(t) for t in texts]
    n = len(toks)
    dl = np.array([len(t) for t in toks], dtype=np.int64)
    tf = np.array([t.count(term) for t in toks], dtype=np.int64)
    df_t = int((tf > 0).sum())
    weight = np.float32(np.float32(1.0) * bm25.idf(df_t, n))
    avgdl = bm25.avg_field_length(int(dl.sum()), n)
    cache = bm25.norm_cache(avgdl)
    out = []
    for i in range(n):
        if tf[i] == 0:
            continue
        factors = [np.float32(p & 7) for p, t in enumerate(toks[i]) if t == term]
        acc = np.float32(0.0)
        for j, f in enumerate(factors):
            if function == "sum" or function == "avg":
                acc = np.float32(acc + f)
            elif function == "min":
                acc = f if j == 0 else np.float32(min(acc, f))
            elif function == "max":
                acc = f if j == 0 else np.float32(max(acc, f))
        pay = np.float32(acc / np.float32(len(factors))) if function == "avg" else acc
        pay = max(np.float32(0.0), pay)
        if include_span_score:
            span = bm25.score_tf_norm(tf[i : i + 1], int_to_byte4(dl[i : i + 1]), weight, cache)[0]
            score = np.float32(np.float32(span) * pay)
        else:
            score = pay
        out.append((int(pdf["doc_id"].iloc[i]), np.float32(score)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


TERM = "ge0"  # hot fixture term: tf > 1 in many docs, so folds see >1 payload


@pytest.mark.parametrize("function", ["min", "max", "avg", "sum"])
def test_payload_score_functions(payload_searcher, corpus_pdf, function):
    got = payload_score_topk(payload_searcher, TERM, function=function, k=10).collect()
    expected = brute_payload_score(corpus_pdf, TERM, function, True, 10)
    assert [(r["doc_id"], np.float32(r["score"])) for r in got] == expected


def test_payload_score_payload_only(payload_searcher, corpus_pdf):
    got = payload_score_topk(payload_searcher, TERM, function="sum", include_span_score=False, k=10).collect()
    expected = brute_payload_score(corpus_pdf, TERM, "sum", False, 10)
    assert [(r["doc_id"], np.float32(r["score"])) for r in got] == expected


def test_payload_check(payload_searcher, corpus_pdf):
    target = 3
    got = payload_check_topk(payload_searcher, TERM, [target], k=10).collect()

    texts = corpus_pdf["text"].tolist()
    toks = [_tok(t) for t in texts]
    n = len(toks)
    dl = np.array([len(t) for t in toks], dtype=np.int64)
    tf_all = np.array([t.count(TERM) for t in toks], dtype=np.int64)
    acc = np.array(
        [sum(1 for p, t in enumerate(ts) if t == TERM and (p & 7) == target) for ts in toks],
        dtype=np.int64,
    )
    df_t = int((tf_all > 0).sum())
    weight = np.float32(bm25.idf(df_t, n))
    cache = bm25.norm_cache(bm25.avg_field_length(int(dl.sum()), n))
    score = bm25.score_tf_norm(acc, int_to_byte4(dl), weight, cache)
    expected = [
        (int(corpus_pdf["doc_id"].iloc[i]), np.float32(score[i]))
        for i in sorted(np.flatnonzero(acc > 0), key=lambda i: (-score[i], i))
    ][:10]
    assert [(r["doc_id"], np.float32(r["score"])) for r in got] == expected
    assert len(got) > 0


def test_payloads_survive_merge(payload_searcher, spark_corpus):
    from lucene_solr_spark.operators.merge import force_merge

    before = payload_score_topk(payload_searcher, TERM, function="sum", k=10).collect()
    merged = force_merge(payload_searcher.index)
    s2 = IndexSearcher(merged, spark_corpus)
    after = payload_score_topk(s2, TERM, function="sum", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in before] == [(r["doc_id"], r["score"]) for r in after]


def test_unbuilt_payloads_rejected(searcher):
    with pytest.raises(ValueError):
        payload_score_topk(searcher, TERM)


def test_payload_no_match_is_a_local_frame(spark, payload_searcher):
    """A term absent from the index answers with a driver-built empty frame:
    no Spark job at collect, a LocalTableScan in the plan."""
    from test_batch_search import _jobs

    term = "zzzznotaterm"
    payload_searcher._term_stats({term})  # the stats lookup is its own job
    assert _jobs(spark.sparkContext, lambda: payload_score_topk(payload_searcher, term).collect()) == 0
    plan = payload_check_topk(payload_searcher, term, [3])._jdf.queryExecution().executedPlan()
    assert "LocalTableScan" in plan.toString()
