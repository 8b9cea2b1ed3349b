"""Positional postings (DOCS_AND_FREQS_AND_POSITIONS) tests.

The positional phrase path must equal the two-phase (re-analysis) path
exactly, and positions must survive the salted merge.
"""

import numpy as np
import pytest

from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import PhraseQuery, TermQuery


def _topk(searcher, q, k=10):
    return [(d, float(np.float32(s))) for d, s in searcher.search(q, k).collect()]


@pytest.fixture(scope="module")
def pos_index(pos_index8):
    return pos_index8


def test_positional_phrase_equals_two_phase(spark_corpus, pos_index, searcher):
    s_pos = IndexSearcher(pos_index, spark_corpus)
    # the fixture's head terms: hundreds of two-term and 15 three-term matches
    for phrase in [("ge0", "vecodu"), ("vecodu", "ge0", "numa")]:
        q = PhraseQuery(phrase)
        assert _topk(s_pos, q) == _topk(searcher, q), phrase


def test_positional_phrase_without_corpus(pos_index, searcher):
    # the positional index answers phrases with NO stored-field access
    s_pos = IndexSearcher(pos_index, corpus=None)
    q = PhraseQuery(("ge0", "vecodu"))
    assert _topk(s_pos, q) == _topk(searcher, q)


def test_sloppy_phrase_without_corpus(spark_corpus, pos_index, index8, searcher):
    """A sloppy phrase on a positional index needs no corpus: it returns the
    float32 top-k of the same query with a corpus, and of the verify pass
    over an index without positions; only that index still needs one."""
    q = PhraseQuery(("ge0", "vecodu"), slop=3)
    got = _topk(IndexSearcher(pos_index, corpus=None), q)
    assert got and got == _topk(IndexSearcher(pos_index, spark_corpus), q) == _topk(searcher, q)
    with pytest.raises(ValueError, match="without positions"):
        IndexSearcher(index8, corpus=None).search(q, 10)


def test_positions_survive_merge(spark_corpus, pos_index, searcher):
    from lucene_solr_spark.operators.merge import force_merge, run_manifest

    merged = force_merge(pos_index, max_runs=1)
    assert len(run_manifest(merged)) == 1
    assert merged.postings.filter("positions IS NULL").count() == 0
    s2 = IndexSearcher(merged, corpus=None)
    q = PhraseQuery(("ge0", "vecodu"))
    assert _topk(s2, q) == _topk(searcher, q)


def test_non_positional_index_has_null_positions(index8):
    assert index8.postings.filter("positions IS NOT NULL").count() == 0


def test_doc_scan_with_documents_straddling_arrow_batches(spark, pos_index):
    """Under 16-record Arrow batches the occurrence scan splits documents
    across batches; the carried-over document keeps every positional scorer
    equal to its default-batch result."""
    from lucene_solr_spark.functions.interval_sources import IOr, IOrdered, ITerm
    from lucene_solr_spark.plans.query import TermAutomatonQuery

    s = IndexSearcher(pos_index)
    src = IOrdered((IOr((ITerm("vecodu"), ITerm("numa"))), ITerm("ge0")))
    queries = {
        "exact": PhraseQuery(("ge0", "vecodu")),
        "sloppy": PhraseQuery(("ge0", "vecodu"), slop=2),
        "automaton": TermAutomatonQuery.from_phrases(("ge0", "vecodu"), ("numa", "ge0")),
    }
    runs = {name: (lambda q=q: s.search(q, 50, prune=False).collect()) for name, q in queries.items()}
    runs["interval"] = lambda: s.interval_query(["ge0", "vecodu"], k=50).collect()
    runs["intervals"] = lambda: s.interval_source_query(src, output="intervals").collect()
    want = {name: run() for name, run in runs.items()}
    assert all(want.values()), want
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        got = {name: run() for name, run in runs.items()}
    finally:
        spark.conf.set(key, prev)
    assert got == want
