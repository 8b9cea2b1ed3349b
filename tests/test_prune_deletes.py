"""θ pruning vs pending deletes: a deleted doc sampled into the θ estimate
must not push θ above the best LIVE scores (reference behavior: liveDocs are
consulted during collection, so ImpactsDISI's θ comes only from collected —
live — hits, ``ImpactsDISI.java:94-126`` + LeafReader.getLiveDocs).

Repro shape: one packed block of short high-tf docs, all deleted; every
other doc is a long tf-1 doc.  Without the delete-aware bound the pre-pass
prunes every live block and returns ZERO hits."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lucene_solr_spark.operators.indexer import IndexConfig, build_index
from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import BooleanQuery, TermQuery


@pytest.fixture(scope="module")
def hot_block_deleted(spark):
    n = 1200
    rows = []
    for i in range(n):
        text = ("hot " * 8 + f"u{i}") if i < 128 else ("hot " + "pad " * 10 + f"u{i}")
        rows.append(("c%05d" % i, 0, text))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])).withColumn(
        "doc_id", F.row_number().over(Window.orderBy("conv_id", "turn_idx")).cast("long") - 1
    )
    idx = build_index(df, IndexConfig(n_partitions=8))
    idx.deletes = spark.createDataFrame([(i,) for i in range(128)], "doc_id long").persist()
    return IndexSearcher(idx, prune_min_postings=0)


def test_prune_identity_with_deletes(hot_block_deleted):
    s = hot_block_deleted
    got = s.search(TermQuery("hot"), 10, prune=True).collect()
    want = s.search(TermQuery("hot"), 10, prune=False).collect()
    assert len(want) == 10
    assert got == want


def test_prune_identity_with_deletes_or(hot_block_deleted):
    s = hot_block_deleted
    q = BooleanQuery.build(should=[TermQuery("hot"), TermQuery("pad")])
    got = s.search(q, 10, prune=True).collect()
    want = s.search(q, 10, prune=False).collect()
    assert len(want) == 10
    assert got == want


def test_batch_prune_identity_with_deletes(hot_block_deleted):
    s = hot_block_deleted
    queries = {"h": TermQuery("hot"), "o": BooleanQuery.build(should=[TermQuery("hot"), TermQuery("pad")])}
    out = s.batch_search(queries, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        expect = [(i + 1, d, sc) for i, (d, sc) in enumerate(s.search(q, 10, prune=False).collect())]
        assert sorted(by_q.get(qid, [])) == expect, qid


def test_deletes_count_cache_invalidates(hot_block_deleted, spark):
    s = hot_block_deleted
    assert s._deletes_count() == 128
    prev = s.index.deletes
    try:
        s.index.deletes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
        assert s._deletes_count() == 5
    finally:
        s.index.deletes = prev
        assert s._deletes_count() == 128


def test_prune_metrics_theta_is_delete_aware(hot_block_deleted):
    """prune_metrics reports the pre-pass search() runs: k widened by the
    pending deletes, so its θ never exceeds the 10th LIVE score."""
    s = hot_block_deleted
    live = s.search(TermQuery("hot"), 10, prune=False).collect()
    assert s.prune_metrics(TermQuery("hot"), 10)["theta"] <= live[-1][1]


def test_prune_metrics_respects_delete_cap(hot_block_deleted):
    """200 + 128 pending deletes is past the 256 sample cap: search() scans
    exhaustively, and prune_metrics must say so."""
    assert hot_block_deleted.prune_metrics(TermQuery("hot"), 200) == {"pruning_applied": False}
