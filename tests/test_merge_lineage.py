"""Merge policy + resumable build tests.

Modeled on the reference's merge-policy simulation + control-vs-distributed
strategy (SURVEY.md §5): segment-size streams drive the planner; search
results must be invariant under any merge topology and any restart point.
"""

import numpy as np
import pytest

from lucene_solr_spark.operators.merge import (
    RunInfo,
    TieredMergePolicy,
    force_merge,
    maybe_merge,
    merge_runs,
    run_manifest,
)
from lucene_solr_spark.plans.query import BooleanQuery, TermQuery


def _topk(searcher, q, k=10):
    return [(d, float(np.float32(s))) for d, s in searcher.search(q, k).collect()]


# ----------------------------------------------------------- planner (pure)
def test_allowed_seg_count_geometry():
    p = TieredMergePolicy(floor_segment_bytes=1024, segs_per_tier=4.0, max_merge_at_once=4)
    # 16 floor-size runs: one full tier (4) + remaining mass coalesces up-tier
    sizes = [1024] * 16
    assert p.allowed_seg_count(sizes) <= 8
    # few large runs: all allowed
    assert p.allowed_seg_count([10 * 1024**2] * 3) >= 3


def test_find_merges_prefers_balanced():
    # the 1M run is "too big" (> max_merged/2): excluded from budget + merging
    p = TieredMergePolicy(
        floor_segment_bytes=1000, segs_per_tier=2.0, max_merge_at_once=3, max_merged_segment_bytes=10_000
    )
    runs = [RunInfo(i, b, b) for i, b in enumerate([1_000_000, 1000, 1000, 1000, 1000])]
    cand = p.find_merges(runs)
    assert cand is not None
    # skew scoring must pick the small balanced runs, not the 1M-byte one
    assert all(c.size_bytes == 1000 for c in cand)


def test_find_merges_none_within_budget():
    p = TieredMergePolicy()
    assert p.find_merges([RunInfo(0, 5000, 10), RunInfo(1, 5000, 10)]) is None


def test_max_merged_segment_cap():
    p = TieredMergePolicy(floor_segment_bytes=1, segs_per_tier=1.0, max_merge_at_once=10, max_merged_segment_bytes=100)
    runs = [RunInfo(i, 40, 1) for i in range(6)]
    cand = p.find_merges(runs)
    assert cand is not None and sum(c.size_bytes for c in cand) <= 100


# ------------------------------------------------------ merge jobs (Spark)
@pytest.fixture(scope="module")
def queries():
    return [
        TermQuery("the"),
        BooleanQuery.build(should=[TermQuery("wolo"), TermQuery("zumo")]),
        BooleanQuery.build(must=[TermQuery("the"), TermQuery("and")]),
    ]


def test_merge_preserves_postings_and_ranks(searcher, index8, queries):
    before = {i: _topk(searcher, q) for i, q in enumerate(queries)}
    n_postings = index8.postings.agg({"count": "sum"}).collect()[0][0]

    # a floor far above run size makes every run floor-sized -> tight budget
    aggressive = TieredMergePolicy(floor_segment_bytes=10 * 1024**2, segs_per_tier=1.0, max_merge_at_once=4)
    merged = maybe_merge(index8, aggressive)
    assert len(run_manifest(merged)) < len(run_manifest(index8))
    assert merged.postings.agg({"count": "sum"}).collect()[0][0] == n_postings

    from lucene_solr_spark.operators.searcher import IndexSearcher

    s2 = IndexSearcher(merged, searcher.corpus)
    for i, q in enumerate(queries):
        assert _topk(s2, q) == before[i], f"query {i} changed after merge"


def test_force_merge_to_one_run_with_salting(searcher, index8, queries):
    before = {i: _topk(searcher, q) for i, q in enumerate(queries)}
    # tiny salt budget forces hot terms ("the" etc.) to split by doc range
    one = force_merge(index8, max_runs=1)
    manifest = run_manifest(one)
    assert len(manifest) == 1

    from pyspark.sql import functions as F

    from lucene_solr_spark.operators.searcher import IndexSearcher

    s2 = IndexSearcher(one, searcher.corpus)
    for i, q in enumerate(queries):
        assert _topk(s2, q) == before[i]


def test_salted_merge_rank_identity(searcher, index8, queries):
    ids = [r.run_id for r in run_manifest(index8)]
    # merge_runs is lazy: persist so every search below reads one merge
    # instead of re-running the repack per Spark job
    merged_postings = merge_runs(index8, ids, new_run_id=7_000_000_000, salt_block_budget=64).persist()
    from dataclasses import replace

    from pyspark.sql import functions as F

    from lucene_solr_spark.operators.searcher import IndexSearcher

    # hot terms must actually have salted (multiple >1<<20 block_ids)
    n_salted = merged_postings.filter(F.col("block_id") >= (1 << 20)).count()
    assert n_salted > 0

    idx2 = replace(index8, postings=merged_postings)
    s2 = IndexSearcher(idx2, searcher.corpus)
    for q in queries:
        assert _topk(s2, q) == _topk(searcher, q)
    merged_postings.unpersist()


# --------------------------------------------------- resumable build (Spark)
def test_resumable_build_and_restart(spark, spark_corpus, searcher, tmp_path_factory, queries):
    from lucene_solr_spark.operators.lineage import (
        build_partition,
        committed_partitions,
        open_index,
        read_ledger,
        resumable_build,
    )
    from lucene_solr_spark.operators.indexer import IndexConfig
    from lucene_solr_spark.operators.searcher import IndexSearcher

    path = str(tmp_path_factory.mktemp("resumable"))
    cfg = IndexConfig(n_partitions=1)

    # simulate a crashed build: only partitions 0 and 2 of 4 committed
    build_partition(spark_corpus, 0, 4, cfg, path)
    build_partition(spark_corpus, 2, 4, cfg, path)
    assert committed_partitions(spark, path) == {0, 2}

    # resume: builds only 1 and 3
    idx = resumable_build(spark_corpus, path, 4, cfg)
    ledger = read_ledger(spark, path)
    assert ledger.count() == 4
    assert {r["partition_id"] for r in ledger.collect()} == {0, 1, 2, 3}
    assert idx.doc_count == searcher.index.doc_count
    assert idx.sum_ttf == searcher.index.sum_ttf

    # lineage metrics present and sane
    row = ledger.filter("partition_id = 0").collect()[0]
    assert row["n_docs"] > 0 and row["wall_s"] > 0 and row["max_doc_id"] >= row["min_doc_id"]

    # identical search results vs the in-memory single-pass build
    s2 = IndexSearcher(open_index(spark, path, cfg), searcher.corpus)
    for q in queries:
        assert _topk(s2, q) == _topk(searcher, q)

    # a second resume is a no-op (idempotent restart)
    n_runs_before = idx.postings.select("run_id").distinct().count()
    idx2 = resumable_build(spark_corpus, path, 4, cfg)
    assert idx2.postings.select("run_id").distinct().count() == n_runs_before


def test_log_doc_merge_policy_geometry():
    """LogMergePolicy.findMerges level quantization (LogMergePolicy.java:
    176-263): full windows per level, oversized-window skip, level floor."""
    from lucene_solr_spark.operators.merge import LogDocMergePolicy, RunInfo

    p = LogDocMergePolicy(merge_factor=10)
    same = lambda n, sz=100: [RunInfo(i, 10 * sz, sz) for i in range(n)]  # noqa: E731
    # 10 equal runs -> one full window; 9 -> none; 25 -> two windows + tail
    assert [[r.run_id for r in m] for m in p.find_all_merges(same(10))] == [list(range(10))]
    assert p.find_all_merges(same(9)) == []
    assert [[r.run_id for r in m] for m in p.find_all_merges(same(25))] == [
        list(range(10)),
        list(range(10, 20)),
    ]
    # a huge head run sits in its own level; the small tail still merges
    mixed = [RunInfo(0, 1, 10**8)] + [RunInfo(i, 1, 100) for i in range(1, 12)]
    assert [[r.run_id for r in m] for m in p.find_all_merges(mixed)] == [list(range(1, 11))]
    # windows containing a run at/over max_merge_size are skipped
    cap = LogDocMergePolicy(merge_factor=3, max_merge_size=1000)
    runs = [RunInfo(0, 1, 2000)] + [RunInfo(i, 1, 100) for i in range(1, 5)]
    assert [[r.run_id for r in m] for m in cap.find_all_merges(runs)] == [[1, 2, 3]]
    # min_merge_size floors all tiny runs into one level
    floor = LogDocMergePolicy(merge_factor=4, min_merge_size=1000)
    tiny = [RunInfo(i, 1, 2 ** (i % 5)) for i in range(8)]
    assert [[r.run_id for r in m] for m in floor.find_all_merges(tiny)] == [
        [0, 1, 2, 3],
        [4, 5, 6, 7],
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        LogDocMergePolicy(merge_factor=1)


def test_log_doc_merge_policy_end_to_end(index8, spark_corpus, oracle):
    """maybe_merge with the Log policy: fewer runs, rank-identical search."""
    from lucene_solr_spark.operators.merge import LogDocMergePolicy, maybe_merge, run_manifest
    from lucene_solr_spark.operators.searcher import IndexSearcher
    from lucene_solr_spark.plans.query import TermQuery

    merged = maybe_merge(index8, LogDocMergePolicy(merge_factor=4))
    n_before = len(run_manifest(index8))
    n_after = len(run_manifest(merged))
    assert n_after < n_before
    hot = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    a = IndexSearcher(index8, spark_corpus).search(TermQuery(hot), 10).collect()
    b = IndexSearcher(merged, spark_corpus).search(TermQuery(hot), 10).collect()
    assert a == b
