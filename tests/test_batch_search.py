"""batch_search: N queries in one postings scan must be bit-identical to N
individual searches."""

import pytest

from lucene_solr_spark.plans.query import BooleanQuery, BoostQuery, PhraseQuery, TermQuery


def _hot(oracle, n=4):
    by_df = sorted(oracle.postings.items(), key=lambda kv: (-len(kv[1]), kv[0]))
    return [t for t, _ in by_df[:n]]


def test_batch_matches_individual(searcher, oracle):
    h = _hot(oracle)
    queries = {
        "q_term": TermQuery(h[0]),
        "q_boost": BoostQuery(TermQuery(h[1]), 2.0),
        "q_and": BooleanQuery.build(must=[TermQuery(h[0]), TermQuery(h[1])]),
        "q_or_mm": BooleanQuery.build(
            should=[TermQuery(h[0]), TermQuery(h[1]), TermQuery(h[2])], minimum_should_match=2
        ),
        "q_not": BooleanQuery.build(must=[TermQuery(h[2])], must_not=[TermQuery(h[0])]),
        "q_missing": TermQuery("zzz_not_in_index"),
        "q_dup": BooleanQuery.build(should=[TermQuery(h[3]), TermQuery(h[3])]),
        # FILTER clauses: required match, no score contribution
        "q_filter": BooleanQuery.build(must=[TermQuery(h[0])], filter=[TermQuery(h[1])]),
        "q_filter_only": BooleanQuery.build(filter=[TermQuery(h[2])]),
        "q_filter_should": BooleanQuery.build(
            should=[TermQuery(h[0])], filter=[TermQuery(h[3])]
        ),
        "q_filter_missing": BooleanQuery.build(
            must=[TermQuery(h[0])], filter=[TermQuery("zzz_not_in_index")]
        ),
    }
    out = searcher.batch_search(queries, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        expect = [
            (i + 1, d, s) for i, (d, s) in enumerate(searcher.search(q, 10).collect())
        ]
        got = sorted(by_q.get(qid, []))
        assert got == expect, qid
    assert "q_missing" not in by_q


def test_batch_rejects_unsupported(searcher):
    with pytest.raises(NotImplementedError):
        searcher.batch_search({"p": PhraseQuery(("a", "b"))}, k=5)


def test_batch_single_scan_plan(spark, index8, tmp_path_factory):
    from lucene_solr_spark.operators.indexer import InvertedIndex
    from lucene_solr_spark.operators.searcher import IndexSearcher

    path = str(tmp_path_factory.mktemp("bs_index"))
    index8.write(path)
    s = IndexSearcher(InvertedIndex.read(spark, path, index8.config))
    qs = {
        "a": TermQuery("the"),
        "b": BooleanQuery.build(must=[TermQuery("of")], should=[TermQuery("and")]),
    }
    plan = s.batch_search(qs, 10)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas fn(term") == 1, plan
    assert plan.count("Scan parquet") == 1, plan
    # the match rows must cross ONE full exchange: hash(qc, _salt) serves
    # both the (qc, _salt, doc_id) aggregation and the stage-1 salted
    # window — a second hash(qc, doc_id) exchange of the match stream is
    # the regression this pins against
    import re

    hash_keys = [
        re.sub(r"#\d+", "", m).replace(" ", "")
        for m in re.findall(r"hashpartitioning\(([^)]*?), \d+\)", plan)
    ]
    assert "qc,_salt" in hash_keys, hash_keys
    assert "qc,doc_id" not in hash_keys, hash_keys


def test_batch_head_term_skew_identity(spark):
    """Salted two-stage top-k under real skew: one term matches EVERY doc
    (1,000 docs >> 32 salt groups x k), another is rare.  Batch results must
    stay bit-identical to the single-query path for both."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lucene_solr_spark.operators.indexer import IndexConfig, build_index
    from lucene_solr_spark.operators.searcher import IndexSearcher

    n = 1000
    rows = []
    for i in range(n):
        text = "common " * (1 + i % 7) + (f"rare{i % 5} " if i % 97 == 0 else "") + f"u{i}"
        rows.append(("c%04d" % i, 0, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    df = spark.createDataFrame(pdf).withColumn(
        "doc_id",
        F.row_number().over(Window.orderBy("conv_id", "turn_idx")).cast("long") - 1,
    )
    idx = build_index(df, IndexConfig(n_partitions=8))
    s = IndexSearcher(idx)
    queries = {
        "head": TermQuery("common"),
        "rare": TermQuery("rare0"),
        "mix": BooleanQuery.build(should=[TermQuery("common"), TermQuery("rare2")]),
    }
    out = s.batch_search(queries, k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in queries.items():
        expect = [(i + 1, d, sc) for i, (d, sc) in enumerate(s.search(q, 10).collect())]
        assert sorted(by_q.get(qid, [])) == expect, qid


def _zipf_searcher(spark, prune_min_postings):
    """A zipf-ish corpus where the head term floods every doc: the shape the
    batch θ prune exists for."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lucene_solr_spark.operators.indexer import IndexConfig, build_index
    from lucene_solr_spark.operators.searcher import IndexSearcher

    n = 1500
    rows = []
    for i in range(n):
        if i < 60:
            # hot pocket: short, high-tf head docs — these own the top-k, so
            # every later (low-impact) head block is θ-skippable
            text = "head " * 8 + f"u{i}"
        else:
            text = (
                "head "
                + ("mid " if i % 3 == 0 else "")
                + (f"tail{i % 11} " if i % 13 == 0 else "")
                + "pad " * 10
                + f"u{i}"
            )
        rows.append(("c%05d" % i, 0, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    df = spark.createDataFrame(pdf).withColumn(
        "doc_id",
        F.row_number().over(Window.orderBy("conv_id", "turn_idx")).cast("long") - 1,
    )
    idx = build_index(df, IndexConfig(n_partitions=8))
    return IndexSearcher(idx, prune_min_postings=prune_min_postings)


def _batch_rows(s, queries, k):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in s.batch_search(queries, k=k).collect()
    )


def test_batch_prune_exhaustive_bit_identity(spark):
    """θ-pruned batch output must be bit-identical to the exhaustive batch
    scan AND to per-query search() — across pure terms, boosted ORs,
    conjunctions, mm>=2, FILTER and MUST_NOT shapes (the last four must
    never be pruned on their own account)."""
    sp = _zipf_searcher(spark, prune_min_postings=0)       # θ pre-pass forced
    sx = _zipf_searcher(spark, prune_min_postings=1 << 60)  # exhaustive forced
    queries = {
        "head": TermQuery("head"),
        "mid": TermQuery("mid"),
        "tail": TermQuery("tail3"),
        "or": BooleanQuery.build(should=[TermQuery("head"), TermQuery("tail5")]),
        "or_boost": BoostQuery(
            BooleanQuery.build(should=[TermQuery("mid"), TermQuery("tail7")]), 2.5
        ),
        "and": BooleanQuery.build(must=[TermQuery("head"), TermQuery("mid")]),
        "mm2": BooleanQuery.build(
            should=[TermQuery("head"), TermQuery("mid"), TermQuery("tail1")],
            minimum_should_match=2,
        ),
        "filt": BooleanQuery.build(should=[TermQuery("head")], filter=[TermQuery("mid")]),
        "not": BooleanQuery.build(must=[TermQuery("mid")], must_not=[TermQuery("tail0")]),
    }
    from lucene_solr_spark.functions.similarities import LegacyBM25Similarity
    from lucene_solr_spark.operators.searcher import IndexSearcher

    # the batch unit-weight factorisation f32(w·t) holds for the whole BM25
    # family, so LegacyBM25 batches must match its single searches too
    legacy = [
        IndexSearcher(s.index, prune_min_postings=s.prune_min_postings, similarity=LegacyBM25Similarity())
        for s in (sp, sx)
    ]
    for pruned, exhaustive in ((sp, sx), legacy):
        got = _batch_rows(pruned, queries, 10)
        want = _batch_rows(exhaustive, queries, 10)
        assert got == want
        by_q = {}
        for qid, rank, d, sc in got:
            by_q.setdefault(qid, []).append((rank, d, sc))
        for qid, q in queries.items():
            expect = [(i + 1, d, sc) for i, (d, sc) in enumerate(pruned.search(q, 10).collect())]
            assert by_q.get(qid, []) == expect, (type(pruned.similarity).__name__, qid)


def test_batch_prune_metrics_skip_rate(spark):
    """On the zipf corpus the head term's low-impact blocks must actually be
    skipped: posting skip-rate > 0 while results stay identical (checked by
    the identity test above)."""
    s = _zipf_searcher(spark, prune_min_postings=0)
    queries = {f"q{i}": TermQuery(t) for i, t in enumerate(["head", "mid", "tail2"])}
    m = s.batch_prune_metrics(queries, k=10)
    assert m["pruning_applied"] is True
    assert m["blocks"] > 0 and m["surviving_blocks"] <= m["blocks"]
    assert m["posting_skip_rate"] > 0.0, m
    assert m["finite_thetas"] >= 1


def test_batch_prune_gate_falls_back(spark):
    """Below the cost gate the pre-pass must not run (returns None -> the
    exhaustive scan), and metrics say pruning_applied=False."""
    s = _zipf_searcher(spark, prune_min_postings=1 << 60)
    queries = {"h": TermQuery("head")}
    assert s.batch_prune_metrics(queries, k=10) == {"pruning_applied": False}
    rows = _batch_rows(s, queries, 5)
    assert len(rows) == 5


def test_batch_dedups_identical_queries(spark):
    """Identical queries in a batch are planned ONCE (one clause group) and
    fan their query_ids back out on the result join — every duplicate must
    return exactly the single-query rows."""
    s = _zipf_searcher(spark, prune_min_postings=0)
    base = {
        "t": TermQuery("head"),
        "b": BooleanQuery.build(should=[TermQuery("mid"), TermQuery("tail3")]),
    }
    queries = {f"{name}_{i}": q for name, q in base.items() for i in range(4)}
    clause_rows, meta_rows, _stats = s._batch_clause_table(queries)
    assert len(meta_rows) == len(base)  # 8 queries -> 2 clause groups
    assert sorted(len(qids) for _, qids, _, _ in meta_rows) == [4, 4]
    by_q = {}
    for r in s.batch_search(queries, k=10).collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for name, q in base.items():
        expect = [(i + 1, d, sc) for i, (d, sc) in enumerate(s.search(q, 10).collect())]
        for i in range(4):
            assert sorted(by_q[f"{name}_{i}"]) == expect, (name, i)


def test_batch_clause_theta_survives_conjunctions(spark):
    """The per-clause posting filter must engage even when a conjunction
    blocks every term's GLOBAL block threshold: batch = {head term query,
    and(head, mid)}.  The 'and' forces every head/mid block to unpack
    (theta_t empty -> exhaustive unpack), but the head TERM query's clause
    still carries a finite θ that cuts its exchange rows — and results stay
    bit-identical to the exhaustive plan and the single-query path."""
    sp = _zipf_searcher(spark, prune_min_postings=0)
    sx = _zipf_searcher(spark, prune_min_postings=1 << 60)
    queries = {
        "head": TermQuery("head"),
        "and": BooleanQuery.build(must=[TermQuery("head"), TermQuery("mid")]),
    }
    clause_rows, meta_rows, stats = sp._batch_clause_table(queries)
    survivors, clause_theta = sp._batch_pruned_postings(clause_rows, meta_rows, stats, 10)
    assert survivors is None  # the conjunction needs every block
    head_qc = next(qc for qc, qids, _, _ in meta_rows if qids == ["head"])
    assert clause_theta.get((head_qc, "head"), 0.0) > 0.0  # posting filter live
    and_qc = next(qc for qc, qids, _, _ in meta_rows if qids == ["and"])
    assert (and_qc, "head") not in clause_theta  # conjunction never filtered
    # the metrics report the clause-pair cut even though no block is skipped
    m = sp.batch_prune_metrics(queries, k=10)
    assert m["pruning_applied"] is True
    assert m["block_skip_rate"] == 0.0
    assert m["clause_pair_skip_rate"] > 0.0, m
    assert _batch_rows(sp, queries, 10) == _batch_rows(sx, queries, 10)
    for qid, q in queries.items():
        expect = [(i + 1, d, sc) for i, (d, sc) in enumerate(sp.search(q, 10).collect())]
        got = [r[1:] for r in _batch_rows(sp, queries, 10) if r[0] == qid]
        assert got == expect, qid
