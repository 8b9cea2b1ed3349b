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


def _zipf_texts():
    """A zipf-ish corpus where the head term floods every doc: the shape the
    batch θ prune exists for.  Doc ids follow list order."""
    texts = []
    for i in range(1500):
        if i < 60:
            # hot pocket: short, high-tf head docs — these own the top-k, so
            # every later (low-impact) head block is θ-skippable
            texts.append("head " * 8 + f"u{i}")
        else:
            texts.append(
                "head "
                + ("mid " if i % 3 == 0 else "")
                + (f"tail{i % 11} " if i % 13 == 0 else "")
                + "pad " * 10
                + f"u{i}"
            )
    return texts


@pytest.fixture(scope="module")
def zipf_index(spark):
    """The zipf corpus indexed once for the module; each test binds its own
    IndexSearcher (and so its own cost gate) over it."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from lucene_solr_spark.operators.indexer import IndexConfig, build_index

    rows = [("c%05d" % i, 0, text) for i, text in enumerate(_zipf_texts())]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    df = spark.createDataFrame(pdf).withColumn(
        "doc_id",
        F.row_number().over(Window.orderBy("conv_id", "turn_idx")).cast("long") - 1,
    )
    return build_index(df, IndexConfig(n_partitions=8))


def _zipf_searcher(zipf_index, prune_min_postings):
    from lucene_solr_spark.operators.searcher import IndexSearcher

    return IndexSearcher(zipf_index, prune_min_postings=prune_min_postings)


def _batch_rows(s, queries, k):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in s.batch_search(queries, k=k).collect()
    )


def test_batch_prune_exhaustive_bit_identity(zipf_index):
    """θ-pruned batch output must be bit-identical to the exhaustive batch
    scan AND to per-query search() — across pure terms, boosted ORs,
    conjunctions, mm>=2, FILTER and MUST_NOT shapes (the last four must
    never be pruned on their own account)."""
    sp = _zipf_searcher(zipf_index, prune_min_postings=0)       # θ pre-pass forced
    sx = _zipf_searcher(zipf_index, prune_min_postings=1 << 60)  # exhaustive forced
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


def test_batch_prune_metrics_skip_rate(zipf_index):
    """On the zipf corpus the head term's low-impact blocks must actually be
    skipped: posting skip-rate > 0 while results stay identical (checked by
    the identity test above)."""
    s = _zipf_searcher(zipf_index, prune_min_postings=0)
    queries = {f"q{i}": TermQuery(t) for i, t in enumerate(["head", "mid", "tail2"])}
    m = s.batch_prune_metrics(queries, k=10)
    assert m["pruning_applied"] is True
    assert m["blocks"] > 0 and m["surviving_blocks"] <= m["blocks"]
    assert m["posting_skip_rate"] > 0.0, m
    assert m["finite_thetas"] >= 1


def test_batch_prune_gate_falls_back(zipf_index):
    """Below the cost gate the pre-pass must not run (returns None -> the
    exhaustive scan), and metrics say pruning_applied=False."""
    s = _zipf_searcher(zipf_index, prune_min_postings=1 << 60)
    queries = {"h": TermQuery("head")}
    assert s.batch_prune_metrics(queries, k=10) == {"pruning_applied": False}
    rows = _batch_rows(s, queries, 5)
    assert len(rows) == 5


def test_batch_dedups_identical_queries(zipf_index):
    """Identical queries in a batch are planned ONCE (one clause group) and
    fan their query_ids back out on the result join — every duplicate must
    return exactly the single-query rows."""
    s = _zipf_searcher(zipf_index, prune_min_postings=0)
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


def test_batch_clause_theta_survives_conjunctions(zipf_index):
    """The per-clause posting filter must engage even when a conjunction
    blocks every term's GLOBAL block threshold: batch = {head term query,
    and(head, mid)}.  The 'and' forces every head/mid block to unpack
    (theta_t empty -> exhaustive unpack), but the head TERM query's clause
    still carries a finite θ that cuts its exchange rows — and results stay
    bit-identical to the exhaustive plan and the single-query path."""
    sp = _zipf_searcher(zipf_index, prune_min_postings=0)
    sx = _zipf_searcher(zipf_index, prune_min_postings=1 << 60)
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


def test_prune_metrics_flat_booleans(zipf_index):
    """prune_metrics covers every flat term boolean search() prunes, not just
    terms and bare ORs: a MUST+SHOULD query and a BoostQuery-wrapped OR
    both run the shared θ pre-pass.  On this corpus the MUST head SHOULD
    mid top-10 ties with every other head+mid doc, so no sound block bound
    can skip a block there; the boosted OR (its absent clause dropped) cuts
    the head's low-impact blocks."""
    s = _zipf_searcher(zipf_index, prune_min_postings=0)
    must_should = BooleanQuery.build(must=[TermQuery("head")], should=[TermQuery("mid")])
    m = s.prune_metrics(must_should, 10)
    assert m["pruning_applied"] is True and m["finite_thetas"] >= 1, m
    assert s.search(must_should, 10).collect() == s.search(must_should, 10, prune=False).collect()
    boosted_or = BoostQuery(
        BooleanQuery.build(should=[TermQuery("head"), TermQuery("zzz_not_in_index")]), 2.5
    )
    m = s.prune_metrics(boosted_or, 10)
    assert m["pruning_applied"] is True
    assert m["posting_skip_rate"] > 0.0, m


def test_theta_sample_skipped_without_finite_theta(zipf_index, monkeypatch):
    """Conjunctions and MUST_NOT groups can never get a finite θ, so the
    pre-pass must not pay for the θ sample job on their behalf — in single
    search and in a batch of only such queries — and results stay exact."""
    from lucene_solr_spark.operators.searcher import IndexSearcher

    sp = _zipf_searcher(zipf_index, prune_min_postings=0)
    sx = _zipf_searcher(zipf_index, prune_min_postings=1 << 60)
    queries = {
        "and": BooleanQuery.build(must=[TermQuery("head"), TermQuery("mid")]),
        "not": BooleanQuery.build(must=[TermQuery("mid")], must_not=[TermQuery("tail0")]),
    }

    def no_sample(self, params, k):
        raise AssertionError("θ sample job ran for a query with no finite θ")

    monkeypatch.setattr(IndexSearcher, "_theta_block_sample", no_sample)
    for q in queries.values():
        assert sp.search(q, 10).collect() == sx.search(q, 10).collect(), q
    assert _batch_rows(sp, queries, 10) == _batch_rows(sx, queries, 10)
    assert sp.batch_prune_metrics(queries, 10) == {"pruning_applied": False}


@pytest.fixture(scope="module")
def zipf_oracle():
    from lucene_solr_spark.functions.analysis import standard_analyzer
    from lucene_solr_spark.testing.oracle import OracleEngine

    return OracleEngine(enumerate(_zipf_texts()), standard_analyzer())


# head weighted up: it is the one term whose low-impact blocks θ can skip
_ZIPF_VOCAB = ["head", "head", "mid", "pad", "tail3", "tail5", "u7", "zzz_not_in_index"]


def _flat_bool_queries():
    from hypothesis import strategies as st

    term = st.builds(TermQuery, st.sampled_from(_ZIPF_VOCAB), st.sampled_from([1.0, 2.0, 0.5]))
    leaf = st.one_of(term, st.builds(BoostQuery, term, st.just(3.0)))
    boolean = st.builds(
        lambda must, should, filt, must_not, mm: BooleanQuery.build(
            must=must, should=should, filter=filt, must_not=must_not, minimum_should_match=mm
        ),
        st.lists(leaf, max_size=2),
        st.lists(leaf, min_size=1, max_size=3),
        st.lists(leaf, max_size=1),
        st.lists(leaf, max_size=1),
        st.integers(min_value=0, max_value=3),
    )
    return st.one_of(boolean, st.builds(BoostQuery, boolean, st.just(2.5)))


def test_flat_boolean_four_arms(zipf_index, zipf_oracle):
    """Differential check where θ actually cuts: every flat term boolean
    (boosts, FILTER, MUST_NOT, mm 0-3, duplicate and absent terms) must
    give the same doc ids and float32 scores from pruned search (gate 0),
    exhaustive search, batch_search (one batch of every query checked) and
    the scalar oracle — and, under LM-Dirichlet, from pruned and
    exhaustive single search."""
    from hypothesis import HealthCheck, example, given, settings

    from lucene_solr_spark.functions.similarities import LMDirichletSimilarity
    from lucene_solr_spark.operators.searcher import IndexSearcher

    sp = _zipf_searcher(zipf_index, prune_min_postings=0)
    lm = IndexSearcher(zipf_index, prune_min_postings=0, similarity=LMDirichletSimilarity())
    drawn: dict = {}

    @settings(
        max_examples=6,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(q=_flat_bool_queries())
    # FILTER is required, so SHOULD beside it is optional: filter-only docs
    # match with score 0 (and with mm > 0 a FILTER-only query matches none)
    @example(q=BooleanQuery.build(should=[TermQuery("tail3")], filter=[TermQuery("mid")]))
    @example(q=BooleanQuery.build(filter=[TermQuery("tail3")], minimum_should_match=1))
    def check(q):
        want = zipf_oracle.search(q, 10)
        assert sp.search(q, 10, prune=True).collect() == want, q
        assert sp.search(q, 10, prune=False).collect() == want, q
        assert lm.search(q, 10, prune=True).collect() == lm.search(q, 10, prune=False).collect(), q
        drawn[f"q{len(drawn)}"] = q

    check()
    got: dict = {}
    for qid, _rank, d, sc in _batch_rows(sp, drawn, 10):
        got.setdefault(qid, []).append((d, sc))
    for qid, q in drawn.items():
        assert got.get(qid, []) == zipf_oracle.search(q, 10), q
