"""Physical-plan quality guards — the 100 TB questions, asserted.

These pin the plan shapes that make the engine scale (SURVEY.md §4):
term lookups must prune at the parquet scan, top-k must compile to
TakeOrderedAndProject (per-partition heap + driver merge), stored-field
fetch must broadcast the winners, and nothing in the package may use
row-at-a-time Python UDFs (BASELINE.json input_hint: vectorized Arrow only).
"""

import glob
import re

import numpy as np

from lucene_solr_spark.plans.query import TermQuery


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_written_index_term_lookup_pushdown(spark, index8, searcher, tmp_path_factory):
    from lucene_solr_spark.operators.indexer import InvertedIndex
    from lucene_solr_spark.operators.searcher import IndexSearcher

    path = str(tmp_path_factory.mktemp("committed_index"))
    index8.write(path)
    idx = InvertedIndex.read(spark, path, index8.config)

    # the term-equality filter must reach the parquet scan (blocktree/FST
    # analog: file + row-group pruning via min/max on the sorted term column)
    blocks = idx.postings.filter(idx.postings.term == "the")
    explained = blocks._sc._jvm.PythonSQLUtils.explainString(
        blocks._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in explained and "the" in explained

    # round-trip: identical search results from the committed index
    s2 = IndexSearcher(idx, searcher.corpus)
    want = [(d, float(np.float32(s))) for d, s in searcher.search(TermQuery("the"), 10).collect()]
    got = [(d, float(np.float32(s))) for d, s in s2.search(TermQuery("the"), 10).collect()]
    assert got == want


def test_topk_compiles_to_take_ordered(searcher):
    top = searcher.search(TermQuery("the"), 10, prune=False)
    assert "TakeOrderedAndProject" in _plan(top.df)


def test_fetch_broadcasts_winners(searcher):
    top = searcher.search(TermQuery("the"), 5)
    fetched = searcher.fetch(top, columns=["text"])
    assert "BroadcastHashJoin" in _plan(fetched) or "BroadcastNestedLoopJoin" in _plan(fetched)


def test_no_row_wise_python_udf_in_package():
    """input_hint: vectorized pandas/Arrow UDFs only — no per-row Python.

    Forbids `F.udf(` / `@udf` (row-at-a-time) anywhere in the package;
    pandas_udf / mapInPandas / applyInPandas are the allowed escape hatches.
    """
    offenders = []
    for path in glob.glob("lucene_solr_spark/**/*.py", recursive=True):
        src = open(path).read()
        if re.search(r"(?<!pandas_)\budf\s*\(", src.replace("pandas_udf", "")):
            offenders.append(path)
    assert not offenders, f"row-wise udf() found in {offenders}"


def test_collect_only_on_small_relations():
    """Driver-side collect() must only touch tiny relations (stats, term
    dictionary rows, manifests) — never postings or corpus rows. Guard: no
    .collect() call in the same statement as `postings` outside tests."""
    for path in glob.glob("lucene_solr_spark/**/*.py", recursive=True):
        for i, line in enumerate(open(path).read().splitlines(), 1):
            if ".collect()" in line and "postings." in line.replace("index.postings.sparkSession", ""):
                raise AssertionError(f"{path}:{i} collects postings rows")


def test_covering_single_scan(spark, index8, spark_corpus, tmp_path_factory):
    """All-term CoveringQuery: one postings decode + the tiny mm join."""
    from lucene_solr_spark.operators.indexer import InvertedIndex
    from lucene_solr_spark.operators.searcher import IndexSearcher
    from lucene_solr_spark.plans.query import BooleanQuery, CoveringQuery

    path = str(tmp_path_factory.mktemp("cv_index"))
    index8.write(path)
    s = IndexSearcher(InvertedIndex.read(spark, path, index8.config), spark_corpus)
    cq = CoveringQuery((TermQuery("the"), TermQuery("of")), "1")
    # a group clause joins the same decode (its leaves are clause units)
    grouped = CoveringQuery(
        (BooleanQuery.build(should=[TermQuery("the"), TermQuery("qeli")]), TermQuery("of")), "1"
    )
    for q in (cq, grouped):
        plan = _plan(s._evaluate(q, 1.0, s._term_stats(q.terms())))
        # exactly one postings decode; the corpus-side add_ids MapInPandas
        # (the fixture's doc-id assignment) is not a postings scan
        assert plan.count("MapInPandas fn(term") == 1, plan


def test_boolean_and_dismax_single_scan(spark, index8, tmp_path_factory):
    """A multi-clause all-term boolean (and dismax) must scan/decode the
    postings ONCE (one mapInPandas over one filtered parquet scan), not once
    per clause — k scans of a 10^12-doc postings table is the wrong plan at
    scale.  Asserted on a committed index so the plan shows real scans."""
    from lucene_solr_spark.operators.indexer import InvertedIndex
    from lucene_solr_spark.operators.searcher import IndexSearcher
    from lucene_solr_spark.plans.query import BooleanQuery, DisjunctionMaxQuery, MatchAllQuery

    path = str(tmp_path_factory.mktemp("ss_index"))
    index8.write(path)
    s = IndexSearcher(InvertedIndex.read(spark, path, index8.config))

    q = BooleanQuery.build(
        must=[TermQuery("the"), TermQuery("and")],
        should=[TermQuery("of")],
        must_not=[TermQuery("qeli")],
    )
    plan = _plan(s._evaluate(q, 1.0, s._term_stats(q.terms())))
    n = plan.count("MapInPandas")
    assert n == 1, f"expected 1 postings decode, got {n}:\n{plan}"
    assert plan.count("Scan parquet") == 1, plan

    dq = DisjunctionMaxQuery((TermQuery("the"), TermQuery("of")), tie_breaker=0.5)
    plan = _plan(s._evaluate(dq, 1.0, s._term_stats(dq.terms())))
    assert plan.count("MapInPandas") == 1
    assert plan.count("Scan parquet") == 1

    # nested groups — the CommonTermsQuery rewrite / (a OR b) AND (c OR d)
    # shape — must also decode postings exactly once
    nested = BooleanQuery.build(
        must=[BooleanQuery.build(should=[TermQuery("the"), TermQuery("qeli")])],
        should=[BooleanQuery.build(should=[TermQuery("and"), TermQuery("of")])],
    )
    plan = _plan(s._evaluate(nested, 1.0, s._term_stats(nested.terms())))
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Scan parquet") == 1, plan

    # mixed shapes read every term leaf in that same one decode: a clause
    # with no postings, a repeated term, a group inside a dismax
    mixed = (
        BooleanQuery.build(must=[TermQuery("the"), TermQuery("and")], should=[MatchAllQuery()]),
        BooleanQuery.build(must=[TermQuery("the")], should=[TermQuery("the"), TermQuery("of")]),
        DisjunctionMaxQuery(
            (BooleanQuery.build(should=[TermQuery("the"), TermQuery("qeli")]), TermQuery("of")),
            tie_breaker=0.5,
        ),
    )
    for q in mixed:
        plan = _plan(s._evaluate(q, 1.0, s._term_stats(q.terms())))
        assert plan.count("MapInPandas fn(term") == 1, plan



def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_substring_spans_pure_catalyst(spark):
    """duplicated_spans: gram generation, dup filter, and span merge all stay
    JVM-side — no Python eval in the plan."""
    from lucene_solr_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame([(0, "a b c d e f g h i j k")], "doc_id long, text string")
    p = _plan(duplicated_spans(df, k=3))
    assert "EvalPython" not in p and "InPandas" not in p
    assert "Generate posexplode" in p or "Generate explode" in p


def test_bigram_logprob_pure_catalyst(spark):
    from lucene_solr_spark.operators.lm import bigram_logprob

    df = spark.createDataFrame([(0, "a b a b c")], "doc_id long, text string")
    p = _plan(bigram_logprob(df))
    assert "EvalPython" not in p and "InPandas" not in p


def test_simhash_pairs_single_generate_no_cache(spark):
    """The 20 Manku probe keys come from ONE explode over one scan — not a
    20-way union over a persisted df — on both the direct path and the
    oversized-bucket-guarded default."""
    from lucene_solr_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta") for i in range(6)],
        "doc_id long, text string",
    )
    p = _plan(simhash_near_pairs(df, collapse_identical=False))
    assert "InMemoryTableScan" not in p
    assert p.count("Generate explode") == 2  # one per self-join side
    assert "Union" not in p
    # guarded default: band keys 2 (a/b sides over distinct fingerprints) +
    # doc-list expansion 2 (docs_a, docs_b) + identical-pair branch 2, and
    # exactly the one cross∪identical Union.  The distinct-fingerprint
    # `reps` relation IS persisted (round-4): all three consumers read the
    # manifest-scale cache, so the corpus-scale fingerprint mapInPandas
    # runs once — the plan shows cache reads and NO repeated corpus scan
    pg = _plan(simhash_near_pairs(df, collapse_identical=True))
    # three consumers (a/b band sides + identical-pair branch) all read the
    # cache; every MapInPandas occurrence in the string is the cached
    # relation's DEFINITION reprinted per consumer, not an independent scan
    assert pg.count("InMemoryTableScan") == 3
    assert pg.count("MapInPandas") == pg.count("InMemoryRelation")
    assert pg.count("Union") == 1
