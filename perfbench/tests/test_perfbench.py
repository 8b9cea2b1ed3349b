"""Tests of the benchmark itself: seeded inputs, answers against the scalar
oracle, and metric names.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
for p in (ROOT, BENCH_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)

import corpus as C  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    from lucene_solr_spark.session import get_spark

    sp = get_spark(cpus=2, app="perfbench-tests", shuffle_partitions=2)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp


@pytest.fixture(scope="module")
def small(spark, tmp_path_factory):
    """A small staged corpus, its committed index re-opened as the search
    workload does, and the oracle over the same corpus."""
    from lucene_solr_spark.functions.analysis import standard_analyzer
    from lucene_solr_spark.operators.indexer import IndexConfig, InvertedIndex, build_index_sorted_source
    from lucene_solr_spark.operators.searcher import IndexSearcher
    from lucene_solr_spark.testing.oracle import OracleEngine

    d = tmp_path_factory.mktemp("perfbench")
    pdf = C.stage_corpus(1000, seed=5, n_files=4, path=str(d / "corpus"))
    cfg = IndexConfig(index_positions=True)
    build_index_sorted_source(spark, str(d / "corpus"), cfg).write(str(d / "index"))
    ix = InvertedIndex.read(spark, str(d / "index"), cfg)
    oracle = OracleEngine(zip(range(len(pdf)), pdf["text"]), standard_analyzer())
    return pdf, IndexSearcher(ix), oracle


def test_same_seed_same_corpus_and_queries(tmp_path):
    a = C.stage_corpus(600, seed=3, n_files=3, path=str(tmp_path / "a"))
    b = C.stage_corpus(600, seed=3, n_files=3, path=str(tmp_path / "b"))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == 600
    for name in sorted(os.listdir(tmp_path / "a")):
        pd.testing.assert_frame_equal(
            pd.read_parquet(tmp_path / "a" / name), pd.read_parquet(tmp_path / "b" / name)
        )
    # the staged files hold whole conversations, in (conv_id, turn_idx) order
    staged = pd.concat(pd.read_parquet(tmp_path / "a" / n) for n in sorted(os.listdir(tmp_path / "a")))
    # (parquet stores the timestamps at millisecond precision)
    pd.testing.assert_frame_equal(staged.reset_index(drop=True), a, check_dtype=False)

    def first(gen, n):
        return [next(gen) for _ in range(n)]

    assert first(C.search_passes(7), 3) == first(C.search_passes(7), 3)
    assert first(C.batch_calls(7), 2) == first(C.batch_calls(7), 2)
    assert first(C.search_passes(7), 1) != first(C.search_passes(8), 1)
    c = C.stage_corpus(600, seed=4, n_files=3, path=str(tmp_path / "c"))
    assert not a["text"].equals(c["text"])


def test_pass_covers_every_cell_once():
    cells = next(C.search_passes(1))
    assert sorted((s, st) for s, st, _ in cells) == sorted(
        (s, st) for st in C.STRATA for s in C.SEARCH_SHAPES
    )
    call = next(C.batch_calls(1))
    assert len(call) == 64 and {s for s, _, _ in call.values()} == set(C.BATCH_SHAPES)


def test_strata_follow_zipf_rank(small):
    """Head terms are frequent and tail terms rare in the generated corpus."""
    _, _, oracle = small
    gen = C.QueryGen(np.random.default_rng(0))
    df = {s: np.median([len(oracle.postings.get(t, {})) for t in gen.terms(s, 10, set())]) for s in C.STRATA}
    assert df["head"] > 10 * df["mid"] > 0
    assert df["mid"] >= df["tail"]


def test_generated_queries_match_oracle(small):
    """search() and batch_search() answer the generator's queries with the
    oracle's doc ids and float32 scores."""
    from workloads import K, batch_failures

    _, searcher, oracle = small
    passes = C.search_passes(11)
    queries = [q for _ in range(2) for _, _, q in next(passes)]
    for q in queries:
        got = [(int(d), float(s)) for d, s in searcher.search(q, K).collect()]
        assert got == oracle.search(q, K), q
    assert any(oracle.search(q, K) for q in queries)
    qs = {qid: q for qid, (_, _, q) in next(C.batch_calls(11)).items()}
    assert batch_failures(searcher.batch_search(qs, K).collect(), qs, oracle) == 0


def test_metric_names_declared_and_well_formed(spark, small, tmp_path):
    """Every metric the benchmark emits is declared in BENCHMARK.json, and
    every name uses only [A-Za-z0-9_.-]."""
    import workloads

    decl = _declared()
    for section in ("end_to_end", "per_layer"):
        for m in decl[section]:
            assert NAME.match(m["name"]), m["name"]
    for w in decl["workloads"]:
        assert NAME.match(w["name"]), w["name"]

    pdf, searcher, oracle = small
    b = workloads.Bench(spark, 1, 1.0, True, str(tmp_path), 0.0)
    with b.span("indexer.build"):
        pass
    with b.span("indexer.commit"):
        pass
    b.index_facts(searcher.index, pdf)
    checked, failed = b.probes(searcher, pdf, oracle, probe_searches=True)
    assert checked > 0 and failed == 0
    n = len(b.op_s)  # the probe's searches are timed operations
    rep = b.report("search", {"n_timed": n, "items_per_op": 1, "attempted": n, "failed": 0, "n_ops": n})
    assert set(rep["end_to_end"]) == {m["name"] for m in decl["end_to_end"]}
    assert set(rep["per_layer"]) == {m["name"] for m in decl["per_layer"]}
    for section in ("end_to_end", "per_layer"):
        units = {m["name"]: m["unit"] for m in decl[section]}
        for name, m in rep[section].items():
            assert m["unit"] == units[name], name
