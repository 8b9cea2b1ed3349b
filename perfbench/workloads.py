"""The benchmark's workloads and its layer probes.

Each workload sets up (stages its seeded corpus, builds and commits an index
where it queries one, warms up), then runs its operation in a closed loop
for the run length and checks every answer. Query answers are checked
against ``testing.oracle.OracleEngine``, the repo's scalar reference (dict
postings, full scan, no pruning), built from the staged corpus in a
background thread during the warm-up. Timed regions hold only calls into
the engine and the collect of their results.

The traced run wraps every call into an engine layer in a span, counts the
Spark jobs, stages and tasks of each operation, and after the loop runs the
same layer probes on every workload (kernels on a fixed text sample, JVM
scan and Python hop of one term's blocks, one search per shape, the pruning
counters), so every per-layer metric is measured in every traced run.
"""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import corpus as C
from lucene_solr_spark.functions import bm25
from lucene_solr_spark.functions.analysis import standard_analyzer
from lucene_solr_spark.functions.codec import pack_postings_blocks, unpack_blocks
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.operators.indexer import IndexConfig, InvertedIndex, build_index_sorted_source
from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import BooleanQuery, TermQuery
from lucene_solr_spark.testing.oracle import OracleEngine
from spans import JobCounter, Tracer

K = 10
# corpus size in turns and staged file count
N_TURNS, N_FILES = 6_000, 8
BATCH_SIZE = 64  # queries per batch_search call of the probes
PROBE_TEXTS = 2000  # turns in the kernel probes' text sample
MIN_OPS = 3  # the ingest loop runs at least this many operations
WARMUP_OPS = 2  # untimed builds before it: the first build of a session runs cold
MIN_PASSES = 2  # the search loop runs at least this many whole passes


def _index_config() -> IndexConfig:
    return IndexConfig(index_positions=True)


def _rows(pairs) -> list:
    return [(int(d), float(s)) for d, s in pairs]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _timed(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls of ``fn``."""
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def batch_failures(rows, queries: dict, oracle) -> int:
    """Queries of a batch_search result whose rows, in rank order, differ
    from the oracle's top-k (a query with no rows answers nothing)."""
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    return sum(got.get(qid, []) != oracle.search(q, K) for qid, q in queries.items())


def _tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by this process, by process
    ``root_pid`` and by every live descendant of it (the JVM, the PySpark
    daemon and its Python workers). Time the host steals from the virtual
    CPUs is not counted, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while being read
                continue
            # fields[1] = ppid; fields[11:15] = utime, stime, cutime, cstime
            stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    ticks = sum(stats[p][1] for p in tree if p in stats)
    own = resource.getrusage(resource.RUSAGE_SELF)
    return ticks / tick + own.ru_utime + own.ru_stime


def _fail(what: str) -> None:
    print(f"perfbench: failed operation: {what}", file=sys.stderr)


def _prunable(q) -> bool:
    """search() runs the block-max pre-pass only for a term or a pure OR."""
    return isinstance(q, TermQuery) or (
        isinstance(q, BooleanQuery) and all(c.occur == "SHOULD" for c in q.clauses)
    )


class Bench:
    """One run: the session, the seed, the run length, the tracer and the
    job counter, plus what the workload records for the report."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool, work: str, t_start: float):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.jobs = JobCounter(self.sc, trace)
        self.setup_s = 0.0
        self.jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        self.op_s: list = []  # wall seconds of each timed operation
        self.op_cpu_s: list = []  # CPU seconds of each, over all processes
        self.stamps: dict = {}
        self.layers: dict = {}
        self.detail: dict = {}

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    # ------------------------------------------------------------- set-up
    def stage(self, n_turns: int, n_files: int) -> tuple:
        path = os.path.join(self.work, "corpus")
        with self.span("setup.stage"):
            pdf = C.stage_corpus(n_turns, self.seed, n_files, path)
        self.stamps["corpus_turns"] = len(pdf)
        return path, pdf

    def build_and_commit(self, corpus_path: str) -> tuple:
        """Build the index with positions and commit it. Returns (in-memory
        index, committed path)."""
        path = os.path.join(self.work, "index")
        with self.span("indexer.build"):
            idx = build_index_sorted_source(self.spark, corpus_path, _index_config())
        with self.span("indexer.commit"):
            idx.write(path)
        return idx, path

    def index_facts(self, idx: InvertedIndex, pdf: pd.DataFrame) -> None:
        """Run count, postings count and postings bytes per text byte of a
        freshly built index."""
        row = idx.postings.agg(
            F.countDistinct("run_id").alias("runs"),
            F.sum("count").alias("postings"),
            F.sum(
                F.octet_length("doc_ids")
                + F.octet_length("tfs")
                + F.octet_length("norms")
                + F.coalesce(F.octet_length("positions"), F.lit(0))
            ).alias("bytes"),
        ).first()
        text_bytes = int(pdf["text"].str.encode("utf-8").str.len().sum())
        self.stamps["postings"] = int(row["postings"])
        self.layers["indexer.runs"] = (int(row["runs"]), "count")
        self.layers["indexer.postings_bytes_per_text_byte"] = (int(row["bytes"]) / text_bytes, "ratio")

    def open_query_index(self, n_turns: int, n_files: int) -> tuple:
        """Stage the corpus, build and commit the index, drop the build's
        cache and re-open the committed index, so queries run on the
        production layout (term-range-partitioned parquet). Returns
        (searcher, corpus)."""
        path, pdf = self.stage(n_turns, n_files)
        idx, ipath = self.build_and_commit(path)
        self.index_facts(idx, pdf)
        self.spark.catalog.clearCache()
        with self.span("indexer.read"):
            ix = InvertedIndex.read(self.spark, ipath, _index_config())
        return IndexSearcher(ix), pdf

    def gate_sides(self, searcher: IndexSearcher, queries: list) -> list:
        """'above_gate' when search() takes the block-max pre-pass for the
        query (a term or pure OR whose postings reach the searcher's cost
        gate), else 'below_gate'. Traced runs only: it costs a Spark job."""
        if not self.trace:
            return ["-"] * len(queries)
        terms = sorted(set().union(*(q.terms() for q in queries)))
        rows = searcher.index.terms.filter(F.col("term").isin(terms)).select("term", "df").collect()
        df = {r["term"]: int(r["df"]) for r in rows}
        gate = searcher.prune_min_postings
        return [
            "above_gate" if _prunable(q) and sum(df.get(t, 0) for t in q.terms()) >= gate else "below_gate"
            for q in queries
        ]

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start

    # ----------------------------------------------------------- the loop
    @contextmanager
    def timed_op(self, **attrs):
        """One timed operation: its wall seconds and the CPU seconds of the
        driver, the JVM and the Python workers while it ran."""
        with self.jobs.group(), self.span("op", **attrs):
            cpu = _tree_cpu_s(self.jvm_pid)
            t = time.perf_counter()
            yield
            self.op_s.append(time.perf_counter() - t)
            self.op_cpu_s.append(_tree_cpu_s(self.jvm_pid) - cpu)

    def search_op(self, searcher: IndexSearcher, q, shape: str, side: str) -> list:
        """One timed search() + collect. Returns the rows."""
        with self.timed_op(shape=shape, side=side):
            with self.span("searcher.search", shape=shape, side=side):
                td = searcher.search(q, K)
            with self.span("searcher.collect", shape=shape, side=side):
                return _rows(td.collect())

    # ------------------------------------------------------------- probes
    def probes(self, searcher: IndexSearcher, pdf: pd.DataFrame, oracle, probe_searches: bool) -> tuple:
        """Per-layer probes of the traced run, the same on every workload.
        Returns (answers checked against the oracle, answers that differ)."""
        if not self.trace:
            return 0, 0
        checked = failed = 0
        rng = np.random.default_rng([self.seed, 9])
        pick = np.sort(rng.choice(len(pdf), min(PROBE_TEXTS, len(pdf)), replace=False))
        texts = pdf["text"].iloc[pick].reset_index(drop=True)
        analyzer = standard_analyzer()

        def analyze():
            with self.span("analysis.analyze"):
                return analyzer.analyze_batch_with_positions(texts)

        flat, rows, dl, _ = analyze()
        self.layers["analysis.tokens_per_s"] = (len(flat) / _timed(analyze, 3), "1/s")

        # the build's flush: postings sorted by (term, doc), then packed
        codes, _ = pd.factorize(pd.Series(flat), sort=True)
        order = np.lexsort((rows, codes))
        tc, rr = codes[order], rows[order]
        new = np.ones(tc.size, dtype=bool)
        new[1:] = (tc[1:] != tc[:-1]) | (rr[1:] != rr[:-1])
        starts = np.flatnonzero(new)
        tfs = np.diff(np.append(starts, tc.size)).astype(np.int64)
        docs = rr[starts].astype(np.int64)
        norms = int_to_byte4(dl)[docs]

        def pack():
            with self.span("codec.pack"):
                return pack_postings_blocks(tc[starts], docs, tfs, norms)

        pack()
        self.layers["codec.pack_postings_per_s"] = (starts.size / _timed(pack, 3), "1/s")

        index = searcher.index
        h0, h1, h2, mid = C.probe_terms()
        cols = ("doc_id_base", "count", "doc_ids", "tfs", "norms")

        def blocks_of(term):
            b = index.postings.filter(F.col("term") == term).select(*cols).toPandas()
            return (b["doc_id_base"].to_numpy(), b["count"].to_numpy(), list(b["doc_ids"]), list(b["tfs"]), list(b["norms"]))

        head_blocks = blocks_of(h0)
        n_head = int(head_blocks[1].sum())

        def unpack():
            with self.span("codec.unpack"):
                return unpack_blocks(*head_blocks)

        _, h_tfs, h_norms, _ = unpack()
        self.layers["codec.unpack_postings_per_s"] = (n_head / _timed(unpack, 5), "1/s")
        scorer = bm25.BM25(index.doc_count, index.avgdl)
        cache, weight = scorer.cache(), scorer.weight(n_head)

        def score():
            with self.span("bm25.score"):
                return bm25.score_tf_norm(h_tfs, h_norms, weight, cache)

        score()
        self.layers["bm25.score_postings_per_s"] = (n_head / _timed(score, 5), "1/s")

        # one term's blocks through the JVM alone, through an identity Python
        # hop, through the numpy kernel and through search(): the floor split
        blk = index.postings.filter(F.col("term") == mid)

        def scan():
            with self.span("scan.term_blocks"):
                return blk.collect()

        def hop():
            with self.span("hop.identity"):
                return blk.mapInPandas(lambda it: it, schema=blk.schema).collect()

        scan(), hop()
        self.layers["scan.term_blocks_s"] = (_timed(scan, 3), "s")
        self.layers["hop.identity_s"] = (_timed(hop, 3), "s")
        mb = blocks_of(mid)

        def kernel():
            _, tf_, no_, _ = unpack_blocks(*mb)
            return bm25.score_tf_norm(tf_, no_, scorer.weight(int(mb[1].sum())), cache)

        mid_q = TermQuery(mid)
        self.detail["floor_split"] = {
            "term": mid,
            "blocks": len(mb[0]),
            "postings": int(mb[1].sum()),
            "kernel_s": _timed(kernel, 5),
            "scan_s": self.layers["scan.term_blocks_s"][0],
            "hop_s": self.layers["hop.identity_s"][0],
            "search_s": _timed(lambda: searcher.search(mid_q, K).collect(), 3),
        }

        if probe_searches:
            cells = C.QueryGen(np.random.default_rng([self.seed, 7])).cells(C.SEARCH_SHAPES)
            sides = self.gate_sides(searcher, [q for _, _, q in cells])
            for (shape, _, q), side in zip(cells, sides):
                rows = self.search_op(searcher, q, shape, side)
                checked += 1
                failed += rows != oracle.search(q, K)

        # batch_search: a warm-up call, then one timed call of 64 queries
        calls = C.batch_calls(self.seed, BATCH_SIZE)
        next(calls)  # the first call feeds batch_prune_metrics below
        for _ in range(2):
            qs = {qid: q for qid, (_, _, q) in next(calls).items()}
            t = time.perf_counter()
            with self.span("searcher.batch_search"):
                df = searcher.batch_search(qs, K)
            with self.span("searcher.batch_collect"):
                rows = df.collect()
            self.layers["searcher.batch_s"] = (time.perf_counter() - t, "s")
            checked += len(qs)
            failed += batch_failures(rows, qs, oracle)

        # the block-max pre-pass forced on (cost gate 0), whatever the size
        forced = IndexSearcher(index, prune_min_postings=0)
        or_head = BooleanQuery.build(should=[TermQuery(t) for t in (h0, h1, h2)])
        for shape, q in (("term", TermQuery(h0)), ("or3", or_head)):
            forced.search(q, K).collect()
            self.layers[f"searcher.search_s.{shape}.pruned"] = (
                _timed(lambda: forced.search(q, K).collect(), 3), "s"
            )
        with self.span("searcher.prune_metrics"):
            pm = forced.prune_metrics(or_head, K)
        self.layers["searcher.block_skip_rate"] = (pm.get("block_skip_rate", 0.0), "ratio")
        self.layers["searcher.posting_skip_rate"] = (pm.get("posting_skip_rate", 0.0), "ratio")
        call = next(C.batch_calls(self.seed, BATCH_SIZE))
        with self.span("searcher.batch_prune_metrics"):
            bm = forced.batch_prune_metrics({qid: q for qid, (_, _, q) in call.items()}, K)
        self.layers["searcher.batch_block_skip_rate"] = (bm.get("block_skip_rate", 0.0), "ratio")
        self.layers["searcher.batch_clause_pair_skip_rate"] = (bm.get("clause_pair_skip_rate", 0.0), "ratio")
        self.detail["prune_metrics"] = {"or3_head": pm, "batch": bm}
        if failed:
            _fail(f"probes: {failed} answers differ from the oracle")
        return checked, failed

    # ------------------------------------------------------------- report
    def _rss_mb(self) -> float:
        """Python driver plus JVM resident high-water marks, in MiB."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (py_kb + jvm_kb) / 1024.0

    def _search_cell(self, **match) -> list:
        """search() + collect seconds of every traced search matching."""
        return [
            a + b
            for a, b in zip(self.tracer.self_times("searcher.search", **match),
                            self.tracer.self_times("searcher.collect", **match))
        ]

    def _trace_layers(self, n_ops: int) -> None:
        self.layers["indexer.build_s"] = (_median(self.tracer.self_times("indexer.build")), "s")
        self.layers["indexer.commit_s"] = (_median(self.tracer.self_times("indexer.commit")), "s")
        cells = {}
        for shape in C.SEARCH_SHAPES:
            self.layers[f"searcher.search_s.{shape}"] = (_median(self._search_cell(shape=shape)), "s")
            for side in ("below_gate", "above_gate"):
                st = self._search_cell(shape=shape, side=side)
                if st:
                    cells[f"{shape}.{side}"] = {"n": len(st), "median_s": _median(st)}
        n_above = len(self.tracer.self_times("searcher.search", side="above_gate"))
        n_search = len(self.tracer.self_times("searcher.search"))
        self.detail["above_gate_share"] = n_above / max(n_search, 1)
        per_op = self.jobs.per_op[:n_ops]
        for i, name in enumerate(("jobs", "stages", "tasks")):
            self.layers[f"spark.{name}_per_op"] = (_median([p[i] for p in per_op]), "count")
        self.detail["search_cells"] = cells
        self.detail["spans"] = self.tracer.summary()

    def report(self, workload: str, res: dict) -> dict:
        import pyarrow

        n_timed = res["n_timed"]
        op_s, op_cpu_s = self.op_s[:n_timed], self.op_cpu_s[:n_timed]
        e2e = {
            "op_cpu_p50_s": (_median(op_cpu_s), "s"),
            "items_per_cpu_s": (res["items_per_op"] * n_timed / sum(op_cpu_s), "1/s"),
            "setup_s": (self.setup_s, "s"),
            "driver_peak_rss_mb": (self._rss_mb(), "MiB"),
        }
        # wall time follows the host's CPU steal on a shared VM: reported,
        # but not an end-to-end metric (see README.md)
        wall = {
            "wall.op_p50_s": (_median(op_s), "s"),
            "wall.items_per_s": (res["items_per_op"] * n_timed / sum(op_s), "1/s"),
        }
        if self.trace:
            self._trace_layers(res["n_ops"])
        self.stamps.update(
            workload=workload,
            seed=self.seed,
            seconds=self.seconds,
            trace=int(self.trace),
            nproc=len(os.sched_getaffinity(0)),
            spark_master=self.sc.master,
            driver_memory=self.sc.getConf().get("spark.driver.memory"),
            spark=self.spark.version,
            arrow=pyarrow.__version__,
            java=self.sc._jvm.java.lang.System.getProperty("java.version"),
            ops=res["n_ops"],
        )

        def as_metrics(d):
            return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(d.items())}

        return {
            "stamps": self.stamps,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "failed_frac": res["failed"] / res["attempted"],
            "end_to_end": as_metrics(e2e),
            "wall": as_metrics(wall),
            "per_layer": as_metrics(self.layers) if self.trace else {},
            "op_s": op_s,
            "op_cpu_s": op_cpu_s,
            "detail": {**self.detail, **res.get("detail", {})},
        }


# ---------------------------------------------------------------- workloads
def ingest(b: Bench) -> dict:
    """Build the staged corpus with positions and commit it, repeatedly."""
    path, pdf = b.stage(N_TURNS, N_FILES)
    flat, _, dl, _ = standard_analyzer().analyze_batch_with_positions(pdf["text"])
    expect = (len(pdf), int(dl.sum()))
    for _ in range(WARMUP_OPS):
        idx, ipath = b.build_and_commit(path)
    b.index_facts(idx, pdf)
    b.spark.catalog.clearCache()
    b.setup_done()

    failed, n, last_ok = 0, 0, False
    t_loop = time.perf_counter()
    while n < MIN_OPS or time.perf_counter() - t_loop < b.seconds:
        n += 1
        last_ok = False
        try:
            with b.timed_op():
                idx, ipath = b.build_and_commit(path)
            last_ok = (idx.doc_count, idx.sum_ttf) == expect
            if not last_ok:
                _fail(f"ingest: (doc_count, sum_ttf) {(idx.doc_count, idx.sum_ttf)} != {expect}")
        except Exception:
            traceback.print_exc()
        failed += not last_ok
        b.spark.catalog.clearCache()
    n_timed = len(b.op_s)
    # the last operation's commit must read back with the same statistics
    # and vocabulary
    ix = InvertedIndex.read(b.spark, ipath, _index_config())
    if last_ok and (ix.doc_count, ix.sum_ttf, ix.terms.count()) != (*expect, int(pd.unique(flat).size)):
        failed += 1
        _fail("ingest: the committed index does not read back")
    checked = probe_failed = 0
    if b.trace:
        oracle = OracleEngine(zip(range(len(pdf)), pdf["text"]), standard_analyzer())
        checked, probe_failed = b.probes(IndexSearcher(ix), pdf, oracle, probe_searches=True)
    return {
        "n_timed": n_timed, "items_per_op": len(pdf), "attempted": n + checked,
        "failed": failed + probe_failed, "n_ops": n,
    }


def search(b: Bench) -> dict:
    """A seeded stream of single search() calls over the committed index."""
    searcher, pdf = b.open_query_index(N_TURNS, N_FILES)
    # warm-up: one query of each shape from its own seeded generator, while
    # the oracle is built in a background thread
    with ThreadPoolExecutor(1) as ex:
        oracle = ex.submit(OracleEngine, zip(range(len(pdf)), pdf["text"]), standard_analyzer())
        warm = C.QueryGen(np.random.default_rng([b.seed, 8])).cells(C.SEARCH_SHAPES)
        for q in {shape: q for shape, _, q in warm}.values():
            searcher.search(q, K).collect()
        with b.span("setup.oracle"):
            oracle = oracle.result()
    passes = C.search_passes(b.seed)
    b.setup_done()

    failed, n, n_passes = 0, 0, 0
    t_loop = time.perf_counter()
    while n_passes < MIN_PASSES or time.perf_counter() - t_loop < b.seconds:
        cells = next(passes)
        n_passes += 1
        sides = b.gate_sides(searcher, [q for _, _, q in cells])
        for (shape, _, q), side in zip(cells, sides):
            n += 1
            try:
                rows = b.search_op(searcher, q, shape, side)
                if rows != oracle.search(q, K):
                    failed += 1
                    _fail(f"search: {q} differs from the oracle")
            except Exception:
                traceback.print_exc()
                failed += 1
    n_timed = len(b.op_s)
    checked, probe_failed = b.probes(searcher, pdf, oracle, probe_searches=False)
    return {
        "n_timed": n_timed, "items_per_op": 1, "attempted": n + checked, "failed": failed + probe_failed,
        "n_ops": n, "detail": {"passes": n_passes},
    }


WORKLOADS = {"ingest": ingest, "search": search}
