"""Distributed BM25 query evaluation over the inverted index.

The global query plan mirrors the reference's two-phase sharded search
(``reference solr/core/src/java/org/apache/solr/handler/component/
QueryComponent.java:495-590,673-688``): every partition produces candidate
(doc_id, score) rows, a global top-k reduce picks winners
(``orderBy(score desc, doc_id asc).limit(k)`` compiles to Spark's
TakeOrderedAndProject — per-partition heap + driver merge, the exact shape of
``TopScoreDocCollector`` + ``TopDocs.merge``, ``reference lucene/core/src/
java/org/apache/lucene/search/TopDocs.java:75-90``), and stored fields are
fetched only for winners via a broadcast semi-join (PURPOSE_GET_FIELDS).

Scorer-to-plan mapping (``search/Boolean2ScorerSupplier.java:93-188``): a
compound query reads all its term leaves in ONE postings scan, tags each row
with its clause unit, and runs ONE groupBy(doc_id) with a sum and a count
per unit (``_clause_rows``); the scorers become predicates over those:

- MUST conjunction          -> unit count == clause count
  (BlockMaxConjunctionScorer analog);
- SHOULD disjunction        -> summed scores (WANDScorer analog; two-pass
  block-max pruning below);
- MUST_NOT                  -> unit count == 0 (ReqExclScorer analog);
- FILTER                    -> semi-join on a cached doc set;
- minimumNumberShouldMatch  -> matched SHOULD count >= mm
  (MinShouldMatchSumScorer).

Block-max pruning (``search/ImpactsDISI.java:94-126``, ``WANDScorer.java``,
``MaxScoreCache.java:64``) is re-expressed shuffle-free as two passes:

1. a tiny sample of the highest-upper-bound blocks (a few KB to the driver)
   is exact-scored to obtain θ, a sound lower bound on the kth best score;
2. only blocks whose upper bound (plus the other query terms' global maxima,
   for disjunctions) reaches θ are unpacked and scored.

A pruned block provably contains no top-k doc: any doc in it has total score
< θ while every true top-k doc scores >= θ with all its blocks intact — so
results are identical to the exhaustive path (tested).

Float semantics for rank-identity: leaf scores are float32
(BM25Similarity.java:222-226), clause sums accumulate in double and cast back
to float32, ties break (score desc, doc_id asc) (HitQueue.java:76-80).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions import bm25
from ..functions.codec import unpack_blocks
from ..functions.similarities import BM25Similarity
from ..plans.query import (
    BlendedTermQuery,
    BooleanQuery,
    BoostQuery,
    CommonTermsQuery,
    ConstantScoreQuery,
    CoveringQuery,
    DisjunctionMaxQuery,
    FieldInSetQuery,
    FieldRangeQuery,
    FieldTermQuery,
    FuzzyQuery,
    MatchAllQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    SpanFirstQuery,
    SpanNearQuery,
    SpanPositionRangeQuery,
    SpanContainingQuery,
    SpanNotQuery,
    SpanOrQuery,
    SpanWithinQuery,
    SynonymQuery,
    TermAutomatonQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)

MAX_CLAUSE_COUNT = 1024  # BooleanQuery.maxClauseCount analog

# below this many total postings, the block-max θ pre-pass costs more than it
# saves (one extra Spark job vs ~ms of bulk decode); at 10^12-turn scale hot
# terms are far above it and pruning engages exactly where it matters
_MIN_PRUNE_POSTINGS = 200_000
from .indexer import InvertedIndex

_SCORED_SCHEMA = "term string, doc_id bigint, tf int, norm int, score float"

# batch_search ships clause occurs as ints so the per-posting exchange rows
# stay narrow; MUST/SHOULD sort below FILTER so "scoring clause" is occ <= 1
_OCC_CODE = {"MUST": 0, "SHOULD": 1, "FILTER": 2, "MUST_NOT": 3}


# the block columns the unpack kernel reads; selecting them first keeps the
# positions and payloads binaries off the Arrow hop
_BLOCK_COLS = ("term", "run_id", "block_id", "doc_id_base", "count", "doc_ids", "tfs", "norms")


def _make_unpack_score(params, sim, codec: str = "varint"):
    """mapInPandas fn: block rows -> (term, doc_id, tf, norm, score float32).

    Bulk-decodes every block in the Arrow batch with two numpy varint decodes
    (ForUtil bulk-decode analog) and scores with ``sim.score``
    (functions/similarities.py) — no per-row Python.  ``params`` maps term ->
    ``Similarity.term_params`` tuple, or is one tuple for every term."""
    if isinstance(params, dict):
        slot_maps = [{t: p[i] for t, p in params.items()} for i in range(sim.n_params)]

    def fn(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            counts = pdf["count"].to_numpy(dtype=np.int64)
            doc_ids, tfs, norms, _ = unpack_blocks(
                pdf["doc_id_base"].to_numpy(dtype=np.int64),
                counts,
                list(pdf["doc_ids"]),
                list(pdf["tfs"]),
                list(pdf["norms"]),
                codec=codec,
            )
            if isinstance(params, dict):
                ws = [np.repeat(pdf["term"].map(m).to_numpy(dtype=np.float64), counts) for m in slot_maps]
            else:
                ws = [np.full(len(doc_ids), p, dtype=np.float64) for p in params]
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(dtype=object), counts),
                    "doc_id": doc_ids,
                    "tf": tfs.astype(np.int32),
                    "norm": norms.astype(np.int32),
                    "score": sim.score(*ws, tfs, norms),
                }
            )
        from lucene_solr_spark.memutil import trim_task_memory

        trim_task_memory()

    return fn


@dataclass
class TopDocs:
    """Search result: DataFrame (doc_id bigint, score float), already ranked."""

    df: DataFrame
    k: int

    def collect(self):
        return [(r["doc_id"], r["score"]) for r in self.df.collect()]


class IndexSearcher:
    """Analog of ``search/IndexSearcher.java`` bound to one InvertedIndex.

    ``corpus`` (optional) enables stored-field fetch and two-phase phrase
    verification; it must carry (config.id_col, config.text_col).
    """

    def __init__(
        self,
        index: InvertedIndex,
        corpus: Optional[DataFrame] = None,
        filter_cache_size: int = 32,
        filter_cache_min_uses: int = 1,
        similarity=None,
        prune_min_postings: int = _MIN_PRUNE_POSTINGS,
    ):
        self.index = index
        self.corpus = corpus
        # pruning cost gate; 0 = always run the θ pre-pass (tests pin this)
        self.prune_min_postings = int(prune_min_postings)
        self.spark = index.postings.sparkSession
        # IndexSearcher.setSimilarity analog: None means the default
        # BM25Similarity (``search/IndexSearcher.java:118``).  The similarity
        # resolves per-term params and scores postings for term/boolean/
        # dismax/synonym/fuzzy evaluation and block-max pruning (all kernels
        # are monotone, so pruning stays sound). Phrase/span/multiterm
        # rewrites keep BM25 / constant-score semantics.
        self.similarity = similarity or BM25Similarity()
        # LRUQueryCache / SolrIndexSearcher.filterCache analog: hot FILTER
        # doc-sets persisted, LRU-evicted (SolrIndexSearcher.java:119-120)
        from collections import OrderedDict

        self._filter_cache: "OrderedDict[Query, DataFrame]" = OrderedDict()
        self._filter_cache_size = filter_cache_size
        # UsageTrackingQueryCachingPolicy analog (``search/
        # UsageTrackingQueryCachingPolicy.java``): only admit a filter to the
        # cache once it has been seen this many times — one-off filters never
        # pay the persist (Lucene's minFrequencyToCache).  Default 1 keeps
        # the historical cache-on-first-use behavior.
        self._filter_cache_min_uses = max(1, int(filter_cache_min_uses))
        self._filter_use_counts: dict = {}
        # BloomFilteringPostingsFormat analog (operators/bloom.py): per-run
        # term FuzzySets; when set, every postings scan adds a run_id
        # predicate that skips runs whose bloom rejects all query terms
        self._term_blooms: Optional[DataFrame] = None
        # TermStates cache: term -> (df, ttf) or None if absent from the index
        self._stats_cache: dict = {}
        # span-query positional-occurrence persists, released on the next
        # search() (see _persist_span_occ) so they can't accumulate forever
        self._span_occ_persists: list = []
        # pending-deletes count, cached per deletes DataFrame identity (used
        # to keep the θ pre-pass sound while deletes are unexpunged)
        self._del_count_cache: Optional[tuple] = None

    def _deletes_count(self) -> int:
        """Number of pending deleted doc_ids (0 when none).  Cached per
        deletes-DataFrame identity — delete_by_query reassigns the frame, so
        identity is a correct invalidation key."""
        d = self.index.deletes
        if d is None:
            return 0
        if self._del_count_cache is not None and self._del_count_cache[0] == id(d):
            return self._del_count_cache[1]
        n = int(d.count())
        self._del_count_cache = (id(d), n)
        return n

    def _persist_span_occ(self, occ: DataFrame) -> DataFrame:
        """Persist a positional-occurrence scan shared by several span
        enumerations of ONE query, and register it for release.  The caches
        are unpersisted at the next ``search()``/``release_span_caches()``
        rather than inline because the result DataFrame is lazy — an inline
        unpersist would defeat the sharing.  Re-materializing a previous
        query's result after a new search simply recomputes the scan
        (correct, just uncached)."""
        occ = occ.persist()
        self._span_occ_persists.append(occ)
        return occ

    def release_span_caches(self) -> None:
        """Unpersist positional-occurrence caches from earlier span queries
        (the span-eval persist would otherwise leak one cached DataFrame per
        span query for the session)."""
        for df in self._span_occ_persists:
            df.unpersist()
        self._span_occ_persists = []

    def set_term_blooms(self, blooms: Optional[DataFrame]) -> "IndexSearcher":
        """Attach a per-run bloom table from
        :func:`lucene_solr_spark.operators.bloom.build_term_blooms` (the
        BloomFilteringPostingsFormat ``seekExact`` fast-reject). Results are
        identical with or without (bloom NO is definitive); pass None to
        detach. Returns self for chaining."""
        self._term_blooms = blooms
        return self

    def _postings_for(self, terms: list) -> DataFrame:
        """Postings blocks for the given terms, bloom-pruned by run when a
        bloom table is attached: one tiny job over the (runs-sized) bloom
        table resolves the definitively-rejecting run_ids, then the scan
        predicate becomes ``term IN (...) AND NOT run_id IN (rejected)`` —
        row groups of runs that provably lack every term are never read,
        while runs the bloom table doesn't cover are left alone."""
        blocks = self.index.postings.filter(F.col("term").isin(list(terms)))
        if self._term_blooms is not None:
            from .bloom import rejected_run_ids

            # Exclude only runs whose bloom DEFINITIVELY rejects every term.
            # A run absent from the bloom table (built before newer runs were
            # flushed/merged) is never pruned — fail-open keeps results
            # identical with or without the bloom attached.
            rejected = rejected_run_ids(self._term_blooms, list(terms))
            if rejected:
                blocks = blocks.filter(~F.col("run_id").isin(rejected))
        return blocks

    def cached_filter(self, query: Query) -> DataFrame:
        """Doc-id set of `query`, persisted and LRU-cached across searches
        once the usage-tracking policy admits it."""
        if query in self._filter_cache:
            self._filter_cache.move_to_end(query)
            return self._filter_cache[query]
        stats = self._term_stats(query.terms())
        ids = self._evaluate(query, 1.0, stats).select("doc_id").distinct()
        uses = self._filter_use_counts[query] = self._filter_use_counts.get(query, 0) + 1
        if uses < self._filter_cache_min_uses:
            return ids  # not yet hot enough to admit (usage-tracking policy)
        ids = ids.persist()
        self._filter_cache[query] = ids
        if len(self._filter_cache) > self._filter_cache_size:
            _, evicted = self._filter_cache.popitem(last=False)
            evicted.unpersist()
        return ids

    # ---------------------------------------------------------------- stats
    def _term_stats(self, terms: set[str]) -> dict:
        """Global term statistics — the Weight/TermStates resolution step
        (reference index/TermStates.java:102, IndexSearcher.java:772,788).

        Cached per searcher: stats are immutable for a bound index snapshot
        (deletes intentionally don't change them until merge — see
        delete_by_query), so each term pays its driver-side lookup job once.
        """
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._stats_cache]
        if missing:
            rows = self.index.terms.filter(F.col("term").isin(missing)).collect()
            found = {r["term"]: (int(r["df"]), int(r["ttf"])) for r in rows}
            for t in missing:
                self._stats_cache[t] = found.get(t)
        return {t: self._stats_cache[t] for t in terms if self._stats_cache[t] is not None}

    def _scorer(self) -> bm25.BM25:
        return bm25.BM25(doc_count=self.index.doc_count, avgdl=self.index.avgdl)

    def _leaf_w(self, b: float, term: str, stats: dict) -> tuple:
        """Per-term params under the active similarity — the Weight/SimScorer
        construction step (``Similarity.term_params``)."""
        df, ttf = stats[term]
        return self._params(b, df, ttf)

    def _params(self, b: float, df: int, ttf: int) -> tuple:
        return self.similarity.term_params(b, df, ttf, self.index.doc_count, self.index.sum_ttf)

    def _require_bm25(self, what: str) -> None:
        """Guard for the paths whose arithmetic holds only for the BM25
        family: its leaf score factors as ``f32(w·t)`` with a term-free unit
        score ``t`` (batch unit weights, explain's weight/tf split)."""
        if not isinstance(self.similarity, BM25Similarity):
            raise NotImplementedError(f"{what} supports the BM25 similarity family")

    def _weight_params(self, weights: dict) -> dict:
        """term -> params scoring ``f32(w·t)`` for precomputed float32 leaf
        weights (unit weights, NearestFuzzyQuery's df=1 leaves)."""
        self._require_bm25("precomputed leaf weights")
        return {
            t: self.similarity.weight_params(w, self.index.doc_count, self.index.sum_ttf)
            for t, w in weights.items()
        }

    def _unit_params(self, terms) -> dict:
        """Weight-1 params: the kernel then emits the unit score ``t``."""
        return self._weight_params(dict.fromkeys(terms, 1.0))

    # ------------------------------------------------------------ leaf plans
    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], "doc_id bigint, score float")

    def _scored_postings(self, params, blocks: Optional[DataFrame] = None, sim=None) -> DataFrame:
        """(term, doc_id, tf, norm, score) for all terms in `params` (see
        :func:`_make_unpack_score`) under `sim` (default: the searcher's),
        read from `blocks` when given."""
        if not params:
            return self.spark.createDataFrame([], _SCORED_SCHEMA)
        if blocks is None:
            blocks = self._postings_for(list(params))
        return blocks.select(*_BLOCK_COLS).mapInPandas(
            _make_unpack_score(params, sim or self.similarity, self.index.config.codec),
            schema=_SCORED_SCHEMA,
        )

    def _matching_postings(self, terms=(), blocks: Optional[DataFrame] = None) -> DataFrame:
        """:meth:`_scored_postings` for callers that read only doc_id/tf/norm:
        every row is scored by the unit BM25 kernel whatever the searcher's
        similarity, so no term statistics are needed."""
        if blocks is None:
            blocks = self._postings_for(list(terms))
        return self._scored_postings((1.0, 1.0), blocks, BM25Similarity())

    def _eval_term(self, q: TermQuery, boost: float, stats: dict) -> DataFrame:
        df_ttf = stats.get(q.term)
        if not df_ttf:
            return self._empty()
        w = self._leaf_w(boost * q.boost, q.term, stats)
        return self._scored_postings({q.term: w}).select("doc_id", "score")

    def _eval_synonym(self, q: SynonymQuery, boost: float, stats: dict) -> DataFrame:
        """SynonymQuery.java:54 — blended stats: df = max over terms, tf summed
        per doc, scored as one pseudo-term.  A term listed k times gets k
        postings enums in the reference's DisiPriorityQueue (SynonymQuery.java
        constructor keeps duplicates, :145-155 sums ttf per ENTRY), so its tf
        and ttf count k times here too (caught by the randomized-tree suite)."""
        from collections import Counter

        present = [t for t in q.synonyms if t in stats]
        if not present:
            return self._empty()
        mult = Counter(present)
        # blended stats: df = max over terms, ttf summed per entry
        blended_df = max(stats[t][0] for t in mult)
        scored = self._matching_postings(mult)
        if any(m > 1 for m in mult.values()):
            mfac = F.lit(1)
            for t, m in mult.items():
                if m > 1:
                    mfac = F.when(F.col("term") == t, F.lit(m)).otherwise(mfac)
            scored = scored.withColumn("tf", F.col("tf") * mfac)
        raw = scored.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("tf"), F.first("norm").alias("norm")
        )
        blended_ttf = sum(stats[t][1] * m for t, m in mult.items())
        wps = self._params(boost * q.boost, blended_df, blended_ttf)
        sim = self.similarity

        @F.pandas_udf(T.FloatType())
        def syn_score(tf: pd.Series, norm: pd.Series) -> pd.Series:
            tfs = tf.to_numpy(dtype=np.int64)
            ws = [np.full(tfs.shape, w) for w in wps]
            return pd.Series(sim.score(*ws, tfs, norm.to_numpy(dtype=np.int64)))

        return raw.select("doc_id", syn_score("tf", "norm").alias("score"))

    @staticmethod
    def _wildcard_to_like(pattern: str) -> str:
        return (
            pattern.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_").replace("*", "%").replace("?", "_")
        )

    def _multiterm_predicate(self, q: Query):
        """Term-dictionary predicate for each MultiTermQuery type — the
        automaton-over-the-FST analog (``MultiTermQuery.java``,
        ``AutomatonQuery.java``), expressed as a Catalyst filter over the
        `terms` table (min/max-pruned parquet scan)."""
        c = F.col("term")
        if isinstance(q, PrefixQuery):
            return c.startswith(q.prefix)
        if isinstance(q, WildcardQuery):
            return c.like(self._wildcard_to_like(q.pattern))
        if isinstance(q, RegexpQuery):
            return c.rlike(f"^(?:{q.regex})$")
        if isinstance(q, TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
            return pred
        if isinstance(q, TermInSetQuery):
            return c.isin(list(q.in_terms))
        if isinstance(q, FuzzyQuery):
            # transpositions (OSA) can halve the classic distance, so the
            # dictionary pre-filter widens to 2*max_edits and the exact OSA
            # check runs driver-side on the (tiny) expansion
            bound = q.max_edits * (2 if q.transpositions else 1)
            pred = F.levenshtein(c, F.lit(q.term)) <= bound
            if q.prefix_length:
                pred = pred & c.startswith(q.term[: q.prefix_length])
            return pred
        raise NotImplementedError(type(q).__name__)

    def _eval_fuzzy_scored(self, q: FuzzyQuery, boost: float) -> DataFrame:
        """FuzzyQuery's default TopTermsBlendedFreqScoringRewrite
        (``FuzzyQuery.java:100``): expand via the term dictionary, keep the
        top `max_expansions` terms by (boost desc, term asc)
        (``TopTermsRewrite.java:202-207`` ScoreTerm ordering), blend
        statistics across them — df = max(df), ttf = Σttf
        (``BlendedTermQuery.java:275-284``) — then score every term with the
        blended stats and its fuzzy boost and sum per doc (BOOLEAN_REWRITE
        SHOULD clauses, ``BlendedTermQuery.java:133``)."""
        rows = (
            self.index.terms.filter(self._multiterm_predicate(q))
            .select("term", "df", "ttf")
            .collect()
        )
        if not rows:
            return self._empty()
        if len(rows) > MAX_CLAUSE_COUNT:
            raise ValueError(f"fuzzy expansion exceeds {MAX_CLAUSE_COUNT} terms (maxClauseCount)")

        from ..functions.editdist import levenshtein, osa

        dist = osa if q.transpositions else levenshtein
        cand = []
        for r in rows:
            t = r["term"]
            ed = dist(t, q.term)
            if ed > q.max_edits:  # pre-filter is a superset under OSA
                continue
            if ed == 0:
                b_t = np.float32(1.0)
            else:
                # 1.0f - (float) ed / (float) minTermLength  (FuzzyTermsEnum.java:230-237)
                b_t = np.float32(1.0) - np.float32(ed) / np.float32(min(len(t), len(q.term)))
            cand.append((float(b_t), t, int(r["df"]), int(r["ttf"])))
        if not cand:
            return self._empty()
        cand.sort(key=lambda x: (-x[0], x[1]))
        sel = cand[: int(q.max_expansions)]

        blended_df = max(c[2] for c in sel)
        blended_ttf = sum(c[3] for c in sel)
        weights: dict = {}
        for b_t, t, _, _ in sel:
            # float32 boost chain: outer boost × query boost × fuzzy boost
            total_b = float(np.float32(np.float32(boost * q.boost) * np.float32(b_t)))
            weights[t] = self._params(total_b, blended_df, blended_ttf)
        # SHOULD-sum: f32 leaf scores, double accumulation, f32 cast
        # (DisjunctionSumScorer semantics, as in _eval_boolean)
        return (
            self._scored_postings(weights)
            .groupBy("doc_id")
            .agg(F.sum(F.col("score").cast("double")).cast("float").alias("score"))
        )

    def _eval_multiterm(self, q: Query, boost: float) -> DataFrame:
        """CONSTANT_SCORE_REWRITE (MultiTermQuery.java:68,94): expand via the
        term dictionary, match the union of postings, constant score."""
        expanded = [r["term"] for r in self.index.terms.filter(self._multiterm_predicate(q)).collect()]
        if isinstance(q, FuzzyQuery) and q.transpositions:
            from ..functions.editdist import osa

            expanded = [t for t in expanded if osa(t, q.term) <= q.max_edits]
        if len(expanded) > MAX_CLAUSE_COUNT:
            raise ValueError(f"multi-term expansion exceeds {MAX_CLAUSE_COUNT} terms (maxClauseCount)")
        if not expanded:
            return self._empty()
        docs = self._matching_postings(expanded).select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _positional_occurrences(self, uniq_terms: list) -> DataFrame:
        """(term, doc_id, norm, pos) rows for every occurrence of the given
        terms, bulk-decoded from the positional postings (.pos stream analog)
        — shared by phrase and span evaluation. No per-row Python."""
        from ..functions.codec import unpack_blocks, unpack_positions

        blocks = self._postings_for(list(uniq_terms))
        codec = self.index.config.codec

        def occurrences(iterator):
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                doc_ids, tfs, norms, _ = unpack_blocks(
                    pdf["doc_id_base"].to_numpy(dtype=np.int64),
                    pdf["count"].to_numpy(dtype=np.int64),
                    list(pdf["doc_ids"]),
                    list(pdf["tfs"]),
                    list(pdf["norms"]),
                    codec=codec,
                )
                pos = unpack_positions(tfs, list(pdf["positions"]))
                counts = pdf["count"].to_numpy(dtype=np.int64)
                term_per_posting = np.repeat(pdf["term"].to_numpy(dtype=object), counts)
                yield pd.DataFrame(
                    {
                        "term": np.repeat(term_per_posting, tfs),
                        "doc_id": np.repeat(doc_ids, tfs),
                        "norm": np.repeat(norms.astype(np.int32), tfs),
                        "pos": pos,
                    }
                )

        return blocks.mapInPandas(occurrences, schema="term string, doc_id bigint, norm int, pos bigint")

    def _eval_span_near(self, q, boost: float, stats: dict) -> DataFrame:
        """SpanNearQuery over single-term clauses (``search/spans/
        SpanNearQuery.java``, ``NearSpansOrdered.java:?`` ordered chain /
        ``NearSpansUnordered.java`` two-clause window).

        Plan: occurrence rows from the positional postings, then an n-way
        chain of doc_id equi-joins with position range conditions — all
        Catalyst joins, the position inequality rides along the co-partitioned
        doc_id key.  Ordered total-gap identity:
        ``sum(p_{i+1}-p_i-1) = p_last - p_first - (n-1)`` for an increasing
        chain, so one filter at the end suffices.  Constant score (documented
        deviation — see plans.query.SpanNearQuery)."""
        # nested span clauses (surround `a W b W c` trees, or-of-nears,
        # first/posrange/not sub-spans, or a tuple whose elements are
        # themselves span clauses — an inline SpanOr over clauses): evaluate
        # via the recursive span enumerator — same join machinery, (s, e)
        # streams.  The fast path below assumes every tuple element is a
        # plain term string, so mixed tuples must route here too.
        if any(
            isinstance(c, Query)
            or (isinstance(c, tuple) and any(not isinstance(t, str) for t in c))
            for c in q.span_terms
        ):
            if not self.index.config.index_positions:
                raise ValueError("SpanNearQuery needs an index built with index_positions=True")
            uniq = sorted(t for t in q.terms() if t in stats)
            if not uniq:
                return self._empty()
            occ = self._persist_span_occ(self._positional_occurrences(uniq))
            st = self._span_enum(q, occ, stats)
            if st is None:
                return self._empty()
            docs = st.select("doc_id").distinct()
            return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))
        # normalize clauses: a tuple element is an inline single-term SpanOr
        # (SpanOrQuery.java — union of the alternatives' span streams); a
        # clause with no indexed alternative yields no spans at all
        clauses = [tuple(c) if isinstance(c, tuple) else (c,) for c in q.span_terms]
        clauses = [tuple(t for t in c if t in stats) for c in clauses]
        if any(not c for c in clauses):
            return self._empty()
        if not self.index.config.index_positions:
            raise ValueError("SpanNearQuery needs an index built with index_positions=True")
        uniq = list(dict.fromkeys(t for c in clauses for t in c))
        occ = self._positional_occurrences(uniq)
        occ = self._persist_span_occ(occ) if len(uniq) > 1 else occ

        parts = [
            occ.filter(F.col("term").isin(list(c))).select("doc_id", F.col("pos").alias(f"p{i}"))
            for i, c in enumerate(clauses)
        ]
        if q.in_order:
            m = parts[0]
            for i in range(1, len(parts)):
                m = m.join(parts[i], "doc_id").filter(F.col(f"p{i}") > F.col(f"p{i-1}"))
            m = m.filter(
                (F.col(f"p{len(clauses)-1}") - F.col("p0") - F.lit(len(clauses) - 1)) <= F.lit(int(q.slop))
            )
        elif len(clauses) == 2:
            m = parts[0].join(parts[1], "doc_id").filter(
                (F.abs(F.col("p1") - F.col("p0")) - 1 <= F.lit(int(q.slop))) & (F.col("p1") != F.col("p0"))
            )
        else:
            # n-ary NearSpansUnordered window over unit-width spans:
            # (max(p)+1 - min(p)) - n <= slop (NearSpansUnordered.java:44-95)
            pcols = [F.col(f"p{i}") for i in range(len(clauses))]
            m = parts[0]
            for i in range(1, len(parts)):
                m = m.join(parts[i], "doc_id")
            m = m.filter(
                (F.greatest(*pcols) + 1 - F.least(*pcols)) - F.lit(len(clauses))
                <= F.lit(int(q.slop))
            )
        docs = m.select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _eval_span_clause_docs(self, q, boost: float, stats: dict, kind: str) -> DataFrame:
        """Standalone evaluation of a span query whose inner clause is a
        composed span clause (not a plain term): one persisted positional
        scan feeds the recursive enumerator, distinct docs, constant score —
        the same path _eval_span_or takes for span-clause unions."""
        if not self.index.config.index_positions:
            raise ValueError(f"{kind} needs an index built with index_positions=True")
        from ..plans.query import _span_clause_terms

        uniq = [t for t in sorted(_span_clause_terms(q)) if t in stats]
        if not uniq:
            return self._empty()
        occ = self._persist_span_occ(self._positional_occurrences(uniq))
        st = self._span_enum(q, occ, stats)
        if st is None:
            return self._empty()
        docs = st.select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _eval_span_first(self, q: SpanFirstQuery, boost: float, stats: dict) -> DataFrame:
        """SpanFirstQuery (``search/spans/SpanFirstQuery.java``): the inner
        span must end within the first ``end`` positions.  A plain-term inner
        clause is a single predicate on the decoded positions, no join; a
        composed inner clause (tuple / SpanNear / SpanOr / SpanNot / nested
        first-posrange — the reference's full composability) routes through
        the recursive span enumerator."""
        if not isinstance(q.term, str):
            return self._eval_span_clause_docs(q, boost, stats, "SpanFirstQuery")
        if q.term not in stats:
            return self._empty()
        if not self.index.config.index_positions:
            raise ValueError("SpanFirstQuery needs an index built with index_positions=True")
        occ = self._positional_occurrences([q.term])
        docs = occ.filter(F.col("pos") + 1 <= F.lit(int(q.end))).select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _eval_span_posrange(self, q, boost: float, stats: dict) -> DataFrame:
        """SpanPositionRangeQuery (``search/spans/SpanPositionRangeQuery.
        java``): spans with ``start <= s`` and ``e <= end``.  Plain-term
        inner clause: one predicate over the decoded positions, no join;
        composed inner clause: the recursive span enumerator (same
        composability as SpanFirstQuery)."""
        if not isinstance(q.term, str):
            return self._eval_span_clause_docs(q, boost, stats, "SpanPositionRangeQuery")
        if q.term not in stats:
            return self._empty()
        if not self.index.config.index_positions:
            raise ValueError("SpanPositionRangeQuery needs index_positions=True")
        occ = self._positional_occurrences([q.term])
        docs = (
            occ.filter((F.col("pos") >= F.lit(int(q.start))) & (F.col("pos") + 1 <= F.lit(int(q.end))))
            .select("doc_id")
            .distinct()
        )
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _expand_span_multiterm(self, w) -> tuple:
        """SpanMultiTermQueryWrapper default rewrite: dictionary expansion to
        the matching terms (→ SpanOr alternatives), maxClauseCount-capped."""
        inner = w.query
        expanded = [r["term"] for r in self.index.terms.filter(self._multiterm_predicate(inner)).collect()]
        if isinstance(inner, FuzzyQuery) and inner.transpositions:
            from ..functions.editdist import osa

            expanded = [t for t in expanded if osa(t, inner.term) <= inner.max_edits]
        if len(expanded) > MAX_CLAUSE_COUNT:
            raise ValueError(f"span multi-term expansion exceeds {MAX_CLAUSE_COUNT} terms (maxClauseCount)")
        return tuple(sorted(expanded))

    def _rewrite_span_multiterm(self, q: Query) -> Query:
        """Pre-createWeight rewrite pass (the ``IndexSearcher.rewrite`` loop
        analog): replace every SpanMultiTermWrapper with its dictionary
        expansion so stats resolution sees concrete terms."""
        from ..plans.query import SpanMultiTermWrapper as _SMW

        if isinstance(q, _SMW):
            terms = self._expand_span_multiterm(q)
            return SpanOrQuery(terms) if terms else MatchNoDocsQuery()
        if isinstance(q, SpanNearQuery) and any(
            isinstance(c, (_SMW, SpanNearQuery)) for c in q.span_terms
        ):
            new_clauses = []
            for c in q.span_terms:
                if isinstance(c, _SMW):
                    t = self._expand_span_multiterm(c)
                    if not t:
                        return MatchNoDocsQuery()  # a clause with no terms matches nothing
                    new_clauses.append(t)
                elif isinstance(c, SpanNearQuery):
                    rc = self._rewrite_span_multiterm(c)
                    if isinstance(rc, MatchNoDocsQuery):
                        return MatchNoDocsQuery()
                    new_clauses.append(rc)
                else:
                    new_clauses.append(c)
            return SpanNearQuery(tuple(new_clauses), slop=q.slop, in_order=q.in_order, boost=q.boost)
        if isinstance(q, BooleanQuery):
            from ..plans.query import BooleanClause

            return BooleanQuery(
                clauses=tuple(
                    BooleanClause(self._rewrite_span_multiterm(c.query), c.occur) for c in q.clauses
                ),
                minimum_should_match=q.minimum_should_match,
            )
        if isinstance(q, BoostQuery):
            return BoostQuery(self._rewrite_span_multiterm(q.query), q.boost)
        if isinstance(q, ConstantScoreQuery):
            return ConstantScoreQuery(self._rewrite_span_multiterm(q.query), q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            return DisjunctionMaxQuery(
                tuple(self._rewrite_span_multiterm(d) for d in q.disjuncts), q.tie_breaker
            )
        return q

    def _eval_span_or(self, q: SpanOrQuery, boost: float, stats: dict) -> DataFrame:
        """Standalone SpanOrQuery: union of the clause span streams
        (``SpanOrQuery.java`` DisiPriorityQueue union).  Clauses may be
        terms or ANY span clause (near/first/posrange/not/nested or —
        TestBasics testSpanOr unions two SpanNears).  All-term clauses take
        the doc-level postings fast path (no positions needed); clause
        objects enumerate spans from one positional scan."""
        if all(isinstance(t, str) for t in q.span_terms):
            present = [t for t in q.span_terms if t in stats]
            if not present:
                return self._empty()
            docs = self._matching_postings(present).select("doc_id").distinct()
            return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))
        if not self.index.config.index_positions:
            raise ValueError("span-clause SpanOrQuery needs index_positions=True")
        from ..plans.query import _span_clause_terms

        uniq = [t for t in sorted(_span_clause_terms(q)) if t in stats]
        if not uniq:
            return self._empty()
        occ = self._persist_span_occ(self._positional_occurrences(uniq))
        st = self._span_union(q.span_terms, occ, stats)
        if st is None:
            return self._empty()
        docs = st.select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _span_union(self, subs, occ: DataFrame, stats: dict):
        """Union of the sub-clauses' span streams — the SpanOrQuery
        enumeration; absent clauses drop out, all-absent returns None."""
        streams = []
        for c in subs:
            st = self._span_enum(c, occ, stats)
            if st is not None:
                streams.append(st.select("doc_id", "s", "e"))
        if not streams:
            return None
        out = streams[0]
        for st in streams[1:]:
            out = out.unionByName(st)
        return out

    def _eval_span_not(self, q: SpanNotQuery, boost: float, stats: dict) -> DataFrame:
        """SpanNotQuery (``search/spans/SpanNotQuery.java``): include spans
        with no exclude span overlapping the ``[start - pre, end + post)``
        window.  Include and exclude may each be ANY span clause — a term, a
        tuple (inline SpanOr), a SpanNearQuery, SpanFirst/PositionRange, or
        a nested SpanNotQuery — the reference's full composability
        (TestBasics testSpanNot / testSpanWithMultipleNot* /
        testNpeInSpanNear* families).

        Plan: both span streams enumerate from ONE positional scan; the
        exclusion is a doc_id anti-join with the window condition riding
        along, then distinct docs — all Catalyst, no UDF."""
        if not self.index.config.index_positions:
            raise ValueError("SpanNotQuery needs an index built with index_positions=True")
        from ..plans.query import _span_clause_terms

        uniq = [
            t
            for t in dict.fromkeys(
                sorted(_span_clause_terms(q.include_term) | _span_clause_terms(q.exclude_term))
            )
            if t in stats
        ]
        if not uniq:
            return self._empty()
        occ = self._persist_span_occ(self._positional_occurrences(uniq))
        survivors = self._span_not_stream(q, occ, stats)
        if survivors is None:
            return self._empty()
        docs = survivors.select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _span_enum(self, clause, occ: DataFrame, stats: dict):
        """Enumerate a span clause's spans as (doc_id, s, e) rows (e is
        exclusive, Lucene's ``Spans.endPosition`` convention). A clause is a
        term, a tuple of terms (inline SpanOr — ``SpanOrQuery.java``), or an
        ordered single-term/tuple SpanNearQuery. Returns None when a required
        term is absent from the index (the clause can match nothing)."""
        from ..plans.query import SpanNearQuery as _SNQ

        if isinstance(clause, str):
            clause = (clause,)
        if isinstance(clause, tuple) and all(isinstance(t, str) for t in clause):
            live = [t for t in clause if t in stats]
            if not live:
                return None
            return occ.filter(F.col("term").isin(live)).select(
                "doc_id", F.col("pos").alias("s"), (F.col("pos") + 1).alias("e")
            )
        if isinstance(clause, tuple):
            # mixed tuple: treat as an inline SpanOr over span clauses
            return self._span_union(clause, occ, stats)
        if isinstance(clause, SpanOrQuery):
            # SpanOrQuery as a CLAUSE (TestBasics testSpanComplex1 puts an
            # or-of-nears inside an ordered near)
            return self._span_union(clause.span_terms, occ, stats)
        if isinstance(clause, _SNQ):
            # children may themselves be terms, tuples, or nested near
            # queries (the surround parser's left-associative `a W b W c`);
            # recursion keeps each child a (doc_id, s, e) span stream. For
            # unit-width children the general conditions below reduce exactly
            # to the historical position formulas (s_i >= e_{i-1} == p_i >
            # p_{i-1}; gap sum == p_last - p_0 - (n-1)).
            n = len(clause.span_terms)
            parts = []
            for i, c in enumerate(clause.span_terms):
                st = self._span_enum(c, occ, stats)
                if st is None:
                    return None
                parts.append(st.select("doc_id", F.col("s").alias(f"s{i}"), F.col("e").alias(f"e{i}")))
            if clause.in_order:
                # NearSpansOrdered: non-overlapping ordered sub-spans, total
                # inter-span gap <= slop
                m = parts[0]
                gap = F.lit(0)
                for i in range(1, n):
                    m = m.join(parts[i], "doc_id").filter(F.col(f"s{i}") >= F.col(f"e{i-1}"))
                    gap = gap + (F.col(f"s{i}") - F.col(f"e{i-1}"))
                m = m.filter(gap <= F.lit(int(clause.slop)))
                return m.select("doc_id", F.col("s0").alias("s"), F.col(f"e{n-1}").alias("e"))
            # NearSpansUnordered window (NearSpansUnordered.java:44-95):
            # maxEndPosition - minStartPosition - totalSpanLength <= slop,
            # one span per clause, overlap allowed. The historical two-clause
            # case additionally excludes identical spans (a refinement that
            # only differs when both clauses share a term; pinned by the
            # ft_span_near_unordered oracle).
            scols = [F.col(f"s{i}") for i in range(n)]
            ecols = [F.col(f"e{i}") for i in range(n)]
            total = scols[0] * 0
            for i in range(n):
                total = total + (ecols[i] - scols[i])
            m = parts[0]
            for i in range(1, n):
                m = m.join(parts[i], "doc_id")
            cond = (F.greatest(*ecols) - F.least(*scols)) - total <= F.lit(int(clause.slop))
            if n == 2:
                cond = cond & ((F.col("s0") != F.col("s1")) | (F.col("e0") != F.col("e1")))
            return m.filter(cond).select(
                "doc_id",
                F.least(*scols).alias("s"),
                F.greatest(*ecols).alias("e"),
            )
        if isinstance(clause, SpanFirstQuery):
            # spans of the inner clause ending within the first `end`
            # positions (SpanFirstQuery.java acceptPosition) — the inner
            # clause may itself be any span clause (TestBasics
            # testNpeInSpanNearInSpanFirstInSpanNot nests a near inside)
            st = self._span_enum(clause.term, occ, stats)
            return None if st is None else st.filter(F.col("e") <= F.lit(int(clause.end)))
        if isinstance(clause, SpanPositionRangeQuery):
            st = self._span_enum(clause.term, occ, stats)
            if st is None:
                return None
            return st.filter(
                (F.col("s") >= F.lit(int(clause.start))) & (F.col("e") <= F.lit(int(clause.end)))
            )
        if isinstance(clause, SpanNotQuery):
            # NotSpans as a CLAUSE: the include spans that survive the
            # exclusion window — lets SpanNot nest inside near/first/not
            return self._span_not_stream(clause, occ, stats)
        raise NotImplementedError(f"span clause {type(clause).__name__}")

    def _span_not_stream(self, q: SpanNotQuery, occ: DataFrame, stats: dict):
        """Surviving include spans of a SpanNotQuery as a (doc_id, s, e)
        stream (``SpanNotQuery.java:147-187`` accept): candidate [cs, ce)
        is rejected iff some exclude span [xs, xe) has ``xe > cs - pre``
        and ``xs < ce + post``.  Position arithmetic in LONG so the
        reference's Integer.MAX_VALUE windows cannot overflow
        (testSpanNotNoOverflowOnLargeSpans)."""
        inc = self._span_enum(q.include_term, occ, stats)
        if inc is None:
            return None
        exc = self._span_enum(q.exclude_term, occ, stats)
        if exc is None:
            return inc
        exc = exc.select(
            F.col("doc_id").alias("xdoc"),
            F.col("s").cast("long").alias("xs"),
            F.col("e").cast("long").alias("xe"),
        )
        return inc.join(
            exc,
            (inc["doc_id"] == exc["xdoc"])
            & (F.col("xe") > F.col("s").cast("long") - F.lit(int(q.pre)).cast("long"))
            & (F.col("xs") < F.col("e").cast("long") + F.lit(int(q.post)).cast("long")),
            "left_anti",
        )

    def _eval_span_contain(self, q, boost: float, stats: dict) -> DataFrame:
        """SpanContainingQuery / SpanWithinQuery (``search/spans/
        SpanContainingQuery.java``, ``SpanWithinQuery.java``): documents with
        a ``big`` span containing a ``little`` span (``ContainSpans``
        start/end tests).  One positional scan feeds both enumerations; the
        containment test rides the co-partitioned doc_id equi-join; constant
        score (span-algebra deviation documented on the query classes)."""
        if not self.index.config.index_positions:
            raise ValueError("span containment needs an index built with index_positions=True")
        from ..plans.query import _span_clause_terms

        uniq = list(dict.fromkeys(t for c in (q.big, q.little) for t in sorted(_span_clause_terms(c))))
        occ = self._positional_occurrences([t for t in uniq if t in stats])
        occ = self._persist_span_occ(occ)
        big = self._span_enum(q.big, occ, stats)
        little = self._span_enum(q.little, occ, stats)
        if big is None or little is None:
            return self._empty()
        lit = little.select("doc_id", F.col("s").alias("ls"), F.col("e").alias("le"))
        m = big.join(lit, "doc_id").filter((F.col("s") <= F.col("ls")) & (F.col("e") >= F.col("le")))
        docs = m.select("doc_id").distinct()
        return docs.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))

    def _eval_multiphrase(self, q: MultiPhraseQuery, boost: float, stats: dict) -> DataFrame:
        """MultiPhraseQuery (``search/MultiPhraseQuery.java``): exact phrase
        with per-slot term alternatives, straight from the positional
        postings.

        Plan: per slot, the union of its alternatives' occurrences (the
        UnionPostingsEnum, ``MultiPhraseQuery.java:245-258``) exploded to
        (doc_id, pos - slot) rows; the n-way equi-join on (doc_id, base)
        leaves one row per matching start position; count per doc = phrase
        tf.  Weight: f32(boost) * f32(Σ_f64 f32_idf(term)) over all indexed
        terms of all slots (``:212-238`` + ``BM25Similarity.idfExplain``)."""
        slots = [tuple(t for t in slot if t in stats) for slot in q.slots]
        if any(not s for s in slots):
            return self._empty()
        if not self.index.config.index_positions:
            raise ValueError("MultiPhraseQuery needs an index built with index_positions=True")
        scorer = self._scorer()
        all_terms = [t for slot in q.slots for t in slot if t in stats]
        idf_sum = np.float32(sum(float(bm25.idf(stats[t][0], scorer.doc_count)) for t in all_terms))
        w = np.float32(np.float32(boost * q.boost) * idf_sum)
        cache = scorer.cache()
        uniq = list(dict.fromkeys(t for slot in slots for t in slot))
        occ = self._positional_occurrences(uniq)
        occ = self._persist_span_occ(occ) if len(uniq) > 1 else occ
        positions = list(q.slot_positions())

        if q.slop > 0:
            return self._eval_multiphrase_sloppy(q, slots, positions, occ, w, cache)

        matched = None
        for m, slot in enumerate(slots):
            part = occ.filter(F.col("term").isin(list(slot))).select(
                "doc_id", "norm", (F.col("pos") - F.lit(positions[m])).alias("base")
            )
            matched = part if matched is None else matched.join(part.select("doc_id", "base"), ["doc_id", "base"])
        ptf = matched.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("ptf"), F.first("norm").alias("norm")
        )

        @F.pandas_udf(T.FloatType())
        def mp_score(ptf_c: pd.Series, norm_c: pd.Series) -> pd.Series:
            return pd.Series(bm25.score_tf_norm(ptf_c.to_numpy(), norm_c.to_numpy(), w, cache))

        return ptf.select("doc_id", mp_score("ptf", "norm").alias("score"))

    def _eval_multiphrase_sloppy(
        self, q: MultiPhraseQuery, slots, positions, occ, w, cache
    ) -> DataFrame:
        """MultiPhraseQuery with slop (``MultiPhraseQuery.java:76-82`` setSlop
        → ``SloppyPhraseMatcher`` over one union-postings stream per slot,
        ``PhraseQuery.java`` sloppy scorer): per candidate doc, slot k's
        stream is the merged ascending positions of its alternatives
        (UnionPostingsEnum), fed to the exact repeat-aware matcher with the
        slot's explicit phrase position as its offset; float32 freq =
        Σ 1/(1+matchLength) scored like the exact path.

        Plan: slot-presence semi-joins narrow to docs holding some
        alternative of EVERY slot (conjunction approximation — same shape as
        the two-phase phrase verify), then ONE shuffle groups each candidate doc's
        (term, pos) rows for the Arrow-batched matcher UDF.  Postings volume
        is bounded by the query's term union, never the corpus."""
        from ..functions.sloppyphrase import sloppy_phrase_freq

        slot_sets = [frozenset(s) for s in slots]
        slop = int(q.slop)
        pres = occ.select("doc_id", "term").distinct()
        cand = None
        for slot in slot_sets:
            d = pres.filter(F.col("term").isin(list(slot))).select("doc_id").distinct()
            cand = d if cand is None else cand.join(d, "doc_id", "left_semi")
        rows = (
            occ.join(cand, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(
                F.first("norm").alias("norm"),
                F.collect_list(F.struct("term", "pos")).alias("tp"),
            )
        )

        def matcher(iterator):
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                freqs = np.zeros(len(pdf), dtype=np.float32)
                for i, tp in enumerate(pdf["tp"]):
                    by_term: dict = {}
                    for r in tp:
                        by_term.setdefault(r["term"], []).append(r["pos"])
                    pos_lists = [
                        sorted(p for t in slot for p in by_term.get(t, []))
                        for slot in slot_sets
                    ]
                    freqs[i] = sloppy_phrase_freq(
                        list(slot_sets), pos_lists, slop, offsets=positions
                    )
                keep = freqs > 0
                if not keep.any():
                    continue
                s = bm25.score_tf_norm(freqs[keep], pdf["norm"].to_numpy()[keep], w, cache)
                yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy()[keep], "score": s})

        return rows.mapInPandas(matcher, schema="doc_id bigint, score float")

    def _eval_phrase_positional(self, q: PhraseQuery, boost: float, stats: dict) -> DataFrame:
        """Exact phrase straight from the positional postings — no stored-text
        re-analysis (``ExactPhraseMatcher`` over the .pos stream).

        Plan: explode each phrase term's occurrences to (doc_id, pos - m)
        rows, m = the term's offset in the phrase; an m-way equi-join on
        (doc_id, base) leaves one row per phrase start; count per doc =
        phrase_tf.  All joins are Catalyst equi-joins on (doc_id, base) —
        co-partitioned, no UDF in the match path."""
        from ..functions.codec import unpack_blocks, unpack_positions

        terms = list(q.phrase_terms)
        scorer = self._scorer()
        idf_sum = np.float32(sum(float(bm25.idf(stats[t][0], scorer.doc_count)) for t in terms))
        w = np.float32(np.float32(boost * q.boost) * idf_sum)
        cache = scorer.cache()
        uniq = list(dict.fromkeys(terms))
        occ = self._positional_occurrences(uniq)
        occ = self._persist_span_occ(occ) if len(uniq) > 1 else occ

        matched = None
        for m, t in enumerate(terms):
            part = occ.filter(F.col("term") == t).select(
                "doc_id", "norm", (F.col("pos") - F.lit(m)).alias("base")
            )
            matched = part if matched is None else matched.join(part.select("doc_id", "base"), ["doc_id", "base"])
        ptf = matched.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("ptf"), F.first("norm").alias("norm")
        )

        @F.pandas_udf(T.FloatType())
        def phrase_score(ptf_c: pd.Series, norm_c: pd.Series) -> pd.Series:
            return pd.Series(bm25.score_tf_norm(ptf_c.to_numpy(), norm_c.to_numpy(), w, cache))

        return ptf.select("doc_id", phrase_score("ptf", "norm").alias("score"))

    def _eval_phrase(self, q: PhraseQuery, boost: float, stats: dict) -> DataFrame:
        """Exact phrase, two-phase (TwoPhaseIterator analog, SURVEY §4):
        approximate pass = conjunction of term postings; verify pass =
        re-analyze candidate texts with positions and count adjacent runs
        (ExactPhraseMatcher semantics); score with phrase_tf and summed idf
        (PhraseWeight uses the sum of per-term idfs)."""
        terms = list(q.phrase_terms)
        if any(t not in stats for t in terms):
            return self._empty()
        if self.index.config.index_positions and q.slop == 0:
            return self._eval_phrase_positional(q, boost, stats)
        if self.corpus is None:
            raise ValueError(
                "PhraseQuery needs IndexSearcher(corpus=...) for the verify pass "
                "(or an index built with index_positions=True)"
            )
        scored = self._matching_postings(set(terms))
        cand = (
            scored.groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"), F.first("norm").alias("norm"))
            .filter(F.col("nt") >= len(set(terms)))
            .select("doc_id", "norm")
        )
        id_col, text_col = self.index.config.id_col, self.index.config.text_col
        cand_text = cand.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")), "doc_id"
        )
        analyzer = self.index.config.analyzer
        scorer = self._scorer()
        idf_sum = np.float32(sum(float(bm25.idf(stats[t][0], scorer.doc_count)) for t in terms))
        w = np.float32(np.float32(boost * q.boost) * idf_sum)
        cache = scorer.cache()
        phrase = tuple(terms)

        slop = int(q.slop)

        def _exact_freq(toks) -> int:
            n = 0
            for j in range(len(toks) - len(phrase) + 1):
                if all(
                    toks[j + m][0] == phrase[m] and toks[j + m][1] == toks[j][1] + m
                    for m in range(len(phrase))
                ):
                    n += 1
            return n

        def _sloppy_freq(toks) -> np.float32:
            """Exact SloppyPhraseMatcher semantics (order-insensitive slack,
            repeat-collision resolution, float32 freq = Σ 1/(1+matchLength)
            per match) — see functions/sloppyphrase.py."""
            from ..functions.sloppyphrase import sloppy_phrase_freq

            pos_lists = [[p for t, p in toks if t == ph] for ph in phrase]
            return sloppy_phrase_freq(list(phrase), pos_lists, slop)

        def verify(iterator):
            for pdf in iterator:
                if len(pdf) == 0:
                    continue
                # float freq: the sloppy scorer feeds Σ 1/(1+matchLength) to
                # BM25 (PhraseScorer.java:71-77); exact match freq is integral
                freqs = np.zeros(len(pdf), dtype=np.float32)
                for i, txt in enumerate(pdf["_text"]):
                    toks = analyzer.tokens_with_positions(txt)
                    freqs[i] = _sloppy_freq(toks) if slop > 0 else np.float32(_exact_freq(toks))
                keep = freqs > 0
                if not keep.any():
                    continue
                s = bm25.score_tf_norm(freqs[keep], pdf["norm"].to_numpy()[keep], w, cache)
                yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy()[keep], "score": s})

        return cand_text.mapInPandas(verify, schema="doc_id bigint, score float")

    def _eval_match_all(self, boost: float) -> DataFrame:
        return self.index.docs.select("doc_id", F.lit(float(boost)).cast("float").alias("score"))

    # ------------------------------------------------------------- boolean
    @staticmethod
    def _flat_term(q: Query, boost: float):
        """(term, effective_boost) if q is a TermQuery possibly wrapped in
        BoostQuery layers; None otherwise."""
        while isinstance(q, BoostQuery):
            boost *= q.boost
            q = q.query
        if isinstance(q, TermQuery):
            return q.term, boost * q.boost
        return None

    def _term_group(self, q: Query, boost: float) -> Optional[tuple]:
        """``(leaves, need)`` for a (boosted) one-level BooleanQuery whose
        clauses are all (boosted) terms of ONE occur, MUST or SHOULD — the
        CommonTermsQuery groups and ``(a OR b) AND (c OR d)`` shapes.  The
        group matches a doc holding ``need`` of its leaves and scores the
        float32 round of their double sum (its BooleanScorer returns
        float).  A MUST group with ``mm > 0`` has no optional clause to
        meet it, so it matches nothing.  None for every other shape."""
        while isinstance(q, BoostQuery):
            boost *= q.boost
            q = q.query
        if not isinstance(q, BooleanQuery) or {c.occur for c in q.clauses} not in ({"MUST"}, {"SHOULD"}):
            return None
        leaves = [self._flat_term(c.query, boost) for c in q.clauses]
        if None in leaves:
            return None
        mm = q.minimum_should_match
        if q.clauses[0].occur == "MUST":
            return leaves, len(leaves) + 1 if mm > 0 else len(leaves)
        return leaves, max(1, mm)

    def _clause_rows(self, units: list, stats: dict, blocks: Optional[DataFrame] = None) -> DataFrame:
        """``(doc_id, score, c)`` rows of a compound query's clause units —
        the one postings read behind :meth:`_eval_boolean`,
        :meth:`_eval_dismax` and :meth:`_eval_covering`.

        Unit ``c`` is a list of ``(term, boost)`` leaves or an already
        evaluated ``(doc_id, score)`` frame, unioned in.  The reference walks
        one postings iterator per clause in lock-step (``ConjunctionDISI``);
        here the leaf terms of ALL units share one postings scan (read from
        ``blocks``, the θ pre-pass survivors, when given) and each posting
        row fans out to every unit leaf holding its term, so a repeated
        clause matches once per clause.  A term already in the scan under
        another weight gets its own scan, unioned in the same way."""
        scans: list = []  # (term -> params, term -> [unit per leaf])
        parts = []
        for c, unit in enumerate(units):
            if isinstance(unit, DataFrame):
                parts.append(unit.select("doc_id", "score", F.lit(c).alias("c")))
                continue
            for t, b in unit:
                if t not in stats:
                    continue
                p = self._leaf_w(b, t, stats)
                for params, tags in scans:
                    if params.get(t, p) == p:
                        break
                else:
                    params, tags = {}, {}
                    scans.append((params, tags))
                params[t] = p
                tags.setdefault(t, []).append(c)
        for params, tags in scans:
            fan_out = F.create_map(
                *[x for t, cs in tags.items() for x in (F.lit(t), F.array(*map(F.lit, cs)))]
            )
            src = None if blocks is None else blocks.filter(F.col("term").isin(list(params)))
            parts.append(
                self._scored_postings(params, src).select(
                    "doc_id", "score", F.explode(fan_out[F.col("term")]).alias("c")
                )
            )
        if not parts:
            return self.spark.createDataFrame([], "doc_id bigint, score float, c int")
        out = parts[0]
        for part in parts[1:]:
            out = out.unionByName(part)
        return out

    @staticmethod
    def _unit_sums(ids) -> list:
        """Per-unit double sum ``s{i}`` and row count ``n{i}`` aggregates over
        :meth:`_clause_rows` rows — conditional aggregates, so every unit's
        totals come out of ONE groupBy(doc_id), one shuffle."""
        out = []
        for i in ids:
            on = F.col("c") == i
            out.append(F.sum(F.when(on, F.col("score").cast("double"))).alias(f"s{i}"))
            out.append(F.count(F.when(on, F.lit(1))).alias(f"n{i}"))
        return out

    def _eval_boolean(
        self, q: BooleanQuery, boost: float, stats: dict, blocks: Optional[DataFrame] = None
    ) -> DataFrame:
        """BooleanWeight (``Boolean2ScorerSupplier.java:93-188``) over clause
        units: ONE :meth:`_clause_rows` read, ONE groupBy(doc_id) with a sum
        and a count per unit, and the clause rules as column predicates.

        A unit is all flat term clauses of one occur (each term one clause;
        their scores add straight into the top-level double sum), a
        one-level term group (:meth:`_term_group`, float32-rounded at its
        boundary) or any other clause's evaluated frame.  The top level sums
        in double and casts once — bit-identical to evaluating each clause
        separately.  FILTERs are cached doc-set semi-joins; beside optional
        SHOULD clauses (no MUST, mm 0) the filter docs join as a zero-score
        unit, since FILTER is required and SHOULD stays optional
        (ReqOptSumScorer scores a filter-only doc 0).  ``blocks`` (the θ
        pre-pass survivors, see :meth:`search`) replaces the full postings
        scan; nothing else differs."""
        must, filters = q.by_occur("MUST"), q.by_occur("FILTER")
        mm = q.minimum_should_match
        if not must and not filters:
            mm = max(1, mm)
        filter_base = bool(filters) and not must and mm <= 0
        if not (must or q.by_occur("SHOULD") or filter_base):
            return self._empty()  # pure MUST_NOT, or FILTERs with mm > 0 and no SHOULD
        filter_ids = [self.cached_filter(sub) for sub in filters]
        units, rules = [], []  # rules[i] = (occur, need, rounded); rounded None: flat terms
        for occur in ("MUST", "SHOULD", "MUST_NOT"):
            b = boost if occur != "MUST_NOT" else 1.0
            flat = []
            for sub in q.by_occur(occur):
                ft = self._flat_term(sub, b)
                group = None if ft else self._term_group(sub, b)
                if ft:
                    flat.append(ft)
                elif group:
                    units.append(group[0])
                    rules.append((occur, group[1], True))
                else:
                    units.append(self._evaluate(sub, b, stats))
                    rules.append((occur, 1, False))
            if flat:
                units.append(flat)
                rules.append((occur, len(flat) if occur == "MUST" else 1, None))
        if filter_base:
            units.append(filter_ids[0].select("doc_id", F.lit(0.0).cast("float").alias("score")))
            rules.append(("FILTER", 1, False))
        agg = self._clause_rows(units, stats, blocks).groupBy("doc_id").agg(*self._unit_sums(range(len(units))))

        cond, ns, score = F.lit(True), F.lit(0), F.lit(0.0)
        for i, (occur, need, rounded) in enumerate(rules):
            n, s = F.col(f"n{i}"), F.col(f"s{i}")
            hit = n >= need
            if occur == "MUST":
                cond = cond & hit
            elif occur == "MUST_NOT":
                cond = cond & ~hit
            elif occur == "SHOULD":
                # each matching flat SHOULD term is one matched clause
                ns = ns + (n if rounded is None else F.when(hit, 1).otherwise(0))
            if occur in ("MUST", "SHOULD"):
                # group boundary: float32 round of the group's double sum
                score = score + F.when(hit, s.cast("float").cast("double") if rounded else s).otherwise(0.0)
        if mm > 0:
            cond = cond & (ns >= mm)
        out = agg.filter(cond).select("doc_id", score.cast("float").alias("score"))
        for ids in filter_ids:
            out = out.join(ids, "doc_id", "left_semi")
        return out

    def _eval_blended(self, q, boost: float, stats: dict) -> DataFrame:
        """BlendedTermQuery (BlendedTermQuery.java:274-284): every present
        term is scored with the BLENDED statistics df = max(df_i),
        ttf = Σ ttf_i, then combined per the rewrite — DisjunctionMax with
        tie 0.01f (:183) or boolean SHOULD-sum (:133).  ONE postings scan for
        all terms (the per-term weight differs only by boost), then one
        groupBy — same physical shape as _eval_dismax."""
        present = [t for t in q.blend_terms if t in stats]
        if not present:
            return self._empty()
        tbs = q.term_boosts or (1.0,) * len(q.blend_terms)
        bdf = max(stats[t][0] for t in present)
        bttf = sum(stats[t][1] for t in present)
        weights = {}
        for t, tb in zip(q.blend_terms, tbs):
            if t not in stats:
                continue
            weights[t] = self._params(boost * q.boost * tb, bdf, bttf)
        u = self._scored_postings(weights).select("doc_id", "score")
        if q.rewrite == "boolean":
            # DisjunctionSumScorer: double sum of float sub-scores → float
            return u.groupBy("doc_id").agg(
                F.sum(F.col("score").cast("double")).cast("float").alias("score")
            )
        tie = float(np.float32(q.tie_breaker))  # tieBreakerMultiplier is float
        agg = u.groupBy("doc_id").agg(
            F.max(F.col("score").cast("double")).alias("m"),
            F.sum(F.col("score").cast("double")).alias("s"),
        )
        return agg.select(
            "doc_id", (F.col("m") + F.lit(tie) * (F.col("s") - F.col("m"))).cast("float").alias("score")
        )

    def _disjunct_scores(self, subs, boost: float, stats: dict) -> DataFrame:
        """``(doc_id, m, s, n)``: the max, double sum and count of a doc's
        matching clause scores (the DisjunctionMax and Covering scorers)
        from ONE :meth:`_clause_rows` read and one groupBy(doc_id).  A term
        or frame clause holds at most one row per doc; a one-level term
        group (:meth:`_term_group`) gets its own sum and count and joins as
        its float32-rounded score where it matches."""
        units, groups = [], {}  # groups: unit -> leaves needed
        for i, sub in enumerate(subs):
            ft = self._flat_term(sub, boost)
            group = None if ft else self._term_group(sub, boost)
            if ft:
                units.append([ft])
            elif group:
                units.append(group[0])
                groups[i] = group[1]
            else:
                units.append(self._evaluate(sub, boost, stats))
        single = F.when(~F.col("c").isin(list(groups)), F.col("score").cast("double"))
        agg = self._clause_rows(units, stats).groupBy("doc_id").agg(
            F.max(single).alias("m"), F.sum(single).alias("s"), F.count(single).alias("n"),
            *self._unit_sums(groups),
        )
        m, s, n = F.col("m"), F.coalesce(F.col("s"), F.lit(0.0)), F.col("n")
        for i, need in groups.items():
            v = F.when(F.col(f"n{i}") >= need, F.col(f"s{i}").cast("float").cast("double"))
            m, s, n = F.greatest(m, v), s + F.coalesce(v, F.lit(0.0)), n + v.isNotNull().cast("int")
        return agg.select("doc_id", m.alias("m"), s.alias("s"), n.alias("n")).filter(F.col("n") > 0)

    def _eval_dismax(self, q: DisjunctionMaxQuery, boost: float, stats: dict) -> DataFrame:
        if not q.disjuncts:
            return self._empty()
        tie = float(q.tie_breaker)
        return self._disjunct_scores(q.disjuncts, boost, stats).select(
            "doc_id", (F.col("m") + F.lit(tie) * (F.col("s") - F.col("m"))).cast("float").alias("score")
        )

    def _eval_field(self, q, boost: float) -> DataFrame:
        """Keyword/point field predicate against corpus columns — the
        ``StringField``/``PointRangeQuery`` arm (see plans/query.py). The
        predicate compiles to a Catalyst filter pushed into the corpus scan
        (PushedFilters on parquet/Iceberg), no postings touched."""
        if self.corpus is None:
            raise ValueError("field queries require a searcher bound to a corpus")
        c = F.col(q.field)
        if isinstance(q, FieldTermQuery):
            pred = c == q.value
        elif isinstance(q, FieldInSetQuery):
            pred = c.isin(list(q.values))
        else:
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
        w = float(np.float32(boost * q.boost))
        return self.corpus.filter(pred).select(
            F.col(self.index.config.id_col).cast("long").alias("doc_id"),
            F.lit(w).cast("float").alias("score"),
        )

    def _evaluate(self, q: Query, boost: float, stats: dict) -> DataFrame:
        if isinstance(q, TermQuery):
            return self._eval_term(q, boost, stats)
        if isinstance(q, (FieldTermQuery, FieldInSetQuery, FieldRangeQuery)):
            return self._eval_field(q, boost)
        if isinstance(q, BooleanQuery):
            return self._eval_boolean(q, boost, stats)
        if isinstance(q, SynonymQuery):
            return self._eval_synonym(q, boost, stats)
        if isinstance(q, PhraseQuery):
            return self._eval_phrase(q, boost, stats)
        if isinstance(q, FuzzyQuery):
            # default scoring rewrite (TopTermsBlendedFreq); wrapping in
            # ConstantScoreQuery reaches the same doc set constant-scored
            return self._eval_fuzzy_scored(q, boost)
        if isinstance(q, (PrefixQuery, WildcardQuery, RegexpQuery, TermRangeQuery, TermInSetQuery)):
            return self._eval_multiterm(q, boost)
        if isinstance(q, SpanNearQuery):
            return self._eval_span_near(q, boost, stats)
        if isinstance(q, SpanFirstQuery):
            return self._eval_span_first(q, boost, stats)
        from ..plans.query import SpanMultiTermWrapper as _SMW
        from ..plans.query import SpanPositionRangeQuery as _SPR

        if isinstance(q, _SPR):
            return self._eval_span_posrange(q, boost, stats)
        if isinstance(q, _SMW):
            return self._evaluate(self._rewrite_span_multiterm(q), boost, stats)
        if isinstance(q, SpanOrQuery):
            return self._eval_span_or(q, boost, stats)
        if isinstance(q, SpanNotQuery):
            return self._eval_span_not(q, boost, stats)
        if isinstance(q, (SpanContainingQuery, SpanWithinQuery)):
            return self._eval_span_contain(q, boost, stats)
        if isinstance(q, MultiPhraseQuery):
            return self._eval_multiphrase(q, boost, stats)
        if isinstance(q, MatchAllQuery):
            return self._eval_match_all(boost * q.boost)
        if isinstance(q, MatchNoDocsQuery):
            return self._empty()
        if isinstance(q, BoostQuery):
            return self._evaluate(q.query, boost * q.boost, stats)
        if isinstance(q, ConstantScoreQuery):
            if isinstance(q.query, FuzzyQuery):
                # constant-score fuzzy: plain CONSTANT_SCORE_REWRITE over the
                # full expansion (no top-maxExpansions truncation)
                child = self._eval_multiterm(q.query, 1.0)
            else:
                child = self._evaluate(q.query, 1.0, stats)
            return child.select("doc_id", F.lit(float(boost * q.boost)).cast("float").alias("score"))
        if isinstance(q, DisjunctionMaxQuery):
            return self._eval_dismax(q, boost, stats)
        if isinstance(q, BlendedTermQuery):
            return self._eval_blended(q, boost, stats)
        if isinstance(q, CommonTermsQuery):
            return self._evaluate(self._rewrite_common_terms(q, stats), boost * q.boost, stats)
        if isinstance(q, CoveringQuery):
            return self._eval_covering(q, boost, stats)
        if isinstance(q, TermAutomatonQuery):
            from .automaton import eval_term_automaton

            return eval_term_automaton(self, q, boost, stats)
        raise NotImplementedError(type(q).__name__)

    @staticmethod
    def _common_terms_mm(m: float, num_optional: int) -> int:
        """minNrShouldMatch resolution (CommonTermsQuery.java:143-149):
        values >= 1 or == 0 are absolute; fractions resolve to
        Math.round(m * numOptional) with the product in float32."""
        if m >= 1.0 or m == 0.0:
            return int(m)
        return int(np.floor(np.float32(m) * np.float32(num_optional) + np.float32(0.5)))

    def _rewrite_common_terms(self, q: CommonTermsQuery, stats: dict) -> Query:
        """buildQuery (CommonTermsQuery.java:152-209): classify each term by
        docFreq — high iff (maxTF >= 1 and df > maxTF) or df >
        ceil(f32(maxTF) * f32(maxDoc)) — then low-frequency terms form one
        required group and high-frequency terms one optional group.  An
        all-high query falls back to a conjunction."""
        if q.low_freq_occur == "MUST_NOT" or q.high_freq_occur == "MUST_NOT":
            raise ValueError("lowFreqOccur/highFreqOccur must be MUST or SHOULD")
        terms = list(q.query_terms)
        if not terms:
            return MatchNoDocsQuery()
        if len(terms) == 1:
            return TermQuery(terms[0])
        mtf = float(q.max_term_frequency)
        thr = int(math.ceil(float(np.float32(np.float32(mtf) * np.float32(self.index.doc_count)))))
        low, high = [], []
        for t in terms:
            if t not in stats:
                low.append(TermQuery(t))  # absent term: null TermStates -> low
                continue
            df = stats[t][0]
            if (mtf >= 1.0 and df > mtf) or df > thr:
                high.append(TermQuery(t))
            else:
                low.append(TermQuery(t))
        low_occur, high_occur = q.low_freq_occur, q.high_freq_occur
        low_mm = self._common_terms_mm(q.low_freq_min_should_match, len(low)) if (
            low_occur == "SHOULD" and low
        ) else 0
        high_mm = self._common_terms_mm(q.high_freq_min_should_match, len(high)) if (
            high_occur == "SHOULD" and high
        ) else 0
        if not low and high_mm == 0 and high_occur != "MUST":
            high_occur = "MUST"  # all-high rewrites to a conjunction

        def group(qs, occur, mm):
            if occur == "MUST":
                return BooleanQuery.build(must=qs)
            return BooleanQuery.build(should=qs, minimum_should_match=mm)

        must_clauses = [group(low, low_occur, low_mm)] if low else []
        should_clauses = [group(high, high_occur, high_mm)] if high else []
        return BooleanQuery.build(must=must_clauses, should=should_clauses)

    def _eval_covering(self, q: CoveringQuery, boost: float, stats: dict) -> DataFrame:
        """CoveringScorer: per-doc minimum match count from a corpus
        expression; score = double sum of the matching sub-queries' float32
        scores, float32 cast (CoveringScorer.java sum over subScorers)."""
        if not q.queries:
            return self._empty()
        if len(q.queries) > MAX_CLAUSE_COUNT:
            raise ValueError("too many clauses")
        if self.corpus is None:
            raise ValueError("CoveringQuery requires a searcher bound to a corpus")
        agg = self._disjunct_scores(q.queries, boost, stats)
        mm = self.corpus.select(
            F.col(self.index.config.id_col).cast("long").alias("doc_id"),
            F.expr(q.min_match_expr).cast("long").alias("mm"),
        ).filter(F.col("mm").isNotNull())
        return (
            agg.join(mm, "doc_id")
            .filter(F.col("n") >= F.greatest(F.lit(1), F.col("mm")))
            .select("doc_id", F.col("s").cast("float").alias("score"))
        )

    # -------------------------------------------------------- pruned paths
    def _theta_block_sample(self, params: dict, k: int):
        """Phases 1-2 of the block-max θ pre-pass: each block's score upper
        bound ``ub`` from its ``(max_tf, min_norm)`` summary under `params`
        (sound for every similarity: the kernels are monotone, ↑tf / ↓length),
        then the top ``max(2, k)`` blocks per term (a few KB) unpacked and
        exactly scored on the driver.

        Returns ``(with_ub, max_ub, sample)`` — the terms' block rows with the
        ``ub`` column, term -> best block ub, and the sampled postings as a
        pandas ``(term, doc_id, score)`` frame — or None when no block exists."""
        from pyspark.sql.window import Window

        sim = self.similarity
        slot_maps = [{t: p[i] for t, p in params.items()} for i in range(sim.n_params)]

        def score_terms(terms_arr, tfs, norms):
            terms_s = pd.Series(terms_arr)
            ws = [terms_s.map(m).to_numpy(dtype=np.float64) for m in slot_maps]
            return sim.score(*ws, np.asarray(tfs, dtype=np.int64), np.asarray(norms, dtype=np.int64))

        @F.pandas_udf(T.FloatType())
        def ub_udf(term: pd.Series, max_tf: pd.Series, min_norm: pd.Series) -> pd.Series:
            return pd.Series(score_terms(term, max_tf.to_numpy(), min_norm.to_numpy()).astype(np.float32))

        with_ub = self._postings_for(list(params)).withColumn("ub", ub_udf("term", "max_tf", "min_norm"))
        wnd = Window.partitionBy("term").orderBy(F.desc("ub"), F.asc("run_id"), F.asc("block_id"))
        sample_pdf = (
            with_ub.withColumn("rn", F.row_number().over(wnd)).filter(F.col("rn") <= max(2, k)).toPandas()
        )
        if sample_pdf.empty:
            return None
        max_ub = sample_pdf.groupby("term")["ub"].max().to_dict()
        doc_ids, tfs, norms, _ = unpack_blocks(
            sample_pdf["doc_id_base"].to_numpy(dtype=np.int64),
            sample_pdf["count"].to_numpy(dtype=np.int64),
            list(sample_pdf["doc_ids"]),
            list(sample_pdf["tfs"]),
            list(sample_pdf["norms"]),
            codec=self.index.config.codec,
        )
        terms_post = np.repeat(sample_pdf["term"].to_numpy(dtype=object), sample_pdf["count"].to_numpy())
        sample = pd.DataFrame({"term": terms_post, "doc_id": doc_ids, "score": score_terms(terms_post, tfs, norms)})
        return with_ub, max_ub, sample

    @staticmethod
    def _survival_counts(with_ub: DataFrame, surv) -> dict:
        """Blocks and postings read vs surviving the θ cut `surv` (the
        ImpactsDISI skip-rate analog): one aggregation over block summaries,
        never over payloads."""
        row = with_ub.select(
            F.count("*").alias("blocks"),
            F.sum(surv.cast("int")).alias("surviving_blocks"),
            F.sum("count").alias("postings"),
            F.sum(F.when(surv, F.col("count")).otherwise(0)).alias("surviving_postings"),
        ).first()
        return {name: int(row[name] or 0) for name in row.asDict()}

    def _single_clause_group(self, query: Query, stats: dict) -> Optional[tuple]:
        """One query as a one-group clause table for the shared θ pre-pass
        (:meth:`_batch_pruned_postings`): ``(clause_rows, meta_rows,
        params)`` with the query's own leaf params and clause scale 1, so
        single-search pruning holds for every (monotone) similarity.  None
        when the query is not flat terms; a repeated term (one param set per
        term) yields no rows, i.e. no pruning."""
        flat = self._flat_clauses(query)
        if flat is None:
            return None
        leaves, n_req, mm = flat
        present = [(o, t, b) for o, t, b in leaves if t in stats]
        if len({t for _, t, _ in leaves}) < len(leaves):
            present = []
        rows = [
            (0, t, _OCC_CODE[o], 1.0 if o in ("MUST", "SHOULD") and b > 0 else 0.0)
            for o, t, b in present
        ]
        params = {t: self._leaf_w(b, t, stats) for _, t, b in present}
        return rows, [(0, [], n_req, mm)], params

    def _prune_report(self, clause_rows, meta_rows, stats: dict, k: int, params=None) -> tuple:
        """The metrics body shared by :meth:`prune_metrics` and
        :meth:`batch_prune_metrics`: runs the θ pre-pass the search would run
        and returns ``(metrics, blocks, clause_theta)``."""
        out: dict = {}
        blocks, clause_theta = self._batch_pruned_postings(
            clause_rows, meta_rows, stats, k, params, metrics_out=out
        )
        if blocks is None and not clause_theta:
            return {"pruning_applied": False}, None, {}
        out["pruning_applied"] = True
        out["block_skip_rate"] = round(1.0 - out["surviving_blocks"] / max(out["blocks"], 1), 4)
        out["posting_skip_rate"] = round(
            1.0 - out["surviving_postings"] / max(out["postings"], 1), 4
        )
        return out, blocks, clause_theta

    def prune_metrics(self, query: Query, k: int = 10) -> dict:
        """Block-max pruning observability for a flat term query: run the θ
        pre-pass :meth:`search` runs and report θ and how many block rows
        (and their postings) survived the cut — the measurable counterpart
        of the reference's ImpactsDISI block skipping
        (``ImpactsDISI.java:94-126``).  ``pruning_applied=False`` when
        search() scans exhaustively (cost gate, delete cap, or a query no
        θ can cut)."""
        stats = self._term_stats(query.terms())
        group = self._single_clause_group(query, stats)
        if group is None:
            raise ValueError("prune metrics apply to a term or a flat boolean of terms")
        rows, meta, params = group
        return self._prune_report(rows, meta, stats, k, params)[0]

    # --------------------------------------------------------------- search
    def search(self, query: Query, k: int = 10, prune: bool = True, exclude_doc_ids=()) -> TopDocs:
        """Top-k search; identical results with prune on or off (tested).

        With ``prune``, a term or flat term boolean first runs the shared θ
        pre-pass; the exclusions bound k like pending deletes do (an
        excluded doc sampled into θ could otherwise hold a top-k slot), and
        the surviving blocks feed the same single-scan evaluator."""
        # release positional-occurrence caches persisted by earlier span
        # queries (bounded memory per searcher; see _persist_span_occ)
        self.release_span_caches()
        query = self._rewrite_span_multiterm(query)
        stats = self._term_stats(query.terms())
        group = self._single_clause_group(query, stats) if prune else None
        blocks = None
        if group is not None:
            rows, meta, params = group
            blocks, _ = self._batch_pruned_postings(rows, meta, stats, k + len(exclude_doc_ids), params)
        if blocks is None:
            scored = self._evaluate(query, 1.0, stats)
        else:
            scored = self._eval_boolean(*self._as_boolean(query), stats, blocks)
        if exclude_doc_ids:
            scored = scored.filter(~F.col("doc_id").isin([int(d) for d in exclude_doc_ids]))
        if self.index.deletes is not None:
            scored = scored.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        ranked = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return TopDocs(df=ranked, k=k)

    def delete_by_query(self, query: Query) -> None:
        """IndexWriter.deleteDocuments(Query) analog: mark matches deleted.

        Stats (docCount, df, avgdl) intentionally keep counting deleted docs
        until :func:`..operators.merge.expunge_deletes` reclaims them — the
        reference behaves the same until merge."""
        stats = self._term_stats(query.terms())
        ids = self._evaluate(query, 1.0, stats).select("doc_id").distinct()
        prev = self.index.deletes
        self.index.deletes = (prev.unionByName(ids).distinct() if prev is not None else ids).persist()

    # -------------------------------------------------- server-level surface
    def more_like_this(self, doc_id: int, max_query_terms: int = 5) -> Query:
        """MoreLikeThis analog (``reference solr/core/.../component/
        MoreLikeThisComponent.java``): OR-query of the doc's top-tf terms
        (ties by term asc).  Search it with ``exclude_doc_ids=[doc_id]``."""
        if self.corpus is None:
            raise ValueError("more_like_this needs IndexSearcher(corpus=...)")
        id_col, text_col = self.index.config.id_col, self.index.config.text_col
        row = self.corpus.filter(F.col(id_col) == int(doc_id)).select(text_col).collect()
        if not row:
            return MatchNoDocsQuery()
        return self.more_like_this_from_text(row[0][0], max_query_terms)

    def more_like_this_from_text(self, text: str, max_query_terms: int = 5) -> Query:
        """The MLT query for an already-fetched text (same top-tf selection;
        lets callers batch many targets behind ONE corpus fetch)."""
        toks = self.index.config.analyzer.tokens(text)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:max_query_terms]
        if not top:
            return MatchNoDocsQuery()
        return BooleanQuery.build(should=[TermQuery(t) for t, _ in top])

    def more_like_this_query(
        self,
        doc_id: int,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: Optional[int] = None,
        max_query_terms: int = 25,
        boost: bool = False,
        boost_factor: float = 1.0,
    ) -> Query:
        """Reference-exact MoreLikeThis (``reference lucene/queries/src/java/
        org/apache/lucene/queries/mlt/MoreLikeThis.java:649-696``): candidate
        terms from the source doc gated by ``tf >= minTermFreq`` (default 2,
        ``:156``) and ``minDocFreq <= df <= maxDocFreq`` (default 5 / ∞,
        ``:164,173``), ranked by ``score = f32(tf · idf)`` with
        ClassicSimilarity idf ``f32(ln((N+1)/(df+1)) + 1)``
        (``ClassicSimilarity.java:61-63``), top ``maxQueryTerms`` (25) kept.

        Determinism note: the reference iterates a HashMap so equal-score
        ties are unordered; here ties break by term asc.

        With ``boost``, each clause is boosted ``boostFactor · score /
        bestScore`` where bestScore is the FIRST POPPED (i.e. smallest
        retained) score — the reference's min-heap pop-order quirk
        (``:621-631``) — so boosts are ≥ boostFactor.

        Term stats come from one pruned terms-table lookup (cached); the
        corpus is touched only for the source doc's row."""
        if self.corpus is None:
            raise ValueError("more_like_this_query needs IndexSearcher(corpus=...)")
        id_col, text_col = self.index.config.id_col, self.index.config.text_col
        row = self.corpus.filter(F.col(id_col) == int(doc_id)).select(text_col).collect()
        if not row:
            return MatchNoDocsQuery()
        counts: dict[str, int] = {}
        for t in self.index.config.analyzer.tokens(row[0][0]):
            counts[t] = counts.get(t, 0) + 1
        cand = {t: tf for t, tf in counts.items() if tf >= min_term_freq or min_term_freq <= 0}
        stats = self._term_stats(set(cand))
        n_docs = self.index.doc_count
        scored = []
        for t, tf in cand.items():
            if t not in stats:
                continue  # df == 0
            df = stats[t][0]
            if min_doc_freq > 0 and df < min_doc_freq:
                continue
            if max_doc_freq is not None and df > max_doc_freq:
                continue
            idf = np.float32(np.log((n_docs + 1) / float(df + 1)) + 1.0)
            scored.append((float(np.float32(tf * idf)), t))
        scored.sort(key=lambda st: (-st[0], st[1]))
        top = scored[:max_query_terms]
        if not top:
            return MatchNoDocsQuery()
        if not boost:
            return BooleanQuery.build(should=[TermQuery(t) for _, t in top])
        best = min(s for s, _ in top)  # pop order: least first (:627-628)
        return BooleanQuery.build(
            should=[
                BoostQuery(TermQuery(t), float(np.float32(boost_factor * s / best)))
                for s, t in top
            ]
        )

    def spellcheck(self, word: str, max_edits: int = 2, n: int = 5) -> DataFrame:
        """DirectSpellChecker analog (``reference solr/core/.../component/
        SpellCheckComponent.java``; ``lucene/suggest/.../DirectSpellChecker``):
        correction candidates from the term dictionary within `max_edits`,
        ranked (edit distance asc, docFreq desc, term asc).

        The terms table is tiny relative to postings — a pruned parquet scan
        plus TakeOrderedAndProject; no postings are touched."""
        w = word.lower()
        cand = self.index.terms.filter(
            (F.levenshtein(F.col("term"), F.lit(w)) <= max_edits) & (F.col("term") != w)
        )
        return (
            cand.select(
                "term",
                F.levenshtein(F.col("term"), F.lit(w)).cast("int").alias("distance"),
                F.col("df").cast("bigint").alias("df"),
            )
            .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(n)
        )

    def spellcheck_collate(
        self,
        words: list,
        max_suggestions_per_word: int = 3,
        max_tries: int = 10,
        max_collations: int = 3,
        max_edits: int = 2,
    ) -> DataFrame:
        """SpellCheckCollator analog (``reference solr/core/src/java/org/
        apache/solr/spelling/SpellCheckCollator.java``): substitute top
        spelling suggestions into the user's query, verify each candidate
        rewrite actually hits, return up to ``max_collations`` with hit
        counts, ordered (hits desc, try order asc).

        Correctly-spelled words (df > 0) pass through; each misspelled word
        contributes its top suggestions (DirectSpellChecker ranking); the
        cross-product is tried in product order, capped at ``max_tries``
        (SpellCheckCollator.maxCollationTries).

        Scale shape: the reference re-queries once per candidate; here ALL
        candidates verify in ONE pruned postings scan — per-doc word-presence
        flags then one conditional-count aggregation row (pure codegen)."""
        import itertools

        norm = [self.index.config.analyzer.normalize(w) for w in words]
        stats = self._term_stats(set(norm))
        options: list[list[str]] = []
        any_misspelled = False
        for w in norm:
            if w in stats:
                options.append([w])
                continue
            any_misspelled = True
            sugg = [r["term"] for r in self.spellcheck(w, max_edits, max_suggestions_per_word).collect()]
            if not sugg:
                return self.spark.createDataFrame([], "collation string, hits long")
            options.append(sugg)
        if not any_misspelled:
            return self.spark.createDataFrame([], "collation string, hits long")
        candidates = list(itertools.islice(itertools.product(*options), max_tries))
        vocab = sorted({w for c in candidates for w in c})
        scored = self._matching_postings(vocab)
        flags = scored.groupBy("doc_id").agg(
            *[F.max((F.col("term") == w).cast("int")).alias(f"__w{i}") for i, w in enumerate(vocab)]
        )
        widx = {w: i for i, w in enumerate(vocab)}
        counts = flags.select(
            *[
                F.sum(
                    F.when(
                        sum(F.col(f"__w{widx[w]}") for w in set(c)) == len(set(c)), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"__c{j}")
                for j, c in enumerate(candidates)
            ]
        ).collect()[0]
        rows = [
            (" ".join(c), int(counts[f"__c{j}"])) for j, c in enumerate(candidates)
        ]
        rows = [r for r in rows if r[1] > 0]
        rows.sort(key=lambda r: -r[1])  # stable: ties keep try order
        out = rows[:max_collations]
        return self.spark.createDataFrame(out or [], "collation string, hits long")

    def drill_sideways(self, base_query: Query, dims: dict) -> DataFrame:
        """DrillSideways analog (``reference lucene/facet/src/java/org/apache/
        lucene/facet/DrillSideways.java``): for each drill-down dimension,
        facet counts computed with *that* dimension's filter removed but every
        other dimension's filter (and the base query) applied.

        `dims` maps corpus column -> selected value.  One pass per dimension
        over the cached base match set (the reference likewise runs one
        DrillSidewaysQuery per dim); each pass is a broadcast-joined
        groupBy().count() — no corpus shuffle."""
        if self.corpus is None:
            raise ValueError("drill_sideways needs IndexSearcher(corpus=...)")
        ids = self.cached_filter(base_query)
        id_col = self.index.config.id_col
        # no broadcast hint: the match set of a hot term is unbounded at
        # 10^12-doc scale — let AQE pick broadcast vs shuffled semi-join
        matched = self.corpus.join(ids.withColumnRenamed("doc_id", id_col), id_col, "left_semi")
        out = None
        for dim in dims:
            side = matched
            for other, value in dims.items():
                if other != dim:
                    side = side.filter(F.col(other) == value)
            counts = side.groupBy(F.col(dim).alias("value")).agg(F.count("*").cast("bigint").alias("cnt"))
            counts = counts.select(F.lit(dim).alias("dim"), "value", "cnt")
            out = counts if out is None else out.unionByName(counts)
        return out

    def expand(self, query: Query, collapse_col: str, n_expand: int = 2) -> DataFrame:
        """Collapse/ExpandComponent analog (``reference solr/core/.../
        component/ExpandComponent.java``): collapse the result set to the
        top-scoring head per group, and return up to `n_expand` expanded
        member doc ids per group.

        One window over the matched set (rank within group by score desc,
        doc_id asc); head = rank 1, expanded = ranks 2..n+1 aggregated — a
        single shuffle on the group key."""
        if self.corpus is None:
            raise ValueError("expand needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        joined = scored.join(
            self.corpus.select(F.col(self.index.config.id_col).alias("doc_id"), F.col(collapse_col).alias("grp")),
            "doc_id",
        )
        from pyspark.sql.window import Window

        wnd = Window.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id"))
        ranked = joined.withColumn("rn", F.row_number().over(wnd)).filter(F.col("rn") <= 1 + n_expand)
        return (
            ranked.groupBy("grp")
            .agg(
                F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).cast("bigint").alias("head_doc"),
                # numeric sort before the string join ("10" < "9" otherwise)
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.when(F.col("rn") > 1, F.col("doc_id")))),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                ).alias("exp_docs"),
            )
            .orderBy("grp")
        )

    def group_topk(
        self, query: Query, group_col: str, k_per_group: int = 2,
        score_expr: Optional[str] = None,
    ) -> DataFrame:
        """Field collapse / grouping analog (``reference lucene/grouping/...
        FirstPassGroupingCollector.java`` two-pass; Solr ExpandComponent):
        top-k docs per group-field value over the full match set, ranked by
        (score desc, doc_id asc) — one window, no second pass needed because
        groups shuffle-partition cleanly.

        ``score_expr`` composes Solr's ``group=true`` with a ``{!func}``
        main query (``TestGroupingSearch.java:95`` uses ``{!func}id_i`` for
        predictable scores): the match score is multiplied by the SQL
        expression over corpus columns, exactly like :meth:`function_score`
        — so a MatchAll base with ``score_expr='id_i'`` ranks groups by the
        field value."""
        if self.corpus is None:
            raise ValueError("group_topk needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        id_col = self.index.config.id_col
        # full corpus join so score_expr sees every column; Catalyst prunes
        # unused ones back to (doc_id, group_col) on the plain path
        joined = scored.join(self.corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")
        if score_expr is not None:
            joined = joined.withColumn(
                "score",
                (F.col("score").cast("double") * F.expr(score_expr).cast("double"))
                .cast("float"),
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy(group_col).orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            joined.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k_per_group)
            .select(group_col, "rank", "doc_id", "score")
        )

    def facet(self, query: Query, facet_col: str) -> DataFrame:
        """Facet-on-results (``reference solr/.../component/FacetComponent``):
        value counts of `facet_col` over the query's full match set."""
        if self.corpus is None:
            raise ValueError("facet needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id")
        id_col = self.index.config.id_col
        return (
            matched.join(self.corpus.select(F.col(id_col).alias("doc_id"), facet_col), "doc_id")
            .groupBy(facet_col)
            .agg(F.count("*").cast("bigint").alias("cnt"))
        )

    def facet_query(self, base: Optional[Query], queries: dict) -> DataFrame:
        """``facet.query`` (``reference solr/core/src/java/org/apache/solr/
        handler/component/FacetComponent.java`` getFacetQueryCounts):
        arbitrary-query facet buckets — the hit count of (base AND bucket
        query) per named bucket.  ``base=None`` counts each bucket over the
        whole collection.

        One plan for ALL buckets: each bucket's matched doc set is tagged
        with its name, unioned, and counted in a single groupBy — N facet
        queries cost one job, not N (the reference likewise answers them
        from one cached base DocSet)."""
        base_ids = None
        if base is not None:
            stats = self._term_stats(base.terms())
            base_ids = self._evaluate(base, 1.0, stats).select("doc_id").distinct()
        tagged = None
        for name, q in queries.items():
            stats = self._term_stats(q.terms())
            ids = self._evaluate(q, 1.0, stats).select("doc_id").distinct()
            if base_ids is not None:
                ids = ids.join(base_ids, "doc_id", "left_semi")
            t = ids.select(F.lit(name).alias("bucket"), "doc_id")
            tagged = t if tagged is None else tagged.unionByName(t)
        if tagged is None:
            return self.spark.createDataFrame([], "bucket string, cnt bigint")
        counts = tagged.groupBy("bucket").agg(F.count("*").cast("bigint").alias("cnt"))
        # zero-count buckets still appear (the reference reports every facet.query)
        names = self.spark.createDataFrame([(n,) for n in queries], "bucket string")
        return names.join(counts, "bucket", "left").fillna({"cnt": 0})

    def complex_phrase_query(self, phrase: str, slop: int = 0, in_order: bool = True):
        """ComplexPhraseQueryParser analog (``reference lucene/queryparser/
        src/java/org/apache/lucene/queryparser/complexPhrase/
        ComplexPhraseQueryParser.java``): a quoted phrase whose slots may be
        wildcard/prefix patterns.  The parser rewrites the phrase into a
        SpanNearQuery whose pattern slots become SpanOr over the dictionary
        expansion (``rewrite`` → SpanNear/SpanOr assembly, :234-305).

        Expansion reads only the tiny sorted ``terms`` table (min/max-pruned
        scan); the span evaluation stays one positional-postings pass.  The
        expanded alternatives are capped at maxClauseCount like every
        multi-term rewrite."""
        from ..plans.query import SpanNearQuery

        slots = []
        for raw in phrase.split():
            w = raw.lower()  # Analyzer.normalize (StandardAnalyzer: lowercase)
            if "*" in w or "?" in w:
                like = self._wildcard_to_like(w)
                expanded = sorted(
                    r["term"] for r in self.index.terms.filter(F.col("term").like(like)).collect()
                )
                if len(expanded) > MAX_CLAUSE_COUNT:
                    raise ValueError(
                        f"complex-phrase slot {raw!r} expands to {len(expanded)} terms (maxClauseCount)"
                    )
                slots.append(tuple(expanded))
            else:
                slots.append(w)
        return SpanNearQuery(tuple(slots), slop=slop, in_order=in_order)

    def interval_facet(self, query: Query, col: str, intervals: list) -> DataFrame:
        """Solr interval facets (``reference solr/core/src/java/org/apache/
        solr/request/IntervalFacets.java``): per-interval doc counts over the
        match set, intervals given in Solr's bracket syntax — ``[0,10)``,
        ``(5,100]``, ``[*,42]`` — with independent (possibly overlapping)
        membership per interval.

        One corpus join + ONE aggregation row regardless of interval count:
        each interval is a conditional-sum column, so the plan stays a single
        scan with a scalar reduce — no per-interval pass, no shuffle of doc
        rows (the reference likewise streams doc values once, :66-78)."""
        import re as _re

        if self.corpus is None:
            raise ValueError("interval_facet needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id")
        id_col = self.index.config.id_col
        vals = matched.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(col).alias("_v")), "doc_id"
        )
        pat = _re.compile(r"^([\[\(])\s*(\*|-?\d+(?:\.\d+)?)\s*,\s*(\*|-?\d+(?:\.\d+)?)\s*([\]\)])$")
        aggs = []
        for spec in intervals:
            m = pat.match(spec)
            if not m:
                raise ValueError(f"bad interval syntax: {spec!r} (IntervalFacets grammar)")
            lo_b, lo, hi, hi_b = m.groups()
            cond = F.lit(True)
            if lo != "*":
                cond = cond & (F.col("_v") > float(lo) if lo_b == "(" else F.col("_v") >= float(lo))
            if hi != "*":
                cond = cond & (F.col("_v") < float(hi) if hi_b == ")" else F.col("_v") <= float(hi))
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(spec))
        row = vals.agg(*aggs)
        # unpivot the single row to (interval, cnt) — stack is pure codegen
        stack = ", ".join(f"'{s}', `{s}`" for s in intervals)
        return row.selectExpr(f"stack({len(intervals)}, {stack}) as (`interval`, cnt)")

    def sampled_facet(self, query: Query, facet_col: str, rate: int = 20) -> DataFrame:
        """RandomSamplingFacetsCollector analog (``reference lucene/facet/src/
        java/org/apache/lucene/facet/RandomSamplingFacetsCollector.java``):
        facet counting over a subsample of the match set with the 1/rate
        scale-back correction (``amortizeFacetCounts``).

        Deviation (documented): the reference samples with an XORShift64 RNG
        over the per-segment doc stream; we sample by a pure-integer
        multiplicative hash of the global doc_id — deterministic under ANY
        partitioning (the reference's sample changes with segment geometry)
        and bit-exactly replayable in ANSI SQL. At 100 TB the sample keeps
        the shuffle 1/rate-sized; the groupBy output is one row per facet
        value either way."""
        if self.corpus is None:
            raise ValueError("sampled_facet needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id")
        # (doc_id mod p) * K mod p stays < ~2.7e17 — no bigint overflow under ANSI
        p, k = 100000007, 2654435761
        h = ((F.col("doc_id") % F.lit(p)) * F.lit(k)) % F.lit(p)
        sampled = matched.filter(h % F.lit(int(rate)) == 0)
        id_col = self.index.config.id_col
        return (
            sampled.join(self.corpus.select(F.col(id_col).alias("doc_id"), facet_col), "doc_id")
            .groupBy(facet_col)
            .agg(F.count("*").cast("bigint").alias("sampled_cnt"))
            .withColumn("est_cnt", (F.col("sampled_cnt") * F.lit(int(rate))).cast("bigint"))
        )

    def relatedness(self, fg_query: Query, facet_col: str, min_pop: float = 0.0) -> DataFrame:
        """Solr JSON facet ``relatedness()`` aggregation (``reference
        solr/core/src/java/org/apache/solr/search/facet/RelatednessAgg.java``)
        — the Semantic Knowledge Graph bucket score.

        Per bucket of `facet_col` (background = whole corpus, foreground =
        docs matching `fg_query`): fg_count = |bucket ∩ fg|, bg_count =
        |bucket|, fg_size = |fg|, bg_size = |corpus|;

        - ``fg_pop = round5(fg_count / bg_size)`` (background size is
          intentional, ``RelatednessAgg.java:356``), ``bg_pop =
          round5(bg_count / bg_size)``;
        - relatedness = the approximated z-score pushed through five scaled
          sigmoids ``(z+off)/(scale+|z+off|)`` (``:473-487``), rounded to 5
          digits via ``Math.round(x*1e5)/1e5`` = ``floor(x*1e5 + 0.5)/1e5``;
        - buckets with fg_pop or bg_pop below `min_pop` get -Infinity
          (``:362-363``).

        One corpus scan + one shuffle (the groupBy); all arithmetic is
        Catalyst codegen (float64 IEEE ops — deterministic), no UDFs."""
        if self.corpus is None:
            raise ValueError("relatedness needs IndexSearcher(corpus=...)")
        stats = self._term_stats(fg_query.terms())
        fg = self._evaluate(fg_query, 1.0, stats).select("doc_id").distinct()
        id_col = self.index.config.id_col
        base = self.corpus.select(F.col(id_col).alias("doc_id"), facet_col)
        j = base.join(fg.withColumn("is_fg", F.lit(1)), "doc_id", "left")
        per = j.groupBy(facet_col).agg(
            F.count("*").cast("double").alias("bg_count"),
            F.sum(F.coalesce(F.col("is_fg"), F.lit(0))).cast("double").alias("fg_count"),
        )
        tot = j.agg(
            F.count("*").cast("double").alias("bg_size"),
            F.sum(F.coalesce(F.col("is_fg"), F.lit(0))).cast("double").alias("fg_size"),
        )
        out = per.crossJoin(F.broadcast(tot))

        def _round5(c):
            return F.floor(c * F.lit(1e5) + F.lit(0.5)) / F.lit(1e5)

        bg_prob = F.col("bg_count") / F.col("bg_size")
        num = F.col("fg_count") - F.col("fg_size") * bg_prob
        denom_raw = F.sqrt(F.col("fg_size") * bg_prob * (F.lit(1.0) - bg_prob))
        denom = F.when(denom_raw == 0.0, F.lit(1e-10)).otherwise(denom_raw)
        z = num / denom

        def _sig(off, scale):
            return (z + F.lit(float(off))) / (F.lit(float(scale)) + F.abs(z + F.lit(float(off))))

        rel = F.lit(0.2) * _sig(-80, 50) + F.lit(0.2) * _sig(-30, 30) + F.lit(0.2) * _sig(0, 30) \
            + F.lit(0.2) * _sig(30, 30) + F.lit(0.2) * _sig(80, 50)
        fg_pop = _round5(F.col("fg_count") / F.col("bg_size"))
        bg_pop = _round5(F.col("bg_count") / F.col("bg_size"))
        rel5 = F.when(
            (fg_pop < F.lit(float(min_pop))) | (bg_pop < F.lit(float(min_pop))),
            F.lit(float("-inf")),
        ).otherwise(_round5(rel))
        return out.select(
            facet_col,
            F.col("fg_count").cast("bigint").alias("fg_count"),
            F.col("bg_count").cast("bigint").alias("bg_count"),
            fg_pop.alias("fg_pop"),
            bg_pop.alias("bg_pop"),
            rel5.alias("relatedness"),
        )

    def parent_block_join(self, child_query: Query, parent_col: str) -> DataFrame:
        """ToParentBlockJoinQuery analog (``reference lucene/join/src/java/org/
        apache/lucene/search/join/ToParentBlockJoinQuery.java``): child hits
        rolled up to their parent (here: any corpus column as the parent key,
        e.g. conv_id for conversation/turn, source for document groups).

        Returns (parent, n_hits, best_doc) — ScoreMode.Max's winning child and
        the child hit count per parent. One groupBy on the parent key; child
        scores never leave their partition before the rollup (map-side
        combinable)."""
        if self.corpus is None:
            raise ValueError("parent_block_join needs IndexSearcher(corpus=...)")
        stats = self._term_stats(child_query.terms())
        scored = self._evaluate(child_query, 1.0, stats)
        id_col = self.index.config.id_col
        joined = scored.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent")), "doc_id"
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("parent").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .groupBy("parent")
            .agg(
                F.count("*").cast("bigint").alias("n_hits"),
                F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).cast("bigint").alias("best_doc"),
            )
        )

    def block_join_topk(
        self,
        child_query: Query,
        parent_col: str,
        score_mode: str = "avg",
        k: int = 10,
    ) -> DataFrame:
        """ToParentBlockJoinQuery with the full ScoreMode set (``reference
        lucene/join/src/java/org/apache/lucene/search/join/
        ToParentBlockJoinQuery.java:308-354``, ``ScoreMode.java``): child
        hits roll up to their parent block (here: the ``parent_col`` group,
        e.g. conv_id for conversation/turn); parent score per mode —

        - ``none``  → 0 (``:322``; constant, order by parent only)
        - ``total`` → Σ child f32 scores, accumulated in double (``:329-331``)
        - ``avg``   → that sum / childCount (``:351-352``)
        - ``min`` / ``max`` → order-free over float32 (``:333-337``)

        final single cast to float32 (``:354``).  Returns top-k parents
        ``(rank, parent, n_hits)`` ordered (score desc, parent asc) — the
        parent-key tiebreak standing in for Lucene's parent-docID asc.

        Scale shape: one groupBy on the parent key over the child match set
        only (map-side combinable partial aggs), then TakeOrderedAndProject —
        the corpus never shuffles; only matched (doc_id, score) rows do."""
        if self.corpus is None:
            raise ValueError("block_join_topk needs IndexSearcher(corpus=...)")
        stats = self._term_stats(child_query.terms())
        scored = self._evaluate(child_query, 1.0, stats)
        id_col = self.index.config.id_col
        joined = scored.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(parent_col).alias("parent")),
            "doc_id",
        )
        n_hits = F.count("*").cast("bigint").alias("n_hits")
        if score_mode == "none":
            agg = joined.groupBy("parent").agg(n_hits).withColumn(
                "score", F.lit(0.0).cast("float")
            )
        elif score_mode == "total":
            agg = joined.groupBy("parent").agg(
                n_hits, F.sum(F.col("score").cast("double")).cast("float").alias("score")
            )
        elif score_mode == "avg":
            agg = joined.groupBy("parent").agg(
                n_hits,
                (F.sum(F.col("score").cast("double")) / F.count("*"))
                .cast("float")
                .alias("score"),
            )
        elif score_mode in ("min", "max"):
            fold = F.min if score_mode == "min" else F.max
            agg = joined.groupBy("parent").agg(n_hits, fold("score").cast("float").alias("score"))
        else:
            raise ValueError(f"unknown score_mode {score_mode!r}")
        from pyspark.sql.window import Window

        top = agg.orderBy(F.desc("score"), F.asc("parent")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("parent"))
        return top.select(
            F.row_number().over(w).cast("int").alias("rank"),
            "parent",
            "n_hits",
        )

    def to_child_block_join(
        self, parent_query: Query, parent_col: str, k: int = 10, do_scores: bool = True
    ) -> TopDocs:
        """ToChildBlockJoinQuery analog (``reference lucene/join/src/java/org/
        apache/lucene/search/join/ToChildBlockJoinQuery.java:126-230``): the
        parent query runs against parent documents only — here the first doc
        (min doc_id) of each ``parent_col`` group, standing in for the
        block's distinguished parent row — and every OTHER doc of a matching
        group inherits the parent's float32 score verbatim (``parentScore``
        capture at ``:215-217``; the parent itself is never emitted,
        ``:163-165``).  ``do_scores=False`` ≙ the reference's needsScores
        false path (score 0, ``:137-139``).

        Scale shape: the parent map (one row per matched group) broadcasts;
        the child pass is one broadcast-hash join against the corpus scan —
        no corpus shuffle."""
        if self.corpus is None:
            raise ValueError("to_child_block_join needs IndexSearcher(corpus=...)")
        id_col = self.index.config.id_col
        parents = self.corpus.groupBy(F.col(parent_col).alias("__pk")).agg(
            F.min(id_col).cast("long").alias("__pdoc")
        )
        stats = self._term_stats(parent_query.terms())
        scored = self._evaluate(parent_query, 1.0, stats)
        pmap = scored.join(
            F.broadcast(parents), scored["doc_id"] == parents["__pdoc"]
        ).select("__pk", "__pdoc", F.col("score").alias("__pscore"))
        child_score = (
            F.col("__pscore") if do_scores else F.lit(0.0).cast("float")
        )
        out = (
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(parent_col).alias("__pk"))
            .join(F.broadcast(pmap), "__pk")
            .filter(F.col("doc_id") != F.col("__pdoc"))
            .select("doc_id", child_score.alias("score"))
        )
        if self.index.deletes is not None:
            out = out.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        return TopDocs(df=out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def interval_query(
        self,
        terms: list,
        ordered: bool = True,
        max_gaps: Optional[int] = None,
        boost: float = 1.0,
        pivot: float = 1.0,
        k: int = 10,
        output: str = "score",
    ) -> DataFrame:
        """IntervalQuery analog (``reference lucene/sandbox/src/java/org/
        apache/lucene/search/intervals/IntervalQuery.java``,
        ``Intervals.ordered/unordered/maxgaps``): minimal-interval semantics
        over the positional postings, per-doc sloppy frequency
        Σ 1/max(length - n + 1, 1), scored with the saturation function
        ``boost * (1 - pivot/(pivot + freq))`` (IntervalScoreFunction).

        output='score' → (doc_id, score float32) top-k;
        output='freq_q' → (doc_id, freq_q bigint) top-k — the order-free
        fixed-point contract path (saturation is strictly monotone in freq,
        so both outputs induce the same ranking up to quantization).

        Plan shape: occurrence rows are bulk-decoded from the .pos stream
        (no per-row Python), shuffled once on doc_id; each group is one
        document's occurrences of the query terms (tiny), minimized with the
        reference's iterator algorithms inside an Arrow batch.
        """
        from ..functions.intervals import (
            interval_freq,
            interval_freq_quantized,
            minimal_ordered_intervals,
            minimal_unordered_intervals,
            saturation_score,
        )

        if not self.index.config.index_positions:
            raise ValueError("interval_query needs an index built with index_positions=True")
        terms = list(terms)
        uniq = list(dict.fromkeys(terms))
        stats = self._term_stats(set(uniq))
        if any(t not in stats for t in uniq):
            return self._empty() if output == "score" else self._empty().withColumnRenamed("score", "freq_q")
        occ = self._positional_occurrences(uniq)
        n = len(terms)
        minimize = minimal_ordered_intervals if ordered else minimal_unordered_intervals
        quantized = output == "freq_q"
        schema = "doc_id bigint, freq_q bigint" if quantized else "doc_id bigint, score float"

        val_col = "freq_q" if quantized else "score"
        val_dtype = "int64" if quantized else "float32"

        # One shuffle on doc_id, then a sorted partition scan that walks every
        # document in the Arrow batch with numpy slices.  groupBy(doc_id).
        # applyInPandas here would invoke the Python group machinery once per
        # matching DOCUMENT (~ms each) — thousands of matching docs made that
        # the slowest operator in the bench; this shape pays per BATCH instead.
        # A document's rows can straddle two Arrow batches inside a task, so
        # the scan carries the trailing (possibly incomplete) document over to
        # the next batch and flushes it at end of partition.
        uniq_code = {t: i for i, t in enumerate(uniq)}
        term_order = [uniq_code[t] for t in terms]

        def scan(iterator):
            carry = None
            out_docs: list = []
            out_vals: list = []

            def run_doc(doc: int, codes: np.ndarray, pos: np.ndarray) -> None:
                by_code = []
                for c in range(len(uniq)):
                    p = pos[codes == c]
                    if p.size == 0:
                        return
                    by_code.append(np.sort(p))
                iv = minimize([by_code[c] for c in term_order])
                if quantized:
                    v = interval_freq_quantized(iv, n, max_gaps)
                    if v:
                        out_docs.append(doc)
                        out_vals.append(v)
                else:
                    v = interval_freq(iv, n, max_gaps)
                    if v:
                        out_docs.append(doc)
                        out_vals.append(saturation_score(v, boost, pivot))

            def run_range(d: np.ndarray, codes: np.ndarray, pos: np.ndarray) -> None:
                bounds = np.flatnonzero(np.diff(d)) + 1
                for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, d.size]):
                    run_doc(int(d[lo]), codes[lo:hi], pos[lo:hi])

            def flush() -> pd.DataFrame:
                pdf_out = pd.DataFrame(
                    {
                        "doc_id": np.asarray(out_docs, dtype=np.int64),
                        val_col: np.asarray(out_vals, dtype=val_dtype),
                    }
                )
                out_docs.clear()
                out_vals.clear()
                return pdf_out

            for pdf in iterator:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                d = pdf["doc_id"].to_numpy(dtype=np.int64)
                if d.size == 0:
                    continue
                # last doc may continue in the next batch — hold it back
                cut = np.searchsorted(d, d[-1], side="left")
                carry = pdf.iloc[cut:].copy()
                if cut:
                    codes = pdf["term"].iloc[:cut].map(uniq_code).to_numpy(dtype=np.int64)
                    run_range(d[:cut], codes, pdf["pos"].to_numpy(dtype=np.int64)[:cut])
                    yield flush()
            if carry is not None and len(carry):
                d = carry["doc_id"].to_numpy(dtype=np.int64)
                codes = carry["term"].map(uniq_code).to_numpy(dtype=np.int64)
                run_range(d, codes, carry["pos"].to_numpy(dtype=np.int64))
                yield flush()

        scored = occ.repartition("doc_id").sortWithinPartitions("doc_id").mapInPandas(scan, schema)
        if self.index.deletes is not None:
            scored = scored.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        return scored.orderBy(F.desc(val_col), F.asc("doc_id")).limit(k)

    def interval_source_query(
        self,
        source,
        boost: float = 1.0,
        pivot: float = 1.0,
        k: int = 10,
        output: str = "score",
    ) -> DataFrame:
        """Nested IntervalQuery (``Intervals.or/phrase/ordered/unordered``
        combinators — see functions/interval_sources.py): minimal-interval
        evaluation of an arbitrary source tree per document, scored with the
        saturation function, ``output='freq_q'`` for the order-free
        fixed-point contract path, or ``output='intervals'`` to emit the
        minimal intervals themselves as (doc_id, start, end) rows — the
        ``MatchesIterator`` surface (``reference lucene/sandbox/src/java/
        org/apache/lucene/search/intervals/IntervalMatchesIterator``
        analog; pinned against the reference's TestIntervals expected
        interval arrays by the ft_golden_intervals contract row).

        Same plan shape as :meth:`interval_query`: bulk .pos decode, ONE
        doc_id shuffle, per-doc evaluation inside Arrow batches."""
        from ..functions.interval_sources import (
            evaluate,
            source_freq,
            source_freq_quantized,
            source_terms,
        )
        from ..functions.intervals import saturation_score

        if not self.index.config.index_positions:
            raise ValueError("interval_source_query needs index_positions=True")
        terms = sorted(source_terms(source))
        stats = self._term_stats(set(terms))
        live = [t for t in terms if t in stats]
        quantized = output == "freq_q"
        intervals_out = output == "intervals"
        val_col = "freq_q" if quantized else "score"
        val_dtype = np.int64 if quantized else np.float32
        if intervals_out:
            schema = "doc_id long, start int, end int"
        else:
            schema = f"doc_id long, {val_col} {'long' if quantized else 'float'}"
        if not live:
            # empty result must still carry the documented schema for THIS
            # output mode — intervals callers select (doc_id, start, end)
            return self.spark.createDataFrame([], schema)
        occ = self._positional_occurrences(live)

        def scan(iterator):
            carry = None
            out_docs: list = []
            out_vals: list = []
            out_starts: list = []
            out_ends: list = []

            def run_doc(doc: int, terms_arr: np.ndarray, pos: np.ndarray) -> None:
                positions = {}
                for t in np.unique(terms_arr):
                    positions[t] = np.sort(pos[terms_arr == t]).tolist()
                if intervals_out:
                    for s_, e_, _g in evaluate(source, positions):
                        out_docs.append(doc)
                        out_starts.append(s_)
                        out_ends.append(e_)
                elif quantized:
                    v = source_freq_quantized(source, positions)
                    if v:
                        out_docs.append(doc)
                        out_vals.append(v)
                else:
                    v = source_freq(source, positions)
                    if v:
                        out_docs.append(doc)
                        out_vals.append(saturation_score(v, boost, pivot))

            def run_range(d: np.ndarray, terms_arr, pos: np.ndarray) -> None:
                bounds = np.flatnonzero(np.diff(d)) + 1
                for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, d.size]):
                    run_doc(int(d[lo]), terms_arr[lo:hi], pos[lo:hi])

            def flush() -> pd.DataFrame:
                if intervals_out:
                    pdf_out = pd.DataFrame(
                        {
                            "doc_id": np.asarray(out_docs, dtype=np.int64),
                            "start": np.asarray(out_starts, dtype=np.int32),
                            "end": np.asarray(out_ends, dtype=np.int32),
                        }
                    )
                    out_docs.clear()
                    out_starts.clear()
                    out_ends.clear()
                    return pdf_out
                pdf_out = pd.DataFrame(
                    {
                        "doc_id": np.asarray(out_docs, dtype=np.int64),
                        val_col: np.asarray(out_vals, dtype=val_dtype),
                    }
                )
                out_docs.clear()
                out_vals.clear()
                return pdf_out

            for pdf in iterator:
                if carry is not None:
                    pdf = pd.concat([carry, pdf], ignore_index=True)
                d = pdf["doc_id"].to_numpy(dtype=np.int64)
                if d.size == 0:
                    continue
                cut = np.searchsorted(d, d[-1], side="left")
                carry = pdf.iloc[cut:].copy()
                if cut:
                    run_range(
                        d[:cut],
                        pdf["term"].to_numpy()[:cut],
                        pdf["pos"].to_numpy(dtype=np.int64)[:cut],
                    )
                    yield flush()
            if carry is not None and len(carry):
                run_range(
                    carry["doc_id"].to_numpy(dtype=np.int64),
                    carry["term"].to_numpy(),
                    carry["pos"].to_numpy(dtype=np.int64),
                )
                yield flush()

        scored = occ.repartition("doc_id").sortWithinPartitions("doc_id").mapInPandas(scan, schema)
        if self.index.deletes is not None:
            scored = scored.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        if intervals_out:
            return scored.orderBy("doc_id", "start", "end")
        return scored.orderBy(F.desc(val_col), F.asc("doc_id")).limit(k)

    def join_query(
        self,
        from_query: Query,
        from_field: str,
        to_field: str,
        score_mode: str = "max",
        k: int = 10,
    ) -> TopDocs:
        """Query-time join — JoinUtil.createJoinQuery analog (``reference
        lucene/join/src/java/org/apache/lucene/search/join/JoinUtil.java``,
        ``GlobalOrdinalsWithScoreQuery.java``).

        Evaluate ``from_query``, project each hit's ``from_field`` value,
        aggregate the hit scores per value (ScoreMode: none / max / min /
        total / avg — ``join/ScoreMode.java``), then score every to-side doc
        whose ``to_field`` carries a joined value.

        Scale shape: the value→score map is the global-ordinals structure —
        it is bounded by the from-side match count, tiny next to the corpus,
        so it broadcasts; the to-side pass is one broadcast-hash join with
        the ``to_field`` equality pushed to the scan side (no shuffle of the
        corpus).  'max'/'min'/'none' are order-free over float32 and thus
        bitwise-deterministic; 'total'/'avg' accumulate in float64 then
        round once to float32 (the reference accumulates in float32 in ord
        order — a sequential detail with no distributed analog, so we pick
        the deterministic formulation and document the deviation).
        """
        if self.corpus is None:
            raise ValueError("join_query needs IndexSearcher(corpus=...)")
        stats = self._term_stats(from_query.terms())
        scored = self._evaluate(from_query, 1.0, stats)
        id_col = self.index.config.id_col
        from_vals = scored.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(from_field).alias("__jv")),
            "doc_id",
        )
        if score_mode == "none":
            vals = from_vals.select("__jv").distinct().withColumn(
                "score", F.lit(1.0).cast("float")
            )
        elif score_mode in ("max", "min"):
            agg = F.max if score_mode == "max" else F.min
            vals = from_vals.groupBy("__jv").agg(agg("score").cast("float").alias("score"))
        elif score_mode in ("total", "avg"):
            agg = F.sum if score_mode == "total" else F.avg
            vals = from_vals.groupBy("__jv").agg(
                agg(F.col("score").cast("double")).cast("float").alias("score")
            )
        else:
            raise ValueError(f"unknown score_mode {score_mode!r}")
        out = (
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(to_field).alias("__jv"))
            .join(F.broadcast(vals), "__jv")
            .select("doc_id", "score")
        )
        if self.index.deletes is not None:
            out = out.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        return TopDocs(df=out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def rescore(self, top: TopDocs, query: Query, weight: float = 1.0) -> DataFrame:
        """QueryRescorer analog (``reference lucene/core/src/java/org/apache/
        lucene/search/QueryRescorer.java``): combine first-pass scores with a
        costlier query's scores over ONLY the top-N rows.

        combined = f32(f64(first) + weight * f64(second)); docs the rescore
        query misses keep their first-pass score (Lucene behavior)."""
        stats = self._term_stats(query.terms())
        second = self._evaluate(query, 1.0, stats).select("doc_id", F.col("score").alias("s2"))
        firsts = top.df.select("doc_id", F.col("score").alias("s1"))
        combined = firsts.join(second, "doc_id", "left")
        return (
            combined.select(
                "doc_id",
                (
                    F.col("s1").cast("double")
                    + F.lit(float(weight)) * F.coalesce(F.col("s2").cast("double"), F.lit(0.0))
                )
                .cast("float")
                .alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def function_score(self, query: Query, expr: str, k: int = 10) -> TopDocs:
        """FunctionScoreQuery / function-query analog (``reference lucene/
        queries/.../function/FunctionScoreQuery.java``, Solr
        ``ValueSourceParser.java``): score = f32(f64(bm25) * f64(expr)) where
        `expr` is any SQL expression over corpus columns — Catalyst is our
        expression compiler (SURVEY §2.5 expressions row)."""
        if self.corpus is None:
            raise ValueError("function_score needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        id_col = self.index.config.id_col
        joined = scored.join(self.corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")
        rescored = joined.select(
            "doc_id",
            (F.col("score").cast("double") * F.expr(expr).cast("double")).cast("float").alias("score"),
        )
        return TopDocs(df=rescored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def frange(self, func_src: str, lower=None, upper=None, incl=True, incu=True) -> DataFrame:
        """Solr's ``{!frange}`` / Lucene FunctionRangeQuery (``reference
        lucene/queries/src/java/org/apache/lucene/queries/function/
        FunctionRangeQuery.java``, ``solr/core/.../search/
        FunctionRangeQParserPlugin.java``): match documents whose
        function-query value falls in [lower, upper], constant score 1.
        Compiles to a Catalyst predicate over the corpus scan — pushed down
        when the function reduces to plain columns."""
        from ..plans.function_queries import FunctionContext, compile_function

        if self.corpus is None:
            raise ValueError("frange needs IndexSearcher(corpus=...)")
        ctx = FunctionContext(self)
        col = compile_function(func_src, ctx).cast("double")
        id_col = self.index.config.id_col
        base = self.corpus.withColumnRenamed(id_col, "doc_id")
        for aux in ctx.joins.values():
            base = base.join(aux, "doc_id", "left")
        pred = F.lit(True)
        if lower is not None:
            pred = pred & (col >= lower if incl else col > lower)
        if upper is not None:
            pred = pred & (col <= upper if incu else col < upper)
        return base.filter(pred).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(1.0).cast("float").alias("score"),
        )

    def function_query_score(self, query: Query, func_src: str, k: int = 10) -> TopDocs:
        """Named Solr function-query surface (``ValueSourceParser.java``
        registry): rescore matches by ``f32(f64(score) * f64(func))`` where
        ``func`` is the compiled function-query expression — e.g.
        ``product(recip(n_chars,1,1000,1000), sum(termfreq(text,'scan'),1))``.
        See plans/function_queries.py for the supported registry."""
        from ..plans.function_queries import FunctionContext, compile_function

        if self.corpus is None:
            raise ValueError("function queries need IndexSearcher(corpus=...)")
        ctx = FunctionContext(self)
        col = compile_function(func_src, ctx)
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        id_col = self.index.config.id_col
        joined = scored.join(self.corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")
        for aux in ctx.joins.values():
            joined = joined.join(aux, "doc_id", "left")
        rescored = joined.select(
            "doc_id",
            (F.col("score").cast("double") * col.cast("double")).cast("float").alias("score"),
        )
        return TopDocs(df=rescored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def expression_rescore(self, query: Query, expr_src: str, k: int = 10) -> TopDocs:
        """Expressions-module ranking (``reference lucene/expressions/.../js/
        JavascriptCompiler.java``; ``SimpleBindings`` with ``_score`` + doc
        values): score matches by a compiled JS-like expression over the query
        score and corpus columns, f32 at the collector boundary.

        The expression compiles to a pure Column tree (whole-stage codegen);
        binding resolution is ``_score`` → the query score, anything else →
        the corpus column of that name."""
        from ..plans.expressions import compile_expression

        if self.corpus is None:
            raise ValueError("expression rescoring needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        id_col = self.index.config.id_col
        joined = scored.join(self.corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")

        def resolver(name: str):
            if name == "_score":
                return F.col("score").cast("double")
            return F.col(name)

        col = compile_expression(expr_src, resolver)
        rescored = joined.select("doc_id", col.cast("float").alias("score"))
        return TopDocs(df=rescored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def search_after(self, query: Query, k: int = 10, after: Optional[tuple] = None, prune: bool = True) -> TopDocs:
        """``IndexSearcher.searchAfter`` / Solr cursorMark deep paging: the
        page strictly after cursor ``(score, doc_id)`` in (score desc,
        doc_id asc) order.  Each page is one bounded top-k job — at 10^12
        docs this replaces the ``start=N`` offset pattern whose cost grows
        with the offset (every shard would have to return N+k rows)."""
        if after is None:
            return self.search(query, k, prune=prune)
        a_score, a_doc = float(after[0]), int(after[1])
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        if self.index.deletes is not None:
            scored = scored.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        cur = F.col("score") < F.lit(a_score)
        cur = cur | ((F.col("score") == F.lit(a_score)) & (F.col("doc_id") > F.lit(a_doc)))
        ranked = scored.filter(cur).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        return TopDocs(df=ranked, k=k)

    def sorted_export(self, query: Query, sort_cols: list, k: Optional[int] = None) -> DataFrame:
        """TopFieldCollector / Solr ``/export`` analog: the full match set
        ordered by doc-values columns (Catalyst TakeOrderedAndProject when k
        is set, a plain global sort for export)."""
        if self.corpus is None:
            raise ValueError("sorted_export needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id")
        id_col = self.index.config.id_col
        joined = matched.join(self.corpus.withColumnRenamed(id_col, "doc_id"), "doc_id")
        out = joined.orderBy(*sort_cols)
        return out.limit(k) if k else out

    def suggest(self, prefix: str, n: int = 10) -> DataFrame:
        """Suggester analog (``reference lucene/suggest/.../Lookup.java``):
        most frequent dictionary terms under a prefix — a pruned scan of the
        terms table standing in for the suggest FST."""
        return (
            self.index.terms.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .select("term", F.col("df").cast("long"))
        )

    def terms_enum(
        self,
        prefix: str = None,
        lower: str = None,
        upper: str = None,
        min_count: int = 1,
        sort: str = "count",
        limit: int = 10,
    ) -> DataFrame:
        """TermsComponent analog (``reference solr/core/src/java/org/apache/
        solr/handler/component/TermsComponent.java``; Lucene's TermsEnum
        surface): enumerate dictionary terms under prefix/range bounds with
        ``terms.mincount`` filtering, sorted by count (df desc, term asc) or
        index (term asc) order.  A pure pruned scan of the sorted terms table
        — the blocktree/FST walk maps to parquet min/max pruning."""
        t = self.index.terms
        if prefix is not None:
            t = t.filter(F.col("term").startswith(prefix))
        if lower is not None:
            t = t.filter(F.col("term") >= lower)
        if upper is not None:
            t = t.filter(F.col("term") < upper)
        if min_count > 1:
            t = t.filter(F.col("df") >= min_count)
        order = (
            [F.desc("df"), F.asc("term")] if sort == "count" else [F.asc("term")]
        )
        return t.orderBy(*order).limit(limit).select("term", F.col("df").cast("long"))

    def high_freq_terms(self, num_terms: int = 100, order: str = "df") -> DataFrame:
        """HighFreqTerms analog (``reference lucene/misc/src/java/org/apache/
        lucene/misc/HighFreqTerms.java:138-168``): the top ``num_terms``
        dictionary terms by docFreq (default) or totalTermFreq (``-t``),
        highest first with the reference comparator's (freq, term) ascending
        tie order reversed — i.e. (freq desc, term desc).  One pruned scan of
        the terms stats table + TakeOrderedAndProject; the priority queue over
        a full TermsEnum walk becomes a distributed top-k."""
        key = "ttf" if order == "ttf" else "df"
        return (
            self.index.terms.orderBy(F.desc(key), F.desc("term"))
            .limit(int(num_terms))
            .select("term", F.col("df").cast("long"), F.col("ttf").cast("long"))
        )

    def elevate(self, query: Query, elevated_ids: list, k: int = 10, exclude_ids: list = ()) -> DataFrame:
        """QueryElevationComponent (``reference solr/core/src/java/org/apache/
        solr/handler/component/QueryElevationComponent.java``): pin the
        configured documents at the top in their configured order, drop the
        banned ones, and fill the remainder with organic (score desc, doc_id
        asc) ranking.  The organic fill is a TakeOrderedAndProject of
        k − len(elevated) rows; the k-row page assembles on the driver —
        never more than k rows leave the cluster.  Returns
        (rank, doc_id, elevated)."""
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        banned = list(set(exclude_ids) | set(elevated_ids))
        n_head = min(len(elevated_ids), k)
        organic = (
            scored.filter(~F.col("doc_id").isin(banned))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k - n_head)
            .collect()
        )
        rows = [(i + 1, int(d), True) for i, d in enumerate(elevated_ids[:k])]
        rows += [
            (n_head + i + 1, int(r["doc_id"]), False) for i, r in enumerate(organic)
        ]
        return self.spark.createDataFrame(rows, "rank int, doc_id long, elevated boolean")

    def _batch_pruned_postings(
        self, clause_rows: list, meta_rows: list, stats: dict, k: int,
        params: Optional[dict] = None, metrics_out: Optional[dict] = None,
    ) -> tuple:
        """The block-max θ pre-pass (reference ``ImpactsDISI.java:94-126``)
        of both :meth:`batch_search` and :meth:`search`: without it every
        posting of the query terms is unpacked and scored, the one plan that
        stays linear in corpus postings at scale.

        ``clause_rows`` ``(qc, term, occ, w)`` and ``meta_rows`` ``(qc,
        qids, n_req, mm)`` are the clause groups; a clause scores
        ``f32(w)·s`` where ``s`` is the posting's score under ``params``
        (default: unit params — the batch, whose ``w`` is the leaf weight;
        a single search passes its own leaf params and ``w`` = 1).  ``k`` is
        the caller's bound (k plus exclusions); pending deletes widen it
        here.

        Scheme:
        1. per-block upper bound ``ub`` from (max_tf, min_norm) — sound for
           every monotone kernel;
        2. sample the top ``max(2, k)`` blocks per term, exact-unpack them
           driver-side;
        3. per group q, a SOUND lower bound θ_q on its k-th best matching
           score: the k-th largest per-doc sum over the sample of q's *safe*
           clauses.  All SHOULD clauses are safe when q is a pure
           disjunction (no required clause, mm<=1, no MUST_NOT), and the
           single required clause when it is the only one, a MUST, and
           mm<=0 — a doc holding a safe clause matches q and scores at
           least its sampled sum.  Conjunctions / mm>1 / MUST_NOT / FILTER
           groups get θ_q = -inf (their k-th matching score can be
           arbitrarily low — never prune on their account).  When no group
           has a safe clause, the sample job is skipped;
        4. per term t, the survival threshold θ_t = min over groups q∋t of
           (θ_q − slack_qt)/w_qt where slack_qt = Σ over q's OTHER scoring
           clauses of f32(w)·umax — any posting of a potential top-k doc of
           q contributes ≥ θ_q − slack_qt, so a block with ub < θ_t cannot
           hold one.  Terms carried by any FILTER/MUST_NOT clause,
           zero-weight clause, or θ_q = -inf group are never pruned (their
           postings decide MATCHING, not just score);
        5. keep the blocks with ``ub >= θ_t``.

        Besides the block filter, the per-clause thresholds are returned AS
        a map ``(qc, term) -> θ`` for the batch's posting-level filtering
        after the clause join: a posting scoring below (θ_q − slack_qt)/w_qt
        cannot belong to a top-k doc OF THAT QUERY, so the (posting, clause)
        pair can be dropped even when another query (e.g. a conjunction
        sharing the term) still needs the block.  This is the step the
        per-term min collapses: ONE conjunction in the batch forces every
        shared term's blocks to unpack, but it must not force every other
        query to carry them through the exchange.  Dropping a pair (or a
        block) is sound for matching too: a doc losing its only required/
        should row vanishes from that query entirely (it could not be
        top-k), and a doc keeping partial rows scores strictly below the
        true k-th (θ_q ≤ kth and the margin makes the cut strict), so it
        can neither enter nor tie into the top-k.

        Returns ``(blocks, clause_theta)``: the surviving block rows (None =
        run the exhaustive scan) and the per-clause posting thresholds
        (empty when the cost gate skipped the analysis).  Results are
        bit-identical either way (pinned by the prune-identity tests); a
        1e-4 absolute margin on every threshold absorbs the f32/f64
        rounding between the f64 threshold math and the f32 engine
        scores."""
        from collections import defaultdict

        terms_needed = sorted({t for _, t, _, _ in clause_rows})
        if not terms_needed or sum(int(stats[t][0]) for t in terms_needed) < self.prune_min_postings:
            return None, {}
        # pending deletes: a deleted doc in the sample inflates θ above the
        # best LIVE scores and would prune the blocks holding them.  Enlarge
        # k by the delete count; past the cap the sample would cost more
        # than it saves — run exhaustive until expunge reclaims them
        k = k + self._deletes_count()
        if k > 256:
            return None, {}

        by_q: dict = defaultdict(list)
        for qc, t, occ, w in clause_rows:
            by_q[qc].append((t, occ, float(np.float32(w))))
        meta_by_q = {qc: (n_req, mm) for qc, _, n_req, mm in meta_rows}
        M, S = _OCC_CODE["MUST"], _OCC_CODE["SHOULD"]
        FL, MN = _OCC_CODE["FILTER"], _OCC_CODE["MUST_NOT"]
        proof: dict = {}  # qc -> (scoring clauses, the required term or None)
        for qc, leaves in by_q.items():
            n_req, mm = meta_by_q[qc]
            if any(o == MN for _, o, _ in leaves):
                continue
            scoring = [(t, w) for t, o, w in leaves if o in (M, S) and w > 0]
            musts = [t for t, o, w in leaves if o == M and w > 0]
            if n_req == 0 and mm <= 1:
                proof[qc] = (scoring, None)
            elif n_req == 1 and mm <= 0 and len(musts) == 1:
                proof[qc] = (scoring, musts[0])
        if not any(scoring for scoring, _ in proof.values()):
            return None, {}  # no group can get a finite θ: skip the sample

        # phases 1-2: top blocks per term (tiny — block summaries only),
        # exact scores from the sampled payloads
        sampled = self._theta_block_sample(params or self._unit_params(terms_needed), k)
        if sampled is None:
            return None, {}
        with_ub, umax, sample = sampled
        by_term = {
            t: (g["doc_id"].to_numpy(), g["score"].to_numpy(dtype=np.float64))
            for t, g in sample.groupby("term")
        }

        def kth_doc_sum(scoring, req) -> float:
            """k-th largest sampled per-doc sum over the docs the sample
            proves match (any scoring clause, or the required term)."""
            hit = [(by_term[t][0], by_term[t][1] * w) for t, w in scoring if t in by_term]
            if not hit or (req is not None and req not in by_term):
                return -math.inf
            docs, inv = np.unique(np.concatenate([d for d, _ in hit]), return_inverse=True)
            sums = np.bincount(inv, weights=np.concatenate([v for _, v in hit]))
            if req is not None:
                sums = sums[np.isin(docs, by_term[req][0])]
            if len(sums) < k:
                return -math.inf
            return float(np.partition(sums, len(sums) - k)[len(sums) - k])

        # phases 3-4: per-group θ, then per-term thresholds (driver-side
        # arithmetic over the clause table — no data touched)
        cand: dict = {}
        blocked: set = set()
        clause_theta: dict = {}  # (qc, term) -> posting-level threshold
        thetas = []
        for qc, leaves in by_q.items():
            theta_q = kth_doc_sum(*proof.get(qc, ((), None)))
            thetas.append(theta_q)
            ubs = [w * umax.get(t, 0.0) if (o in (M, S) and w > 0) else 0.0 for t, o, w in leaves]
            total_ub = sum(ubs)
            for (t, o, w), u in zip(leaves, ubs):
                if o in (FL, MN) or w <= 0 or theta_q == -math.inf:
                    blocked.add(t)
                    continue
                thr = (theta_q - (total_ub - u)) / w
                cand[t] = min(cand.get(t, math.inf), thr)
                if thr - 1e-4 > 0.0:
                    clause_theta[(qc, t)] = thr - 1e-4
        theta_t = {
            t: thr - 1e-4 for t, thr in cand.items() if t not in blocked and thr != math.inf
        }
        prunable = any(v > 0.0 for v in theta_t.values())
        if prunable:
            theta_map = {t: theta_t.get(t, -math.inf) for t in terms_needed}

            @F.pandas_udf(T.DoubleType())
            def theta_udf(term: pd.Series) -> pd.Series:
                return term.map(theta_map).astype("float64")

            surv = F.col("ub").cast("double") >= theta_udf("term")
        else:
            # no block can be skipped (some query needs every one), but the
            # per-clause posting filter may still cut the batch's exchange
            surv = F.lit(True)
        if metrics_out is not None:
            metrics_out.update(
                theta=max(thetas),
                **self._survival_counts(with_ub, surv),
                finite_thetas=sum(1 for v in theta_t.values() if v > 0.0),
                finite_clause_thetas=len(clause_theta),
                terms=len(terms_needed),
            )
        return (with_ub.filter(surv) if prunable else None), clause_theta

    def batch_prune_metrics(self, queries: dict, k: int = 10) -> dict:
        """Observability for the batch block-max pruning: the
        :meth:`prune_metrics` report over the batch's clause table, plus
        the clause-pair cut.  ``pruning_applied=False`` when the cost gate /
        threshold analysis chose the exhaustive scan."""
        clause_rows, meta_rows, stats = self._batch_clause_table(queries)
        out, blocks, clause_theta = self._prune_report(clause_rows, meta_rows, stats, k)
        if not out["pruning_applied"]:
            return out
        # clause-pair skip: the per-clause posting θ (the exchange-volume
        # cut) measured on the actual scored stream × clause fan-out.  One
        # conjunction in the batch can zero the BLOCK skip (every block must
        # unpack) while this filter still removes most exchange rows.
        terms_needed = sorted({t for _, t, _, _ in clause_rows})
        scored = self._scored_postings(self._unit_params(terms_needed), blocks).select("term", "score")
        cl = self.spark.createDataFrame(
            [(t, clause_theta.get((qc, t))) for qc, t, _occ, _w in clause_rows],
            "term string, theta double",
        )
        pair_row = (
            scored.join(F.broadcast(cl), "term")
            .agg(
                F.count("*").alias("pairs"),
                F.sum(
                    (
                        F.col("theta").isNull()
                        | (F.col("score").cast("double") >= F.col("theta"))
                    ).cast("long")
                ).alias("surv"),
            )
            .first()
        )
        out["clause_pairs"] = int(pair_row["pairs"])
        out["surviving_clause_pairs"] = int(pair_row["surv"])
        out["clause_pair_skip_rate"] = round(
            1.0 - pair_row["surv"] / max(pair_row["pairs"], 1), 4
        )
        return out

    @staticmethod
    def _as_boolean(q: Query) -> tuple:
        """``(BooleanQuery, boost)`` view of a (BoostQuery-wrapped) term or
        boolean — a term is a one-MUST boolean; other shapes give ``(None,
        boost)``."""
        boost = 1.0
        while isinstance(q, BoostQuery):
            boost *= q.boost
            q = q.query
        if isinstance(q, TermQuery):
            q = BooleanQuery.build(must=[q])
        return (q if isinstance(q, BooleanQuery) else None), boost

    def _flat_clauses(self, q: Query) -> Optional[tuple]:
        """``(leaves, n_req, mm)`` for a term or a flat boolean of (possibly
        boosted) terms — the shape the clause-table θ analysis covers — with
        leaves ``(occur, term, boost)`` (FILTER/MUST_NOT boosts are 1) and
        ``mm`` normalized as in :meth:`_eval_boolean`; None otherwise."""
        q, boost = self._as_boolean(q)
        if q is None:
            return None
        mm = q.minimum_should_match
        if not q.by_occur("MUST") and not q.by_occur("FILTER"):
            mm = max(1, mm)
        leaves = []
        for occur in ("MUST", "SHOULD", "FILTER", "MUST_NOT"):
            for sub in q.by_occur(occur):
                ft = self._flat_term(sub, boost if occur in ("MUST", "SHOULD") else 1.0)
                if ft is None:
                    return None
                leaves.append((occur, *ft))
        return leaves, sum(1 for o, _, _ in leaves if o in ("MUST", "FILTER")), int(mm)

    def _batch_clause_table(self, queries: dict) -> tuple:
        """Normalize a batch query dict into the flat clause/meta tables the
        batch plan ships (shared by batch_search and batch_prune_metrics).
        Returns (clause_rows, meta_rows, stats) with meta_rows =
        ``(qc, [query_ids], n_req, mm)``; queries that provably match
        nothing (absent required term) are dropped here.

        Identical queries share ONE clause group: real batches repeat
        queries (the Solr queryResultCache observation), and every duplicate
        multiplies the (qc, doc) exchange volume for free — so queries with
        the same normalized clause signature are planned once and their
        query_ids fan back out on the k-row result join.  The clause weights
        factor the leaf score as ``f32(w·t)``, which holds for the BM25
        similarity family only."""
        self._require_bm25("batch_search")
        all_terms: set = set()
        for q in queries.values():
            all_terms |= q.terms()
        stats = self._term_stats(all_terms)

        clause_rows: list = []  # (qc, term, occur_code, weight)
        meta_rows: list = []  # (qc, [qids], n_req, mm)
        sig_to_qc: dict = {}
        for qid, q in queries.items():
            flat = self._flat_clauses(q)
            if flat is None:
                raise NotImplementedError(f"batch_search: {type(q).__name__} is not flat terms")
            leaves, n_req, mm = flat
            present_req = sum(1 for o, t, _ in leaves if o in ("MUST", "FILTER") and t in stats)
            if present_req < n_req or not any(
                o in ("MUST", "SHOULD", "FILTER") and t in stats for o, t, _ in leaves
            ):
                continue  # a required term is absent / nothing can match: no hits
            rows = []
            for occur, t, b in leaves:
                if t not in stats:
                    continue
                w = self._leaf_w(b, t, stats)[0] if occur in ("MUST", "SHOULD") else 0.0
                rows.append((t, _OCC_CODE[occur], float(w)))
            sig = (tuple(sorted(rows)), n_req, mm)
            if sig in sig_to_qc:
                meta_rows[sig_to_qc[sig]][1].append(str(qid))
                continue
            qc = len(meta_rows)  # dense int code; strings restored at the end
            sig_to_qc[sig] = qc
            clause_rows.extend((qc, t, occ, w) for t, occ, w in rows)
            meta_rows.append((qc, [str(qid)], n_req, mm))
        return clause_rows, meta_rows, stats

    def batch_search(self, queries: dict, k: int = 10) -> DataFrame:
        """Batched multi-query retrieval: evaluate MANY queries in ONE
        postings scan (no reference analog — at 10^12 docs this is the
        offline batch-retrieval pattern: N separate searches would read the
        index N times; here the query set ships as a broadcast clause table
        and the postings are read once).

        ``queries`` maps query_id -> Query, each a TermQuery or a flat
        boolean of (possibly boosted) TermQueries (MUST/SHOULD/FILTER/
        MUST_NOT + minimumNumberShouldMatch).  FILTER clauses are required
        matches that contribute no score, exactly like the single-query path
        (BooleanWeight: FILTER counts as a required clause, so SHOULD stays
        optional when only FILTERs are present).  Returns (query_id, rank,
        doc_id, score).

        Float chain identical to the single-query path: postings are
        unpacked once with unit weight (f32(1·t) == t), each clause applies
        its own float32 weight, clause scores accumulate in double per
        (query, doc), one float32 cast at the end — so every row is
        bit-identical to ``search(queries[qid], k)``.  Plan: one scan →
        broadcast join on term → groupBy(query, doc) → salted two-stage
        per-query top-k (stage 1 bounds every sort task at top-k per
        (query, doc_id%32), so one head query can't serialize the batch).
        Query ids travel the hot exchanges as dense ints; strings are
        restored on the k·|queries| result rows."""
        from pyspark.sql.window import Window

        clause_rows, meta_rows, stats = self._batch_clause_table(queries)
        out_schema = "query_id string, rank int, doc_id long, score float"
        if not clause_rows:
            return self.spark.createDataFrame([], out_schema)

        meta = self.spark.createDataFrame(
            [(qc, n_req, mm) for qc, _, n_req, mm in meta_rows], "qc int, n_req int, mm int"
        )
        qid_map = self.spark.createDataFrame(
            [(qc, qid) for qc, qids, _, _ in meta_rows for qid in qids],
            "qc int, query_id string",
        )
        terms_needed = sorted({t for _, t, _, _ in clause_rows})
        # unit-weight unpack: emits t = f32(tf/(tf + cache[norm])) per posting.
        # Block-max θ pruning first (the ImpactsDISI analog, batched): skip
        # blocks no query in the batch can promote into its top-k; falls back
        # to the exhaustive scan below the cost gate — bit-identical results
        # either way (pinned by the prune-identity test).
        blocks, clause_theta = self._batch_pruned_postings(clause_rows, meta_rows, stats, k)
        scored = self._scored_postings(self._unit_params(terms_needed), blocks).select("term", "doc_id", "score")
        # clause table rides the broadcast with its per-clause posting
        # threshold: a (posting, clause) pair whose unit score is below the
        # clause's θ cannot put its doc in THAT query's top-k (see
        # _batch_pruned_postings), so it is cut map-side, before the
        # exchange — this is what keeps one conjunction in the batch from
        # forcing every other query to carry a shared term's full postings
        clauses = self.spark.createDataFrame(
            [
                (qc, t, occ, w, clause_theta.get((qc, t)))
                for qc, t, occ, w in clause_rows
            ],
            "qc int, term string, occ int, w float, theta double",
        )
        joined = scored.join(F.broadcast(clauses), "term")
        if clause_theta:
            joined = joined.filter(
                F.col("theta").isNull() | (F.col("score").cast("double") >= F.col("theta"))
            )
        # narrow exchange rows: int query code + int occur (an Arrow-side
        # partition-local combiner was tried here and measured SLOWER than
        # the exchanges it saved — Python ser/de of the full match stream is
        # bandwidth-bound; the JVM shuffle of int-keyed rows is not)
        per_clause = joined.select(
            "qc",
            "doc_id",
            "occ",
            (F.col("w") * F.col("score")).cast("float").alias("cscore"),
        )
        # ONE exchange for agg + stage-1 top-k: salt is a pure function of
        # doc_id, so hash-partitioning on (qc, _salt) co-locates every
        # (qc, doc_id) group (HashPartitioning(qc,_salt) satisfies the
        # agg's ClusteredDistribution over the superset key (qc,_salt,
        # doc_id)) AND already matches the stage-1 window's partitioning —
        # the groupBy and the salted row_number run in the same stage with
        # no further exchange, where the previous plan shuffled the match
        # rows twice (hash(qc,doc_id) for the agg, then hash(qc,_salt) for
        # the window).  Skew stays bounded: a head query spreads over 32
        # salt groups either way.
        pre = per_clause.withColumn(
            "_salt", F.pmod(F.col("doc_id"), F.lit(32)).cast("int")
        ).repartition("qc", "_salt")
        agg = pre.groupBy("qc", "_salt", "doc_id").agg(
            F.sum(F.when(F.col("occ") <= _OCC_CODE["SHOULD"], F.col("cscore").cast("double"))).alias("dscore"),
            F.sum(F.when(F.col("occ").isin(_OCC_CODE["MUST"], _OCC_CODE["FILTER"]), 1).otherwise(0)).alias("nr"),
            F.sum(F.when(F.col("occ") == _OCC_CODE["SHOULD"], 1).otherwise(0)).alias("ns"),
            F.max(F.when(F.col("occ") == _OCC_CODE["MUST_NOT"], 1).otherwise(0)).alias("nn"),
        )
        # simple survivor groups pass this too: MUST ⇒ nr=1=n_req & mm<=0,
        # SHOULD ⇒ nr=0=n_req & ns=1 >= mm (bypass required mm<=1)
        cond = (
            (F.col("nr") == F.col("n_req"))
            & (F.col("nn") == 0)
            & ((F.col("mm") <= 0) | (F.col("ns") >= F.col("mm")))
        )
        # dscore is NULL for FILTER-only matches — score 0.0, like the
        # single-query path's filter-only branch
        matched = (
            agg.join(F.broadcast(meta), "qc")
            .filter(cond)
            .select(
                "qc", "_salt", "doc_id",
                F.coalesce(F.col("dscore"), F.lit(0.0)).cast("float").alias("score"),
            )
        )
        if self.index.deletes is not None:  # live-docs filter, as in search()
            matched = matched.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")

        # salted two-stage top-k: a head query can match a large fraction of
        # the corpus, and a single per-query window would sort all its
        # matches in ONE task (the straggler that caps batch scaling).
        # Stage 1 takes top-k per (query, doc_id%32) — 32 bounded parallel
        # sorts per query — stage 2 ranks the <= 32k survivors.  Output
        # identical: every global top-k row is top-k in its salt group.
        w_pre = Window.partitionBy("qc", "_salt").orderBy(F.desc("score"), F.asc("doc_id"))
        w = Window.partitionBy("qc").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            matched
            .withColumn("_pr", F.row_number().over(w_pre))
            .filter(F.col("_pr") <= k)
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .join(F.broadcast(qid_map), "qc")
            .select("query_id", "rank", "doc_id", "score")
        )

    def feature_query(
        self,
        col: str,
        function: str = "saturation",
        weight: float = 1.0,
        pivot: float = 1.0,
        scaling: float = 1.0,
        exponent: float = 1.0,
        k: int = 10,
    ) -> TopDocs:
        """FeatureField query (``reference lucene/core/src/java/org/apache/
        lucene/document/FeatureField.java`` newSaturationQuery /
        newLogQuery / newSigmoidQuery): rank documents by a static feature
        with the reference's 9-significant-bit quantization and float chain
        (functions/feature.py).  Rows with a NULL feature never match
        (FeatureField docs without the feature term).  One corpus scan +
        TakeOrderedAndProject."""
        from ..functions.feature import feature_score

        if self.corpus is None:
            raise ValueError("feature_query needs IndexSearcher(corpus=...)")
        id_col = self.index.config.id_col

        @F.pandas_udf(T.FloatType())
        def fscore(v: pd.Series) -> pd.Series:
            return pd.Series(
                feature_score(
                    v.to_numpy(dtype=np.float64),
                    function=function,
                    weight=weight,
                    pivot=pivot,
                    scaling=scaling,
                    exponent=exponent,
                )
            )

        scored = (
            self.corpus.filter(F.col(col).isNotNull())
            .select(F.col(id_col).cast("long").alias("doc_id"), fscore(F.col(col)).alias("score"))
        )
        return TopDocs(df=scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k), k=k)

    def docvalues_stats(self, query: Query, col: str) -> DataFrame:
        """DocValuesStats / DocValuesStatsCollector (``reference lucene/misc/
        src/java/org/apache/lucene/search/DocValuesStats.java:105-141``):
        count / missing / min / max / sum / mean / variance of a numeric
        doc-values column over the query's match set.  One matched-id
        semi-join into the corpus + one aggregation; mean and variance are
        emitted as integer fixed point (1e-6) so the oracle compares exactly
        (sums of <2^53 integers are order-free)."""
        if self.corpus is None:
            raise ValueError("docvalues_stats needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id").distinct()
        id_col = self.index.config.id_col
        vals = self.corpus.select(F.col(id_col).alias("doc_id"), F.col(col).alias("_v")).join(
            matched, "doc_id", "left_semi"
        )
        agg = vals.agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).cast("bigint").alias("missing"),
            F.min("_v").cast("bigint").alias("min_v"),
            F.max("_v").cast("bigint").alias("max_v"),
            F.sum("_v").cast("bigint").alias("sum_v"),
            F.sum(F.col("_v").cast("bigint") * F.col("_v").cast("bigint")).cast("bigint").alias("sum_sq"),
        )
        # mean/variance from EXACT integer sums (not Welford streaming state,
        # whose float accumulation is merge-order-dependent): every double op
        # below sees identical operands in both engines -> bit-identical
        return agg.select(
            "cnt",
            "missing",
            "min_v",
            "max_v",
            "sum_v",
            F.floor(F.col("sum_v").cast("double") / F.col("cnt") * 1e6).cast("bigint").alias("mean_x1e6"),
            F.floor(
                (
                    F.col("sum_sq").cast("double") / F.col("cnt")
                    - (F.col("sum_v").cast("double") / F.col("cnt"))
                    * (F.col("sum_v").cast("double") / F.col("cnt"))
                )
                * 1e3
            ).cast("bigint").alias("varp_x1e3"),
        )

    def diversified_topk(self, query: Query, key_col: str, max_per_key: int, k: int = 10) -> DataFrame:
        """DiversifiedTopDocsCollector (``reference lucene/misc/src/java/org/
        apache/lucene/search/DiversifiedTopDocsCollector.java:61-76``):
        global top-k with at most ``max_per_key`` hits per key.  The greedy
        score-ordered admission of the reference equals: rank within each key
        by (score desc, doc_id asc), drop ranks beyond ``max_per_key``, then
        global top-k — a window + TakeOrderedAndProject, one shuffle on the
        key."""
        from pyspark.sql.window import Window

        if self.corpus is None:
            raise ValueError("diversified_topk needs IndexSearcher(corpus=...)")
        stats = self._term_stats(query.terms())
        scored = self._evaluate(query, 1.0, stats)
        id_col = self.index.config.id_col
        keyed = scored.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(key_col).alias("_key")), "doc_id"
        )
        w = Window.partitionBy("_key").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            keyed.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= max_per_key)
            .select("doc_id", "score", F.col("_key").alias(key_col))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def infix_suggest(self, fragment: str, n: int = 10) -> DataFrame:
        """AnalyzingInfixSuggester analog (``reference lucene/suggest/src/
        java/org/apache/lucene/search/suggest/analyzing/
        AnalyzingInfixSuggester.java``): suggestions whose text CONTAINS the
        fragment anywhere, most frequent (weight) first."""
        return (
            self.index.terms.filter(F.col("term").contains(fragment))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .select("term", F.col("df").cast("long"))
        )

    def word_break(self, word: str, n: int = 5) -> DataFrame:
        """WordBreakSpellChecker.suggestWordBreaks (``reference lucene/
        suggest/src/java/org/apache/lucene/search/suggest/spell/
        WordBreakSpellChecker.java``), single-split case (maxChanges=1):
        split points where BOTH halves are dictionary terms, ranked by
        summed frequency desc then split position asc (the
        NUM_CHANGES_THEN_SUMMED_FREQUENCY sort with one change).

        One pruned scan of the terms table fetches every half's df; the
        ≤2·len(word) candidate join happens on the driver."""
        cands = [(i, word[:i], word[i:]) for i in range(1, len(word))]
        if not cands:
            return self.spark.createDataFrame(
                [], "left_term string, right_term string, freq_sum bigint"
            )
        need = {t for _, a, b in cands for t in (a, b)}
        dfs = {
            r["term"]: int(r["df"])
            for r in self.index.terms.filter(F.col("term").isin(list(need))).collect()
        }
        rows = [
            (a, b, dfs[a] + dfs[b], i)
            for i, a, b in cands
            if a in dfs and b in dfs
        ]
        rows.sort(key=lambda r: (-r[2], r[3]))
        return self.spark.createDataFrame(
            [(a, b, s) for a, b, s, _ in rows[:n]],
            "left_term string, right_term string, freq_sum bigint",
        )

    def phonetic_terms(self, word: str, n: int = 10) -> DataFrame:
        """PhoneticFilter with the Soundex encoder (``reference lucene/
        analysis/phonetic/.../PhoneticFilter.java``; PhoneticFilterFactory
        ``encoder="Soundex"``): dictionary terms sharing the query word's
        Soundex code, most frequent first.  The code column is computed by a
        vectorized pandas UDF over the terms table — at scale this is one
        narrow scan of the dictionary, never of postings."""
        from ..functions.phonetic import soundex, soundex_batch

        target = soundex(word)
        if not target:
            return self.spark.createDataFrame([], "term string, df bigint")

        @F.pandas_udf("string")
        def code_udf(t: pd.Series) -> pd.Series:
            return pd.Series(soundex_batch(t), dtype=object)

        return (
            self.index.terms.withColumn("_code", code_udf(F.col("term")))
            .filter(F.col("_code") == target)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .select("term", F.col("df").cast("long"))
        )

    def double_metaphone_terms(self, word: str, n: int = 10, max_code_len: int = 4) -> DataFrame:
        """DoubleMetaphoneFilter analog (``reference lucene/analysis/phonetic/
        .../DoubleMetaphoneFilter.java``, commons-codec DoubleMetaphone
        encoder): dictionary terms whose primary OR alternate code matches
        either code of the query word, most frequent first — one narrow
        vectorized scan of the terms table, never of postings."""
        from ..functions.metaphone import dm_batch, double_metaphone

        targets = {
            c
            for c in (
                double_metaphone(word, max_code_len),
                double_metaphone(word, max_code_len, alternate=True),
            )
            if c
        }
        if not targets:
            return self.spark.createDataFrame([], "term string, df bigint")

        @F.pandas_udf("boolean")
        def match_udf(t: pd.Series) -> pd.Series:
            from ..functions.metaphone import double_metaphone as dm

            prim = dm_batch(t, max_code_len)
            alt = [dm(x, max_code_len, alternate=True) or "" for x in t]
            return pd.Series([p in targets or a in targets for p, a in zip(prim, alt)])

        return (
            self.index.terms.filter(match_udf(F.col("term")))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(n)
            .select("term", F.col("df").cast("long"))
        )

    def term_vectors(self, doc_ids: list) -> DataFrame:
        """Term vectors for k documents (``reference lucene/core/src/java/org/
        apache/lucene/codecs/lucene50/Lucene50TermVectorsFormat.java``; Solr
        TermVectorComponent): the per-doc mini inverted index ``(term, tf)``.
        Lucene materializes these at index time; here the k winners' stored
        text is re-analyzed in one Arrow batch (identical output by analyzer
        determinism), so the index never stores a second posting orientation
        — at 100 TB the k-row post-pass beats doubling index bytes."""
        if self.corpus is None:
            raise ValueError("term_vectors needs IndexSearcher(corpus=...)")
        id_col, text_col = self.index.config.id_col, self.index.config.text_col
        analyzer = self.index.config.analyzer
        rows = self.corpus.filter(F.col(id_col).isin(list(doc_ids))).select(
            F.col(id_col).cast("long").alias("doc_id"), F.col(text_col).alias("_text")
        )

        def tv(iterator):
            for pdf in iterator:
                if not len(pdf):
                    continue
                flat, rid, _dl = analyzer.analyze_batch(pdf["_text"])
                if not flat.size:
                    continue
                out = (
                    pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy()[rid], "term": flat})
                    .groupby(["doc_id", "term"], sort=False)
                    .size()
                    .reset_index(name="tf")
                )
                yield out.astype({"doc_id": "int64", "tf": "int64"})

        return rows.mapInPandas(tv, schema="doc_id long, term string, tf long")

    def significant_terms(self, query: Query, n: int = 10, min_df: int = 5) -> DataFrame:
        """SignificantTermsStream analog (``reference solr/solrj/.../io/
        stream/SignificantTermsStream.java``): terms overrepresented in the
        match set vs the corpus, scored fg_df/bg_df."""
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats).select("doc_id")
        # candidate terms pruned by background df BEFORE unpacking any blocks
        cand = self.index.terms.filter(F.col("df") >= min_df).select("term")
        unpacked = self._matching_postings(blocks=self.index.postings.join(F.broadcast(cand), "term"))
        fg = (
            unpacked.join(matched, "doc_id", "left_semi")
            .groupBy("term")
            .agg(F.count("*").cast("bigint").alias("fg_df"))
        )
        out = (
            fg.join(self.index.terms.select("term", F.col("df").alias("bg_df")), "term")
            .filter(F.col("bg_df") >= min_df)
            .withColumn("ratio", F.col("fg_df") / F.col("bg_df"))
            .orderBy(F.desc("ratio"), F.desc("fg_df"), F.asc("term"))
            .limit(n)
        )
        return out.select("term", "fg_df", F.col("bg_df").cast("long"))

    def highlight(self, top: TopDocs, term: str, window: int = 2) -> DataFrame:
        """UnifiedHighlighter analog (``reference lucene/highlighter/...
        uhighlight/UnifiedHighlighter.java:92``): re-analyze only the winners'
        stored text (post-pass over k rows) and cut a ±`window`-token snippet
        around the first occurrence of `term`."""
        if self.corpus is None:
            raise ValueError("highlight needs IndexSearcher(corpus=...)")
        id_col, text_col = self.index.config.id_col, self.index.config.text_col
        analyzer = self.index.config.analyzer
        rows = top.df.join(
            self.corpus.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")), "doc_id"
        )

        def snip(iterator):
            for pdf in iterator:
                snippets = []
                for txt in pdf["_text"]:
                    toks = analyzer.tokens(txt)
                    try:
                        i = toks.index(term)
                        lo = max(0, i - window)
                        snippets.append(" ".join(toks[lo : i + window + 1]))
                    except ValueError:
                        snippets.append("")
                out = pdf[["doc_id", "score"]].copy()
                out["snippet"] = snippets
                yield out

        return rows.mapInPandas(snip, schema="doc_id bigint, score float, snippet string")

    def highlight_unified(self, top: TopDocs, terms: list, max_passages: int = 1,
                          k1: float = 1.2, b: float = 0.75, pivot: float = 87.0,
                          max_length: Optional[int] = None) -> DataFrame:
        """UnifiedHighlighter with reference-exact PassageScorer — see
        :mod:`lucene_solr_spark.operators.highlight`."""
        from .highlight import unified_highlight

        return unified_highlight(self, top, terms, max_passages, k1, b, pivot, max_length)

    def explain(self, query: Query, doc_id: int) -> dict:
        """``IndexSearcher.explain`` / ``Weight.explain`` analog (``reference
        lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java``,
        ``BM25Similarity.java`` explain): a nested
        ``{value, description, details}`` breakdown of the document's score
        under the BM25 similarity family.  Supported for TermQuery and
        all-term BooleanQuery / DisjunctionMaxQuery shapes.  A compound
        query's match and value come from its own evaluation restricted to
        the doc, so the breakdown can never disagree with :meth:`search`."""
        self._require_bm25("explain")
        sim = self.similarity
        doc_id = int(doc_id)

        def _leaf_expl(term: str, boost: float):
            stats = self._term_stats({term})
            if term not in stats:
                return {"value": 0.0, "description": f"no matching term '{term}'", "details": []}
            df_, _ttf = stats[term]
            params = self._leaf_w(boost, term, stats)
            row = (
                self._scored_postings({term: params})
                .filter(F.col("doc_id") == doc_id)
                .collect()
            )
            if not row:
                return {"value": 0.0, "description": f"no match on doc {doc_id} for '{term}'", "details": []}
            r = row[0]
            n_docs = self.index.doc_count
            idf_v = float(bm25.idf(df_, n_docs))
            cache = bm25.norm_cache(np.float32(params[1]), sim.k1, sim.b)
            t32 = float(np.float32(r["tf"] / (r["tf"] + np.float64(cache[r["norm"]]))))
            return {
                "value": float(r["score"]),
                "description": f"score(term='{term}' doc={doc_id}), product of:",
                "details": [
                    {
                        "value": params[0],
                        "description": "weight = boost * idf",
                        "details": [
                            {"value": float(sim.scaled_boost(boost)), "description": "boost", "details": []},
                            {
                                "value": idf_v,
                                "description": f"idf = ln(1+(N-n+0.5)/(n+0.5)), n={df_}, N={n_docs}",
                                "details": [],
                            },
                        ],
                    },
                    {
                        "value": t32,
                        "description": (
                            f"tf = freq/(freq+k1*((1-b)+b*dl/avgdl)), freq={int(r['tf'])}, "
                            f"norm_byte={int(r['norm'])}, avgdl={float(self.index.avgdl)}"
                        ),
                        "details": [],
                    },
                ],
            }

        if isinstance(query, BoostQuery) and isinstance(query.query, TermQuery):
            return _leaf_expl(query.query.term, float(query.boost * query.query.boost))
        if isinstance(query, TermQuery):
            return _leaf_expl(query.term, float(query.boost))
        if isinstance(query, BooleanQuery):
            details, reasons = [], []
            for c in query.clauses:
                ft = self._flat_term(c.query, 1.0)
                if ft is None:
                    raise NotImplementedError("explain supports all-term booleans")
                e = _leaf_expl(*ft)
                if c.occur in ("MUST", "FILTER") and not e["details"]:
                    reasons.append(f"no match on required clause [{c.occur}] '{ft[0]}'")
                elif c.occur == "MUST_NOT" and e["details"]:
                    reasons.append(f"match on prohibited clause [MUST_NOT] '{ft[0]}'")
                elif c.occur in ("MUST", "SHOULD") and e["details"]:
                    details.append({**e, "description": f"[{c.occur}] " + e["description"]})
            description = f"sum of clause scores for doc {doc_id}:"
            miss = "; ".join(reasons) or "too few optional clauses match (minimum_should_match)"
        elif isinstance(query, DisjunctionMaxQuery):
            details = [e for e in (self.explain(d, doc_id) for d in query.disjuncts) if e["details"]]
            description = f"max plus {query.tie_breaker} times others of:"
            miss = "no disjunct matches"
        else:
            raise NotImplementedError(type(query).__name__)
        # match and value are the search's own (BooleanWeight rules and all);
        # the leaves above only itemize it
        hit = (
            self._evaluate(query, 1.0, self._term_stats(query.terms()))
            .filter(F.col("doc_id") == doc_id)
            .collect()
        )
        if not hit:
            return {"value": 0.0, "description": f"doc {doc_id} does not match: {miss}", "details": details}
        return {"value": float(hit[0]["score"]), "description": description, "details": details}

    def explain_rows(self, query: Query, doc_ids: list[int]) -> DataFrame:
        """Vectorized :meth:`explain` for a doc SET: flattens the per-clause
        Explanation leaves of a TermQuery / all-term BooleanQuery into rows
        ``(doc_id, term, tf, df, weight_q, score_q)`` — ONE scored-postings
        pass filtered to the k explain targets instead of a driver
        round-trip per document (the batch shape Solr's ``debug=results``
        response takes for a whole page of hits).  ``weight_q``/``score_q``
        are ``floor(float32_value · 2^20)`` — the repo's
        quantize-before-compare contract, so a DuckDB oracle can replay the
        BM25 decomposition bit-for-bit."""
        self._require_bm25("explain_rows")
        leaves: list[tuple[str, float]] = []

        def _collect(qr, b: float):
            while isinstance(qr, BoostQuery):
                b *= qr.boost
                qr = qr.query
            if isinstance(qr, TermQuery):
                leaves.append((qr.term, float(b * qr.boost)))
            elif isinstance(qr, BooleanQuery):
                for c in qr.clauses:
                    if c.occur in ("SHOULD", "MUST"):
                        _collect(c.query, b)
            else:
                raise NotImplementedError("explain_rows supports all-term booleans")

        _collect(query, 1.0)
        if len({t for t, _ in leaves}) != len(leaves):
            # a duplicate-term clause would silently collapse in the weights
            # dict below; the per-doc explain() path handles that shape
            raise NotImplementedError("explain_rows needs distinct clause terms")
        stats = self._term_stats({t for t, _ in leaves})
        weights = {t: self._leaf_w(b, t, stats) for t, b in leaves if t in stats}
        meta = self.spark.createDataFrame(
            [(t, int(stats[t][0]), p[0]) for t, p in weights.items()],
            "term string, df long, weight float",
        )
        q20 = lambda c: F.floor(c.cast("double") * F.lit(1 << 20)).cast("long")  # noqa: E731
        return (
            self._scored_postings(weights)
            .filter(F.col("doc_id").isin([int(d) for d in doc_ids]))
            .join(F.broadcast(meta), "term")
            .select(
                F.col("doc_id").cast("long"),
                "term",
                F.col("tf").cast("long"),
                "df",
                q20(F.col("weight")).alias("weight_q"),
                q20(F.col("score")).alias("score_q"),
            )
        )

    def count(self, query: Query) -> int:
        """TotalHitCountCollector analog (live docs only).

        Fast path: with no deletes, a TermQuery's hit count IS its docFreq —
        one cached stats lookup, no postings scan at all (the same shortcut
        as Lucene's ``Weight#count`` / TermWeight returning docFreq on
        delete-free segments)."""
        if self.index.deletes is None and isinstance(query, TermQuery):
            st = self._term_stats({query.term}).get(query.term)
            return int(st[0]) if st else 0
        stats = self._term_stats(query.terms())
        matched = self._evaluate(query, 1.0, stats)
        if self.index.deletes is not None:
            matched = matched.join(self.index.deletes.select("doc_id"), "doc_id", "left_anti")
        return matched.count()

    def fetch(self, top: TopDocs, columns: Optional[list] = None) -> DataFrame:
        """Two-phase stored-field fetch: broadcast the k winners back to the
        corpus (QueryComponent PURPOSE_GET_FIELDS analog)."""
        if self.corpus is None:
            raise ValueError("fetch needs IndexSearcher(corpus=...)")
        id_col = self.index.config.id_col
        sel = self.corpus if columns is None else self.corpus.select(id_col, *columns)
        winners = top.df.select(F.col("doc_id").alias("__hit_id"), "score")
        joined = sel.join(F.broadcast(winners), F.col(id_col) == F.col("__hit_id")).drop("__hit_id")
        return joined.orderBy(F.desc("score"), F.asc(id_col))
