"""Index-backed text classification — ``lucene/classification`` analog.

- :class:`SimpleNaiveBayesClassifier` — add-one-smoothed naive Bayes whose
  sufficient statistics come straight out of the inverted-index build
  (reference ``lucene/classification/src/java/org/apache/lucene/
  classification/SimpleNaiveBayesClassifier.java:147,203-270``):

      score(d, c) = [ln df(c) - ln N_labeled]                    (log prior)
                  + Σ_w tf_w(d) · ln( (hits(w,c) + 1) / den(c) ) (likelihood)
      den(c)     = avgUniqueTermsPerDoc · df(c) + N_labeled
      hits(w,c)  = #docs of class c containing w   (doc freq, not term freq)

- :class:`KNearestNeighborClassifier` — MLT top-k neighbour vote (reference
  ``KNearestNeighborClassifier.java:130-236``): per class,
  score = Σ(hit_score / max_score) / k, scaled by k/sumdoc when fewer than
  k hits return.

Scale design.  Training is two distributed aggregations over the tokenized
corpus: per-class doc counts (|classes| rows) and per-(term, class) doc
frequencies (bounded by the postings count — same magnitude as the index's
terms table).  Scoring avoids the |doc_terms| × |classes| cross-product by
splitting the likelihood into a dense part that only needs the document
length (every word contributes -tf·ln den(c) when hits = 0) and a sparse
part from an inner join with the (term, class) table — so the only shuffle
is on term, and the tiny per-class constants broadcast.

Determinism.  Floating sums over shuffled rows are order-dependent, so the
exact contract path quantizes each word's float32 log-contribution to a
2^-20 fixed-point BIGINT and sums integers (order-free, bitwise-reproducible
on any cluster and in the DuckDB oracle).  ``score`` keeps the reference's
double-precision formulation for parity tests.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

Q_BITS = 20
Q_SCALE = 1 << Q_BITS


def _q(col):
    """floor(float32(x) · 2^20) as BIGINT — exact: a float32 times 2^20 is
    exactly representable in float64, so floor is unambiguous."""
    return F.floor(col.cast("float").cast("double") * F.lit(float(Q_SCALE))).cast("bigint")


def _doc_terms(corpus: DataFrame, config) -> DataFrame:
    """(doc_id, term, tf) via the index's own vectorized analyzer."""
    import pandas as pd

    analyzer = config.analyzer
    id_col, text_col = config.id_col, config.text_col

    def explode(iterator):
        for pdf in iterator:
            rows = {"doc_id": [], "term": [], "tf": []}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                counts: dict = {}
                for t in analyzer.tokens(text):
                    counts[t] = counts.get(t, 0) + 1
                rows["doc_id"].extend([did] * len(counts))
                rows["term"].extend(counts.keys())
                rows["tf"].extend(counts.values())
            yield pd.DataFrame(rows)

    return corpus.select(id_col, text_col).mapInPandas(
        explode, "doc_id long, term string, tf long"
    )


class SimpleNaiveBayesClassifier:
    def __init__(self, index, corpus: DataFrame, class_col: str):
        self.index = index
        self.corpus = corpus
        self.class_col = class_col
        cfg = index.config
        id_col = cfg.id_col
        labeled = corpus.filter(F.col(class_col).isNotNull())
        # per-class doc counts (docCount(term) / countDocsWithClass,
        # SimpleNaiveBayesClassifier.java:160-178,266-270)
        self.class_stats = labeled.groupBy(F.col(class_col).alias("cls")).agg(
            F.count("*").cast("bigint").alias("df_c")
        )
        self.doc_terms = _doc_terms(corpus, cfg)
        # hits(w, c): docs of class c containing w (:250-264) — one shuffle
        # keyed (term, cls); magnitude == the index's term/doc pair count
        self.word_class = (
            self.doc_terms.join(
                labeled.select(F.col(id_col).alias("doc_id"), F.col(class_col).alias("cls")),
                "doc_id",
            )
            .groupBy("term", "cls")
            .agg(F.count("*").cast("bigint").alias("hits"))
        )

    def _consts(self):
        """Per-class scalars: prior, den(c) — computed once, broadcast."""
        terms = self.index.terms
        # avg # unique terms per doc = sumDocFreq / docCount (:231-241)
        agg = terms.agg(F.sum("df").alias("sdf")).collect()[0]
        avg_unique = float(agg["sdf"]) / float(self.index.doc_count)
        cls = self.class_stats
        n_labeled = cls.agg(F.sum("df_c")).collect()[0][0]
        return (
            cls.withColumn("den", F.lit(avg_unique) * F.col("df_c") + F.lit(float(n_labeled)))
            .withColumn("prior", F.log(F.col("df_c").cast("double")) - F.log(F.lit(float(n_labeled))))
        )

    def scores(self, docs: Optional[DataFrame] = None, quantized: bool = True) -> DataFrame:
        """(doc_id, cls, score) for every candidate class of each doc.

        quantized=True → score is the order-free fixed-point BIGINT contract
        path; False → the reference's float64 formulation.
        """
        consts = self._consts()
        id_col = self.index.config.id_col
        dt = self.doc_terms
        if docs is not None:
            dt = dt.join(docs.select(F.col(id_col).alias("doc_id")), "doc_id")
        doc_len = dt.groupBy("doc_id").agg(F.sum("tf").alias("dlen"))

        if quantized:
            zero_c = _q(F.log(F.lit(1.0) / F.col("den")))  # per-word hits=0 term
            consts_q = consts.select(
                "cls", "den", _q(F.col("prior")).alias("prior_q"), zero_c.alias("zero_q")
            )
            # dense part: prior + dlen·zero_q  (every word at its hits=0 value)
            dense = doc_len.crossJoin(F.broadcast(consts_q)).select(
                "doc_id", "cls", "den", "zero_q",
                (F.col("prior_q") + F.col("dlen") * F.col("zero_q")).alias("base_q"),
            )
            # sparse correction where hits > 0: tf · (q(ln((hits+1)/den)) - zero_q)
            sparse = (
                dt.join(self.word_class, "term")
                .join(F.broadcast(consts_q.select("cls", "den", "zero_q")), "cls")
                .select(
                    "doc_id", "cls",
                    (
                        F.col("tf")
                        * (_q(F.log((F.col("hits") + 1).cast("double") / F.col("den"))) - F.col("zero_q"))
                    ).alias("corr_q"),
                )
                .groupBy("doc_id", "cls")
                .agg(F.sum("corr_q").alias("corr_q"))
            )
            return (
                dense.join(sparse, ["doc_id", "cls"], "left")
                .select(
                    "doc_id", "cls",
                    (F.col("base_q") + F.coalesce(F.col("corr_q"), F.lit(0))).cast("bigint").alias("score"),
                )
            )

        consts_d = consts.select("cls", "den", "prior")
        dense = doc_len.crossJoin(F.broadcast(consts_d)).select(
            "doc_id", "cls", "den",
            (F.col("prior") - F.col("dlen") * F.log("den")).alias("base"),
        )
        sparse = (
            dt.join(self.word_class, "term")
            .join(F.broadcast(consts_d.select("cls")), "cls", "left_semi")
            .groupBy("doc_id", "cls")
            .agg(F.sum(F.col("tf") * F.log((F.col("hits") + 1).cast("double"))).alias("corr"))
        )
        return (
            dense.join(sparse, ["doc_id", "cls"], "left")
            .select("doc_id", "cls", (F.col("base") + F.coalesce(F.col("corr"), F.lit(0.0))).alias("score"))
        )

    def classify(self, docs: Optional[DataFrame] = None, quantized: bool = True) -> DataFrame:
        """(doc_id, cls, score): the argmax class per doc (ties → cls asc)."""
        s = self.scores(docs, quantized=quantized)
        from pyspark.sql.window import Window

        w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cls"))
        return (
            s.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "cls", "score")
        )


class KNearestNeighborClassifier:
    """MLT-neighbour vote (``KNearestNeighborClassifier.java:130-236``)."""

    def __init__(self, searcher, class_col: str, k: int = 10, max_query_terms: int = 5):
        self.searcher = searcher
        self.class_col = class_col
        self.k = k
        self.max_query_terms = max_query_terms

    def classify_doc(self, doc_id: int):
        """Assign a class to an indexed doc via its MLT query; returns
        (cls, score) or None when the doc has no neighbours."""
        s = self.searcher
        mlt = s.more_like_this(doc_id, self.max_query_terms)
        top = s.search(mlt, self.k, exclude_doc_ids=[doc_id])
        id_col = s.index.config.id_col
        hits = (
            top.df.join(
                s.corpus.select(F.col(id_col).alias("doc_id"), F.col(self.class_col).alias("cls")),
                "doc_id",
            )
            .select("cls", "score")
            .collect()
        )
        if not hits:
            return None
        max_score = max(h["score"] for h in hits)
        sumdoc = len(hits)
        agg: dict = {}
        for h in hits:
            agg[h["cls"]] = agg.get(h["cls"], 0.0) + h["score"] / max_score
        scores = {c: v / self.k for c, v in agg.items()}
        if sumdoc < self.k:  # correction (:228-233)
            scores = {c: v * self.k / sumdoc for c, v in scores.items()}
        best = max(scores.items(), key=lambda kv: (kv[1], kv[0]))
        return best

    def classify_doc_quantized(self, doc_id: int):
        """Contract path of :meth:`classify_doc`: each hit's normalized score
        ``score / max_score`` quantizes to a 2^-20 fixed-point BIGINT before
        the per-class sum, so the vote is order-free and replays bit-exactly
        in SQL.  The reference's ``/k`` and ``k/sumdoc`` corrections
        (:228-233) rescale every class equally and cannot change the argmax,
        so the integer vote skips them; ties keep :meth:`classify_doc`'s
        higher-class preference.  Returns (cls, vote) or None."""
        s = self.searcher
        mlt = s.more_like_this(doc_id, self.max_query_terms)
        top = s.search(mlt, self.k, exclude_doc_ids=[doc_id])
        id_col = s.index.config.id_col
        hits = (
            top.df.join(
                s.corpus.select(F.col(id_col).alias("doc_id"), F.col(self.class_col).alias("cls")),
                "doc_id",
            )
            .select("cls", "score")
            .collect()
        )
        if not hits:
            return None
        import math

        max_score = max(float(h["score"]) for h in hits)
        agg: dict = {}
        for h in hits:
            if h["cls"] is None:
                continue  # ref skips hits without a class field (storableField != null)
            q = math.floor(float(h["score"]) / max_score * Q_SCALE)
            agg[h["cls"]] = agg.get(h["cls"], 0) + q
        if not agg:
            return None
        return max(agg.items(), key=lambda kv: (kv[1], kv[0]))

    def classify_docs_quantized(self, doc_ids) -> dict:
        """Batched :meth:`classify_doc_quantized` for many targets: ONE
        corpus fetch for all target texts, ONE postings scan for every MLT
        query via ``IndexSearcher.batch_search`` (bit-identical per-query
        scores to the single path), ONE class join + collect.  Each target's
        own doc is excluded by over-fetching k+1 and dropping it — the
        surviving set is exactly the single path's top-k.  Returns
        {doc_id: (cls, vote) | None}."""
        import math

        s = self.searcher
        targets = [int(d) for d in doc_ids]
        id_col, text_col = s.index.config.id_col, s.index.config.text_col
        texts = {
            int(r["doc_id"]): r[text_col]
            for r in s.corpus.filter(F.col(id_col).isin(targets))
            .select(F.col(id_col).alias("doc_id"), text_col)
            .collect()
        }
        from ..plans.query import MatchNoDocsQuery

        queries = {}
        for t in targets:
            if t not in texts:
                continue
            q = s.more_like_this_from_text(texts[t], self.max_query_terms)
            if isinstance(q, MatchNoDocsQuery):
                continue  # empty text: the single path returns None too
            queries[t] = q
        if not queries:
            return {t: None for t in targets}
        ranked = s.batch_search(queries, self.k + 1)  # deletes filtered inside
        hits = (
            ranked.join(
                s.corpus.select(F.col(id_col).alias("doc_id"), F.col(self.class_col).alias("cls")),
                "doc_id",
            )
            .select("query_id", "rank", "doc_id", "cls", "score")
            .collect()
        )
        by_target: dict = {t: [] for t in targets}
        for h in sorted(hits, key=lambda h: (str(h["query_id"]), h["rank"])):
            t = int(h["query_id"])  # batch_search keys query_id as string
            if int(h["doc_id"]) == t:
                continue  # self-match: the single path's exclude_doc_ids
            if len(by_target[t]) < self.k:
                by_target[t].append(h)
        out: dict = {}
        for t in targets:
            rows = by_target.get(t) or []
            if not rows:
                out[t] = None
                continue
            max_score = max(float(h["score"]) for h in rows)
            agg: dict = {}
            for h in rows:
                if h["cls"] is None:
                    continue  # ref skips hits without a class field
                q = math.floor(float(h["score"]) / max_score * Q_SCALE)
                agg[h["cls"]] = agg.get(h["cls"], 0) + q
            out[t] = max(agg.items(), key=lambda kv: (kv[1], kv[0])) if agg else None
        return out


class BM25NBClassifier:
    """Naive Bayes over BM25 search scores — ``reference lucene/
    classification/src/java/org/apache/lucene/classification/
    BM25NBClassifier.java``.

    The reference's per-(class, word) "probability" is the TOP-1 score of
    ``MUST(TermQuery(class_field:c)) SHOULD(TermQuery(text:w))`` (:177-196):
    with BM25 the class-field leaf is a per-class constant (every class
    field holds one token, so dl = 1, avgdl = 1, tf = 1) and the float sum
    is monotone in the word leaf, so

        termProb(c, w) = f32(cl_c + max_{doc ∈ c} f32(idf(df_w) · t32(doc)))

    with ``cl_c = f32(idf(df_c) · f32(1/(1 + double(cache[1]))))`` and the
    max taken over the engine's own exact float32 leaf scores (absent word →
    the class-only score, i.e. max term 0).  The log prior is ``ln(cl_c)``
    (:198-210), the per-class total ``prior + Σ_occurrences ln(termProb)``.
    The contract path quantizes each log to the engine's 2^-20 fixed point
    before the tf-weighted integer sum, so results replay bit-exactly.

    Scale shape: ONE postings scan scores every target-doc word with
    ``_scored_postings`` (the exact single-query scorer), one id join to the
    class label, one (class, word) max aggregate — corpus never shuffles.
    The final |C|·|target words| grid is driver-side, like the reference's
    per-class loop.
    """

    def __init__(self, searcher, class_col: str):
        self.searcher = searcher
        self.class_col = class_col

    def classify(self, target_ids) -> list:
        """[(target_id, cls, score_q)] — argmax class per target (ties →
        cls asc) with the quantized posterior."""
        import math

        import numpy as np

        from ..functions import bm25 as _bm25
        from ..functions.smallfloat import int_to_byte4

        s = self.searcher
        id_col = s.index.config.id_col
        targets = [int(t) for t in target_ids]
        # target docs' term/tf rows (k docs — driver-scale, like the
        # reference's tokenize() of the input text); present ids fetched so
        # a term-less doc still gets the reference's prior-only row
        target_rows = s.corpus.filter(F.col(id_col).isin(targets)).persist()
        present = {
            int(r["doc_id"])
            for r in target_rows.select(F.col(id_col).alias("doc_id")).collect()
        }
        dt = _doc_terms(target_rows, s.index.config)
        target_tf = [(int(r["doc_id"]), r["term"], int(r["tf"])) for r in dt.collect()]
        words = sorted({w for _, w, _ in target_tf})
        # class stats + the constant class-field leaf (dl = avgdl = tf = 1)
        cls_rows = (
            s.corpus.filter(F.col(self.class_col).isNotNull())
            .groupBy(F.col(self.class_col).alias("cls"))
            .agg(F.count("*").alias("df_c"))
            .collect()
        )
        cache1 = _bm25.norm_cache(np.float32(1.0))[int_to_byte4(1) & 0xFF]
        t1 = np.float32(np.float64(1.0) / (1.0 + np.float64(cache1)))
        cl = {
            r["cls"]: float(np.float32(_bm25.idf(int(r["df_c"]), s.index.doc_count) * t1))
            for r in cls_rows
        }
        # ONE scan: exact f32 word leaves, max per (class, word)
        stats = s._term_stats(set(words))
        weights = {w: s._leaf_w(1.0, w, stats) for w in words if w in stats}
        wmax: dict = {}
        if weights:
            rows = (
                s._scored_postings(weights)
                .join(
                    s.corpus.select(
                        F.col(id_col).alias("doc_id"), F.col(self.class_col).alias("cls")
                    ),
                    "doc_id",
                )
                .groupBy("cls", "term")
                .agg(F.max("score").alias("mx"))
                .collect()
            )
            wmax = {(r["cls"], r["term"]): float(r["mx"]) for r in rows}

        def q20(x: float) -> int:
            return math.floor(float(np.float32(x)) * float(Q_SCALE))

        out = []
        for t in targets:
            if t not in present or not cl:
                continue  # absent target / unlabeled corpus: no row
            # a term-less target falls through with prior-only scores, like
            # the reference's empty token stream (assignClassNormalizedList)
            best = None
            for c in sorted(cl):
                score = q20(math.log(cl[c]))  # prior
                for tid, w, tf in target_tf:
                    if tid != t:
                        continue
                    tp = float(np.float32(cl[c] + wmax.get((c, w), 0.0)))
                    score += tf * q20(math.log(tp))
                if best is None or score > best[1]:
                    best = (c, score)
            out.append((t, best[0], best[1]))
        return out


# NearestFuzzyQuery constants (``reference lucene/classification/src/java/
# org/apache/lucene/classification/utils/NearestFuzzyQuery.java:36-39``)
_NF_MAX_VARIANTS = 50
_NF_MAX_TERMS = 300
_NF_PREFIX = 2
_NF_MAX_EDITS = 1


def nearest_fuzzy_leaves(
    searcher,
    text: str,
    max_edits: int = _NF_MAX_EDITS,
    prefix_length: int = _NF_PREFIX,
    max_num_terms: int = _NF_MAX_TERMS,
    df_one_weight: bool = True,
) -> list:
    """NearestFuzzyQuery.rewrite (``reference .../classification/utils/
    NearestFuzzyQuery.java:120-210``): analyze ``text``; per distinct token,
    fuzzy-expand against the term dictionary (maxEdits=1 beyond an exact
    2-codepoint prefix), keep the top-50 variants per token by FuzzyTermsEnum
    boost ``1 − ed/min(|t|,|q|)`` (f32, exact match → 1.0); score each kept
    variant ``f32(f32(boost²) · classic_idf(df_src))`` where ``df_src`` is
    the source token's df, or the integer mean of the variants' dfs when the
    source is unindexed (:185-193); keep the global top-300 by score.  Each
    leaf is a BoostQuery(TermQuery(variant)) whose term states force
    ``df = ttf = 1`` (:159-172 newTermQuery), so each leaf's BM25 weight is
    ``f32(score · idf(df=1))``.  Accepted deviation: the reference nests
    multi-variant sources in per-source BooleanQueries (:205-209), whose
    inner float32-rounded sums can differ by ulps from this engine's single
    per-doc double-sum when one source contributes several matching variants
    to the same doc; idf uses the live-doc count (numDocs), matching the
    reference, so the paths agree exactly on delete-free indexes with
    single-variant matches — the contract corpus's case.

    Returns [(source_token, variant_term, leaf_weight_f32)] — one row per
    SHOULD clause (the same variant reached from two sources stays two
    clauses, as in the reference).  Dictionary access is ONE pruned scan
    collecting only terms sharing some token's 2-prefix — the vocab-scale
    driver work every MultiTermQuery in this engine already does.
    """
    from ..functions import bm25 as _bm25
    from ..functions.editdist import levenshtein

    analyzer = searcher.index.config.analyzer
    tokens, seen = [], set()
    for t in analyzer.tokens(text):
        if t not in seen:
            seen.add(t)
            tokens.append(t)
    if not tokens:
        return []
    prefix_length, max_edits = int(prefix_length), int(max_edits)
    # per-token effective prefix min(prefix_length, |token|), as in
    # FuzzyTermsEnum.java:129 realPrefixLength — a token shorter than the
    # configured prefix still reaches longer terms sharing its full text
    by_len: dict = {}
    for t in tokens:
        pre = t[: min(prefix_length, len(t))]
        by_len.setdefault(len(pre), set()).add(pre)
    cond = None
    for plen, pres in sorted(by_len.items()):
        c = F.substring("term", 1, plen).isin(sorted(pres))
        cond = c if cond is None else (cond | c)
    rows = (
        searcher.index.terms.filter(cond)
        .select("term", "df")
        .collect()
    )
    # live-doc count, as NearestFuzzyQuery.java:150 reader.numDocs()
    n_docs = searcher.index.doc_count
    if searcher.index.deletes is not None:
        n_docs -= int(searcher.index.deletes.count())
    import numpy as np

    global_cands = []
    for src in tokens:
        pre = src[: min(prefix_length, len(src))]
        suffix = src[len(pre):]
        variants, df_src, total_df, n_var = [], 0, 0, 0
        for r in rows:
            term = r["term"]
            if not term.startswith(pre):
                continue
            ed = levenshtein(term[len(pre):], suffix)
            if ed > max_edits:
                continue
            n_var += 1
            total_df += int(r["df"])
            if term == src:
                df_src = int(r["df"])
                boost = np.float32(1.0)
            else:
                boost = np.float32(1.0) - np.float32(ed) / np.float32(
                    min(len(term), len(src))
                )
            variants.append((float(boost), term))
        if not n_var:
            continue
        df_used = df_src if df_src > 0 else total_df // n_var
        idf_src = np.float32(np.log((n_docs + 1) / (df_used + 1.0)) + 1.0)
        variants.sort(key=lambda x: (-x[0], x[1]))
        for boost, term in variants[:_NF_MAX_VARIANTS]:
            b32 = np.float32(boost)
            st = float(np.float32(np.float32(b32 * b32) * idf_src))
            global_cands.append((st, term, src))
    global_cands.sort(key=lambda x: (-x[0], x[1]))
    if not df_one_weight:
        # ignoreTF path (FuzzyLikeThisQuery): the clause boost IS the score
        return [(src, term, st) for st, term, src in global_cands[:max_num_terms]]
    idf1 = _bm25.idf(1, n_docs)  # newTermQuery's forced df=ttf=1 stats
    return [
        (src, term, float(np.float32(np.float32(st) * idf1)))
        for st, term, src in global_cands[:max_num_terms]
    ]


def _leaf_slots(leaves) -> list:
    """Pack (src, term, w) leaves into weight dicts with unique terms per
    slot, so duplicate variant terms stay separate SHOULD clauses."""
    slots: list = []
    for _, term, w in leaves:
        for slot in slots:
            if term not in slot:
                slot[term] = w
                break
        else:
            slots.append({term: w})
    return slots


def _sum_leaf_scores(searcher, scored, k: int):
    """Double-sum per doc (DisjunctionSumScorer), live-docs filter, top-k."""
    agg = (
        scored.groupBy("doc_id")
        .agg(F.sum(F.col("score").cast("double")).cast("float").alias("score"))
    )
    if searcher.index.deletes is not None:  # live-docs filter, as in search()
        agg = agg.join(searcher.index.deletes.select("doc_id"), "doc_id", "left_anti")
    return agg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def nearest_fuzzy_search(searcher, text: str, k: int = 10):
    """Evaluate the rewritten NearestFuzzyQuery: each leaf scores its
    variant's postings with the df=1 BM25 weight, leaves double-sum per doc
    (DisjunctionSumScorer), top-k by (score desc, doc_id asc).  Leaves
    sharing a variant term run as separate clauses (slot-unioned scans)."""
    leaves = nearest_fuzzy_leaves(searcher, text)
    if not leaves:
        return searcher._empty().orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    scored = None
    for slot in _leaf_slots(leaves):
        part = searcher._scored_postings(searcher._weight_params(slot)).select("doc_id", "score")
        scored = part if scored is None else scored.unionByName(part)
    return _sum_leaf_scores(searcher, scored, k)


def fuzzy_like_this_search(
    searcher,
    text: str,
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 2,
    max_num_terms: int = 300,
    ignore_tf: bool = False,
):
    """FuzzyLikeThisQuery — ``reference lucene/sandbox/src/java/org/apache/
    lucene/sandbox/queries/FuzzyLikeThisQuery.java`` (NearestFuzzyQuery's
    ancestor, with per-call fuzzy parameters and the ``ignoreTF`` option).

    Variant selection and scoring are NearestFuzzyQuery's (:195-205 — the
    shared ``st = f32(boost² · classic_idf(df_src))``).  With ``ignore_tf``
    each rewritten clause is ``ConstantScoreQuery(TermQuery)`` boosted by
    ``st`` (:214-217), so a doc scores the float sum of its matched leaves'
    ``st`` regardless of tf/norm; otherwise the df=1 BM25 leaves apply, as
    in :func:`nearest_fuzzy_search`."""
    leaves = nearest_fuzzy_leaves(
        searcher, text, max_edits, prefix_length, max_num_terms,
        df_one_weight=not ignore_tf,
    )
    if not leaves:
        return searcher._empty().orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    spark = searcher.index.postings.sparkSession
    scored = None
    for slot in _leaf_slots(leaves):
        if ignore_tf:
            base = searcher._matching_postings(slot).select("doc_id", "term")
            wdf = spark.createDataFrame(
                [(t, float(w)) for t, w in slot.items()], "term string, _w float"
            )
            part = base.join(F.broadcast(wdf), "term").select(
                "doc_id", F.col("_w").alias("score")
            )
        else:
            part = searcher._scored_postings(searcher._weight_params(slot)).select("doc_id", "score")
        scored = part if scored is None else scored.unionByName(part)
    return _sum_leaf_scores(searcher, scored, k)


class KNearestFuzzyClassifier:
    """kNN vote over NearestFuzzyQuery hits — ``reference
    KNearestFuzzyClassifier.java:108-174``.  The per-class score
    ``count · (Σ(score/max)/count) / k`` collapses to the same normalized
    vote as :class:`KNearestNeighborClassifier`; the quantized path uses the
    engine's 2^-20 fixed-point contract so the argmax replays in SQL."""

    def __init__(self, searcher, class_col: str, k: int = 10):
        self.searcher = searcher
        self.class_col = class_col
        self.k = k

    def classify_text_quantized(self, text: str):
        """(cls, vote) for an unseen text, or None without neighbours."""
        import math

        s = self.searcher
        top = nearest_fuzzy_search(s, text, self.k)
        id_col = s.index.config.id_col
        hits = (
            top.join(
                s.corpus.select(F.col(id_col).alias("doc_id"), F.col(self.class_col).alias("cls")),
                "doc_id",
            )
            .select("cls", "score")
            .collect()
        )
        if not hits:
            return None
        max_score = max(float(h["score"]) for h in hits)
        agg: dict = {}
        for h in hits:
            if h["cls"] is None:
                continue  # ref skips hits without a class field (storableField != null)
            q = math.floor(float(h["score"]) / max_score * Q_SCALE)
            agg[h["cls"]] = agg.get(h["cls"], 0) + q
        if not agg:
            return None
        return max(agg.items(), key=lambda kv: (kv[1], kv[0]))


class BooleanPerceptronClassifier:
    """Binary perceptron over term occurrences with all-integer weights —
    ``reference lucene/classification/src/java/org/apache/lucene/
    classification/BooleanPerceptronClassifier.java``.

    Reference semantics, mirrored exactly on the single-shard path:

    - initial weights ``w[t] = totalTermFreq(t)`` (:118-124);
    - ``bias = sumTotalTermFreq / docCount`` (:100-107);
    - training docs visited in doc order; ``assigned = (Σ_occurrences
      w[token] >= bias)`` scored against the FST *snapshot*, which refreshes
      only on a misclassified doc whose ordinal hits the batch boundary
      (``batchCount % batchSize == 0``, :135-160) — weight updates land in
      the live map immediately but scoring lags until the next refresh;
    - on misclassification every distinct doc term is OVERWRITTEN with
      ``w[t] = max(0, fst[t] + modifier · tf(t, doc))`` where ``fst[t]`` is
      the *stale snapshot* value and ``modifier = correct.compareTo(assigned)``
      (:174-180 ``weights.put(term, max(0, previousValue + modifier*tf))``) —
      so within a batch window, later updates to the same term replace
      earlier ones (both derive from the same snapshot) and weights clamp
      at zero.  With ``batch_size=1`` the snapshot refreshes after every
      misclassified doc, making overwrite equivalent to accumulation except
      for the zero clamp, which applies at every batch size.

    All arithmetic is integer (the reference stores longs in the FST), so
    the loop replays bit-exactly — pinned by a brute-force pytest.

    Distribution: the loop is inherently sequential (the reference trains
    single-threaded over its index), so with ``n_partitions > 1`` each
    doc-range partition trains a reference-exact perceptron on its slice and
    the models merge by integer-floor parameter *mixing* (McDonald et al.
    2010, "Distributed Training Strategies for the Structured Perceptron"):
    per-term deltas are floor-averaged over all partitions, the shared
    totalTermFreq init staying exact.  ``n_partitions=1`` is bit-identical
    to the reference.  Per-partition state is one dict over the partition's
    vocabulary — the same heap the reference spends on its FST.
    """

    def __init__(self, index, corpus: DataFrame, label_col: str, batch_size: int = 1):
        self.index = index
        self.corpus = corpus
        self.label_col = label_col
        self.batch_size = int(batch_size)
        self.bias = float(index.sum_ttf) / float(index.doc_count)
        self._weights = None

    def train(self, n_partitions: int = 1) -> DataFrame:
        """Returns the trained (term, weight) table; cached for classify()."""
        import pandas as pd

        id_col = self.index.config.id_col
        dt = _doc_terms(self.corpus, self.index.config)
        labeled = self.corpus.select(
            F.col(id_col).alias("doc_id"), F.col(self.label_col).cast("boolean").alias("_lbl")
        ).filter(F.col("_lbl").isNotNull())
        # LEFT join from the labeled docs: a doc whose text analyzes to zero
        # terms still reaches the sequential loop (its batch ordinal counts
        # toward the FST refresh timing, as in the reference's batchCount++)
        rows = (
            labeled.join(dt, "doc_id", "left")
            .join(self.index.terms.select("term", F.col("ttf").alias("_w0")), "term", "left")
            .repartitionByRange(int(n_partitions), "doc_id")
            .sortWithinPartitions("doc_id", "term")
        )
        bias, batch_size = self.bias, self.batch_size

        def train_part(iterator):
            chunks = list(iterator)
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            if not len(pdf):
                return
            cur: dict = {}
            fst: dict = {}
            batch_count = 0
            for _, doc in pdf.groupby("doc_id", sort=True):
                output = 0
                # skip the term-less doc's null row AND out-of-vocabulary
                # terms (null _w0 from the left join — a corpus newer than
                # the index); the doc itself still advances batch_count
                for t, tf, w0 in zip(doc["term"], doc["tf"], doc["_w0"]):
                    if not isinstance(t, str) or pd.isna(w0):
                        continue
                    output += int(tf) * (int(w0) + fst.get(t, 0))
                assigned = output >= bias
                correct = bool(doc["_lbl"].iloc[0])
                modifier = (correct > assigned) - (correct < assigned)
                if modifier != 0:
                    for t, tf, w0 in zip(doc["term"], doc["tf"], doc["_w0"]):
                        if not isinstance(t, str) or pd.isna(w0):
                            continue
                        # snapshot-read + overwrite + clamp (ref :174-180):
                        # absolute new = max(0, (w0 + fst_delta) + m*tf);
                        # in delta space that is max(-w0, fst_delta + m*tf)
                        cur[t] = max(-int(w0), fst.get(t, 0) + modifier * int(tf))
                    if batch_count % batch_size == 0:
                        fst = dict(cur)  # refresh fires even term-less (ref)
                batch_count += 1
            yield pd.DataFrame({"term": list(cur), "delta": list(cur.values())}).astype(
                {"term": "string", "delta": "int64"}
            )

        deltas = rows.mapInPandas(train_part, "term string, delta bigint")
        merged = deltas.groupBy("term").agg(
            F.floor(F.sum("delta") / F.lit(int(n_partitions))).cast("bigint").alias("delta")
        )
        self._weights = (
            self.index.terms.select("term", F.col("ttf").alias("w0"))
            .join(merged, "term", "left")
            .select(
                "term",
                (F.col("w0") + F.coalesce(F.col("delta"), F.lit(0))).cast("bigint").alias("weight"),
            )
            .persist()
        )
        return self._weights

    def classify(self, docs: Optional[DataFrame] = None) -> DataFrame:
        """(doc_id, output, assigned) for every doc: ``output = Σ tf·w`` and
        ``assigned = output >= bias`` (assignClass, :200-218) — one term join
        + one doc-keyed sum, fully distributed exact-integer scoring."""
        if self._weights is None:
            self.train()
        id_col = self.index.config.id_col
        dt = _doc_terms(self.corpus, self.index.config)
        base = self.corpus.select(F.col(id_col).alias("doc_id"))
        if docs is not None:
            keys = docs.select(F.col(id_col).alias("doc_id"))
            dt = dt.join(keys, "doc_id")
            base = base.join(keys, "doc_id", "left_semi")
        scored = (
            dt.join(self._weights, "term")
            .groupBy("doc_id")
            .agg(F.sum(F.col("tf") * F.col("weight")).cast("bigint").alias("output"))
        )
        # term-less docs score output = 0 (the reference's empty token stream)
        return base.join(scored, "doc_id", "left").select(
            "doc_id",
            F.coalesce(F.col("output"), F.lit(0)).cast("bigint").alias("output"),
            (F.coalesce(F.col("output"), F.lit(0)) >= F.lit(self.bias)).alias("assigned"),
        )


def confusion_matrix(
    assigned: DataFrame, corpus: DataFrame, class_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """ConfusionMatrixGenerator analog (``reference lucene/classification/src/
    java/org/apache/lucene/classification/utils/ConfusionMatrixGenerator.java:
    63-121``): cross-tabulate actual vs assigned class over a labeled corpus.

    ``assigned`` is any (doc_id, cls) classification output (e.g.
    :meth:`SimpleNaiveBayesClassifier.classify`).  One id-keyed join + one
    |C|²-row aggregate — the corpus never shuffles beyond the join, and both
    sides are map-side combinable, so the shape holds at any corpus size.
    """
    actual = corpus.select(F.col(id_col).alias("doc_id"), F.col(class_col).alias("actual"))
    return (
        assigned.select("doc_id", F.col("cls").alias("assigned"))
        .join(actual, "doc_id")
        .groupBy("actual", "assigned")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def classification_metrics(cm_rows) -> dict:
    """Accuracy / per-class precision & recall / F1 from the |C|² confusion
    counts (driver-side, same scale the reference's generator reports at —
    ``ConfusionMatrixGenerator.java:123-186``).  ``cm_rows`` is an iterable
    of (actual, assigned, n) rows, e.g. ``confusion_matrix(...).collect()``.
    """
    counts = {(r[0], r[1]): int(r[2]) for r in (tuple(r) for r in cm_rows)}
    classes = sorted({a for a, _ in counts} | {p for _, p in counts})
    total = sum(counts.values())
    diag = sum(counts.get((c, c), 0) for c in classes)
    per_class = {}
    for c in classes:
        tp = counts.get((c, c), 0)
        fp = sum(v for (a, p), v in counts.items() if p == c and a != c)
        fn = sum(v for (a, p), v in counts.items() if a == c and p != c)
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
        per_class[c] = {"precision": precision, "recall": recall, "f1": f1}
    return {
        "accuracy": diag / total if total else 0.0,
        "total": total,
        "per_class": per_class,
    }


def split_dataset(
    df: DataFrame, test_ppm: int = 200_000, cv_ppm: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """DatasetSplitter analog (``reference lucene/classification/src/java/org/
    apache/lucene/classification/utils/DatasetSplitter.java:40-102``): carve a
    labeled corpus into train / test / (cross-validation) sets.

    The reference draws per-doc randoms against the two ratios while copying
    docs into three target indexes; here the draw is the engine's
    deterministic multiplicative id hash mapped onto parts-per-million bands
    — ``[0, test_ppm)`` → test, ``[test_ppm, test_ppm+cv_ppm)`` → cv, rest →
    train — so the split reproduces under any partitioning or cluster size
    and replays bit-exactly in SQL.  Pure Catalyst column append: no shuffle,
    no RNG state; pruning still reaches the scan.
    """
    test_ppm, cv_ppm = int(test_ppm), int(cv_ppm)
    if test_ppm < 0 or cv_ppm < 0 or test_ppm + cv_ppm >= 1_000_000:
        raise ValueError("ppm bands must be >= 0 and sum below 1,000,000")
    from .sampling import sample_hash

    band = sample_hash(F.col(id_col)) % F.lit(1_000_000)
    split = (
        F.when(band < F.lit(test_ppm), F.lit("test"))
        .when(band < F.lit(test_ppm + cv_ppm), F.lit("cv"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)
