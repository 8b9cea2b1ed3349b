"""Pluggable similarities: rank- and score-identity vs brute-force oracles.

Each similarity's brute force is recomputed here from the corpus with the
exact reference float chain (independently of functions/similarities.py), and
the Spark engine must match on doc_ids AND float32 scores, with pruning on
and off (the kernels are monotone, so block-max pruning must not change
results).
"""

import math

import numpy as np
import pytest

from lucene_solr_spark.functions.analysis import standard_analyzer
from lucene_solr_spark.functions.similarities import (
    BM25Similarity,
    BooleanSimilarity,
    ClassicSimilarity,
    DFRInL2Similarity,
    LMDirichletSimilarity,
    LMJelinekMercerSimilarity,
)
from lucene_solr_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import (
    BlendedTermQuery,
    BooleanQuery,
    FuzzyQuery,
    PrefixQuery,
    SynonymQuery,
    TermQuery,
    WildcardQuery,
)


@pytest.fixture(scope="module")
def corpus_stats(fixture_corpus_pdf):
    """(tf[(doc,term)], df[term], ttf[term], norm_byte[doc], N, sttf)."""
    an = standard_analyzer()
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    tf, df, ttf, norm = {}, {}, {}, {}
    for doc_id, text in enumerate(pdf["text"]):
        toks = an.tokens(text)
        norm[doc_id] = int(int_to_byte4(np.array([len(toks)]))[0])
        seen = {}
        for t in toks:
            seen[t] = seen.get(t, 0) + 1
        for t, f in seen.items():
            tf[(doc_id, t)] = f
            df[t] = df.get(t, 0) + 1
            ttf[t] = ttf.get(t, 0) + f
    return tf, df, ttf, norm, len(pdf), sum(ttf.values())


def _classic_score(tf, df, norm_byte, n_docs):
    idf = np.float32(math.log((n_docs + 1) / (df + 1)) + 1.0)
    qw = np.float32(np.float32(1.0) * idf)
    tf32 = np.float32(math.sqrt(tf))
    raw = np.float32(tf32 * qw)
    dl = int(byte4_to_int(np.array([norm_byte]))[0])
    nt = np.float32(1.0 / math.sqrt(dl)) if dl > 0 else np.float32(0)
    return np.float32(raw * nt)


def _lmd_score(tf, ttf_t, norm_byte, sttf, mu=2000.0):
    p_c = (ttf_t + 1.0) / (sttf + 1.0)
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    s = 1.0 * (math.log(1.0 + tf / (mu * p_c)) + math.log(mu / (dl + mu)))
    return np.float32(s if s > 0.0 else 0.0)


def _brute_topk(scores: dict, k=10):
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def _hot_terms(df, n=3):
    return [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:n]]


def test_classic_term_and_bool(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=ClassicSimilarity())

    expect = {
        d: float(_classic_score(f, df[hot[0]], norm[d], n_docs))
        for (d, t), f in tf.items()
        if t == hot[0]
    }
    for prune in (True, False):
        got = s.search(TermQuery(hot[0]), 10, prune=prune).collect()
        assert [(d, pytest.approx(sc, abs=0)) for d, sc in _brute_topk(expect)] == got

    # SHOULD-of-two: leaf f32 scores, double sum, f32 cast
    e2 = {}
    for t in hot[:2]:
        for (d, tt), f in tf.items():
            if tt == t:
                e2[d] = e2.get(d, 0.0) + float(_classic_score(f, df[t], norm[d], n_docs))
    e2 = {d: float(np.float32(v)) for d, v in e2.items()}
    q = BooleanQuery.build(should=[TermQuery(hot[0]), TermQuery(hot[1])])
    for prune in (True, False):
        got = s.search(q, 10, prune=prune).collect()
        assert _brute_topk(e2) == [(d, sc) for d, sc in got]

    # constant-score multiterm rewrites read only the postings: the default
    # searcher's doc set, every score the query boost, under any similarity
    default = IndexSearcher(index8, spark_corpus)
    for mq in (PrefixQuery(hot[0][:2]), WildcardQuery("?" + hot[1][1:])):
        got = s.search(mq, n_docs).collect()
        want = default.search(mq, n_docs).collect()
        assert got and [d for d, _ in got] == [d for d, _ in want], mq
        assert all(sc == 1.0 for _, sc in got), mq


def test_boolean_similarity_constant(index8, spark_corpus, corpus_stats):
    tf, df, _, _, _, _ = corpus_stats
    hot = _hot_terms(df)[0]
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=BooleanSimilarity())
    got = s.search(TermQuery(hot), 10).collect()
    matching = sorted(d for (d, t) in tf if t == hot)[:10]
    assert [d for d, _ in got] == matching
    assert all(sc == 1.0 for _, sc in got)


def test_lmdirichlet_term(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=LMDirichletSimilarity())
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_lmd_score(f, ttf[term], norm[d], sttf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got]


def _lmjm_score(tf, ttf_t, norm_byte, sttf, lam=None):
    lam = float(np.float32(0.7)) if lam is None else lam
    p_c = (ttf_t + 1.0) / (sttf + 1.0)
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    return np.float32(1.0 * math.log(1.0 + ((1.0 - lam) * tf / dl) / (lam * p_c)))


def _dfr_inl2_score(tf, df_t, norm_byte, n_docs, sttf):
    log2 = math.log(2.0)
    avgdl = float(sttf) / float(n_docs)
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    tfn = tf * (math.log(1.0 + avgdl / dl) / log2)
    a = math.log((n_docs + 1) / (df_t + 0.5)) / log2
    return np.float32(a * (1.0 - 1.0 / (1.0 + tfn)))


def test_lmjm_term(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=LMJelinekMercerSimilarity())
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_lmjm_score(f, ttf[term], norm[d], sttf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got]


def test_dfr_inl2_term(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=DFRInL2Similarity())
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_dfr_inl2_score(f, df[term], norm[d], n_docs, sttf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got]


def test_synonym_under_similarity(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=ClassicSimilarity())
    # blended: df = max, tf summed per doc, scored as one pseudo-term
    bdf = max(df[hot[0]], df[hot[1]])
    sums = {}
    for t in hot[:2]:
        for (d, tt), f in tf.items():
            if tt == t:
                sums[d] = sums.get(d, 0) + f
    expect = {d: float(_classic_score(f, bdf, norm[d], n_docs)) for d, f in sums.items()}
    got = s.search(SynonymQuery((hot[0], hot[1])), 10, prune=False).collect()
    assert _brute_topk(expect) == [(d, sc) for d, sc in got]


def test_default_bm25_unaffected(index8, spark_corpus, corpus_stats, oracle):
    """BM25 is the default Similarity: the default searcher, similarity=None
    and an explicit BM25Similarity() agree bit for bit on every BM25-scored
    shape (θ pre-pass forced on the latter two), and with the oracle where
    it models the shape."""
    _, df, _, _, _, _ = corpus_stats
    hot = _hot_terms(df, n=4)
    default = IndexSearcher(index8, spark_corpus)
    explicit_none = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=None)
    explicit_bm25 = IndexSearcher(
        index8, spark_corpus, prune_min_postings=0, similarity=BM25Similarity()
    )
    or3 = BooleanQuery.build(should=[TermQuery(t) for t in hot[:3]])
    cases = [
        (TermQuery(hot[0]), True),
        (or3, True),
        (SynonymQuery((hot[1], hot[2])), True),
        (FuzzyQuery(hot[3]), False),
        (BlendedTermQuery(blend_terms=(hot[1], hot[3]), term_boosts=(1.0, 2.0)), False),
    ]
    for q, in_oracle in cases:
        got = default.search(q, 10).collect()
        assert got, q
        for s in (explicit_none, explicit_bm25):
            other = s.search(q, 10).collect()
            assert [d for d, _ in other] == [d for d, _ in got], q
            assert [np.float32(sc).tobytes() for _, sc in other] == [
                np.float32(sc).tobytes() for _, sc in got
            ], q
        if in_oracle:
            assert got == oracle.search(q, 10), q


def _dfi_chi2_score(tf, ttf_t, norm_byte, sttf):
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    expected = (ttf_t + 1.0) * dl / (sttf + 1.0)
    if tf <= expected:
        return np.float32(0.0)
    measure = (tf - expected) * (tf - expected) / expected
    return np.float32(math.log(measure + 1.0) / math.log(2.0))


def _ib_ll_score(tf, df_t, norm_byte, n_docs, sttf, c=1.0):
    lam = float(np.float32((df_t + 1.0) / (n_docs + 1.0)))
    avgdl = float(sttf) / float(n_docs)
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    tfn = tf * (math.log(1.0 + c * avgdl / dl) / math.log(2.0))
    return np.float32(-math.log(lam / (tfn + lam)))


def test_dfi_chi2_term(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.functions.similarities import DFIChiSquaredSimilarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=DFIChiSquaredSimilarity())
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_dfi_chi2_score(f, ttf[term], norm[d], sttf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got], (term, prune)


def _ax_f2_score(tf, df_t, norm_byte, n_docs, sttf, idf, s=0.25):
    avgdl = float(sttf) / float(n_docs)
    dl = float(byte4_to_int(np.array([norm_byte]))[0])
    tfln = tf / (tf + s + s * dl / avgdl)
    return np.float32(max(tfln * idf, 0.0))


def test_axiomatic_f2exp_term(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.functions.similarities import AxiomaticF2EXPSimilarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    k = float(np.float32(0.35))
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=AxiomaticF2EXPSimilarity())
    for term in (hot[0], hot[2]):
        idf = math.pow((n_docs + 1.0) / df[term], k)
        expect = {
            d: float(_ax_f2_score(f, df[term], norm[d], n_docs, sttf, idf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got], (term, prune)


def test_axiomatic_f2log_term(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.functions.similarities import AxiomaticF2LOGSimilarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=AxiomaticF2LOGSimilarity())
    for term in (hot[0], hot[2]):
        idf = math.log((n_docs + 1.0) / df[term])
        expect = {
            d: float(_ax_f2_score(f, df[term], norm[d], n_docs, sttf, idf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got], (term, prune)


def _sweetspot_score(tf, df_t, norm_byte, n_docs, lo, hi, steep):
    idf = np.float32(math.log((n_docs + 1) / (df_t + 1)) + 1.0)
    raw = np.float32(np.float32(math.sqrt(tf)) * np.float32(np.float32(1.0) * idf))
    dl = int(byte4_to_int(np.array([norm_byte]))[0])
    iarg = abs(dl - lo) + abs(dl - hi) - (hi - lo)
    arg = np.float32(np.float32(np.float32(steep) * np.float32(iarg)) + np.float32(1.0))
    nt = np.float32(1.0 / math.sqrt(float(arg)))
    return np.float32(raw * nt)


def test_sweetspot_term(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.functions.similarities import SweetSpotSimilarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(
        index8, spark_corpus, prune_min_postings=0, similarity=SweetSpotSimilarity(1, 40, 0.5)
    )
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_sweetspot_score(f, df[term], norm[d], n_docs, 1, 40, 0.5))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got], (term, prune)


def test_diversified_topk(index8, spark_corpus, corpus_stats, oracle, fixture_corpus_pdf):
    tf, df, *_ = corpus_stats
    hot = _hot_terms(df)[0]
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0)
    pdf = fixture_corpus_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    key_of = dict(enumerate(pdf["role"]))
    scores = oracle._evaluate(TermQuery(hot), 1.0)
    ranked = sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
    kept, per_key = [], {}
    for d, sc in ranked:
        k = key_of[d]
        if per_key.get(k, 0) < 2:
            per_key[k] = per_key.get(k, 0) + 1
            kept.append((d, float(sc), k))
        if len(kept) == 10:
            break
    got = [
        (r["doc_id"], r["score"], r["role"])
        for r in s.diversified_topk(TermQuery(hot), "role", 2, 10).collect()
    ]
    assert got == kept


def test_ib_ll_term(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.functions.similarities import IBLLSimilarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=IBLLSimilarity())
    for term in (hot[0], hot[2]):
        expect = {
            d: float(_ib_ll_score(f, df[term], norm[d], n_docs, sttf))
            for (d, t), f in tf.items()
            if t == term
        }
        for prune in (True, False):
            got = s.search(TermQuery(term), 10, prune=prune).collect()
            assert _brute_topk(expect) == [(d, sc) for d, sc in got], (term, prune)


def _bm25_blended_scores(tf, df, norm, n_docs, sttf, terms, boosts):
    """Brute-force BlendedTermQuery: per-term BM25 with df blended to the
    max over the terms (BlendedTermQuery.java:274-284), reference float
    chain (weight f32, cache double, per-hit f32)."""
    bdf = max(df[t] for t in terms if t in df)
    idf32 = np.float32(math.log(1.0 + (n_docs - bdf + 0.5) / (bdf + 0.5)))
    avgdl = float(np.float32(sttf / n_docs))
    per_term = {}
    for t, b in zip(terms, boosts):
        w = np.float32(np.float32(b) * idf32)
        for (d, t_), f in tf.items():
            if t_ != t:
                continue
            dl = float(byte4_to_int(np.array([norm[d]]))[0])
            cache = 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl)
            per_term.setdefault(d, []).append(np.float32(w * np.float32(f / (f + cache))))
    return per_term


def test_blended_term_query_dismax_and_boolean(index8, spark_corpus, corpus_stats):
    from lucene_solr_spark.plans.query import BlendedTermQuery

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df, n=4)
    terms, boosts = (hot[1], hot[3]), (1.0, 2.0)
    per_term = _bm25_blended_scores(tf, df, norm, n_docs, sttf, terms, boosts)

    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0)
    tie = float(np.float32(0.01))
    expect_dm = {
        d: float(np.float32(max(map(float, ss)) + tie * (sum(map(float, ss)) - max(map(float, ss)))))
        for d, ss in per_term.items()
    }
    got = s.search(BlendedTermQuery(blend_terms=terms, term_boosts=boosts), 10).df.collect()
    want = _brute_topk(expect_dm)
    assert [(r["doc_id"], r["score"]) for r in got] == [(d, pytest.approx(v)) for d, v in want]

    expect_bool = {d: float(np.float32(sum(map(float, ss)))) for d, ss in per_term.items()}
    got_b = s.search(
        BlendedTermQuery(blend_terms=terms, term_boosts=boosts, rewrite="boolean"), 10
    ).df.collect()
    want_b = _brute_topk(expect_bool)
    assert [(r["doc_id"], r["score"]) for r in got_b] == [(d, pytest.approx(v)) for d, v in want_b]

    # blending must actually change the rare term's idf: compare to plain dismax
    from lucene_solr_spark.plans.query import DisjunctionMaxQuery

    plain = s.search(
        DisjunctionMaxQuery((TermQuery(terms[0]), TermQuery(terms[1], boost=2.0)), tie_breaker=tie), 10
    ).df.collect()
    assert [r["score"] for r in plain] != [r["score"] for r in got]
