"""Composable DFR/IB/DFI/Axiomatic-F1/F3 similarities: rank- AND float32
score-identity vs brute-force oracles recomputed here with the exact
reference float chain (independently of functions/similarities.py), with
block-max pruning on and off.

Reference formulas: DFRSimilarity.java:110-114, BasicModel{In,IF,Ine,G}.java,
AfterEffect{L,B}.java, Normalization{H1,H2,H3,Z}.java, IBSimilarity.java:99-105,
Distribution{LL,SPL}.java, Lambda{DF,TTF}.java, DFISimilarity.java:55-65,
Independence{Saturated,Standardized}.java, AxiomaticF{1,3}{EXP,LOG}.java.
"""

import math

import numpy as np
import pytest

from lucene_solr_spark.functions.similarities import (
    AfterEffectB,
    AfterEffectL,
    AxiomaticF1EXPSimilarity,
    AxiomaticF1LOGSimilarity,
    AxiomaticF3EXPSimilarity,
    AxiomaticF3LOGSimilarity,
    BasicModelG,
    BasicModelIF,
    BasicModelIn,
    BasicModelIne,
    BM25Similarity,
    BooleanSimilarity,
    ClassicSimilarity,
    DFIChiSquaredSimilarity,
    DFISimilarity,
    DFRInL2Similarity,
    DFRSimilarity,
    DistributionLL,
    DistributionSPL,
    IBLLSimilarity,
    IBSimilarity,
    IndependenceChiSquared,
    IndependenceSaturated,
    IndependenceStandardized,
    LambdaDF,
    LambdaTTF,
    LMDirichletSimilarity,
    MultiSimilarity,
    NormalizationH1,
    NormalizationH2,
    NormalizationH3,
    NormalizationZ,
)
from lucene_solr_spark.functions.smallfloat import byte4_to_int, int_to_byte4
from lucene_solr_spark.operators.payloads import payload_check_topk, payload_score_topk
from lucene_solr_spark.operators.searcher import _MAX_PRUNE_K, IndexSearcher
from lucene_solr_spark.plans.query import (
    BooleanQuery,
    MultiPhraseQuery,
    PhraseQuery,
    SynonymQuery,
    TermAutomatonQuery,
    TermQuery,
)

from test_automaton import _brute_freq
from test_payloads import TERM, _tok
from test_similarities import _brute_topk, _hot_terms, corpus_stats  # noqa: F401

LOG2 = math.log(2.0)


def _dl(norm_byte):
    return float(byte4_to_int(np.array([norm_byte]))[0])


# ------------------------------------------------------------------ oracles
def _tfn(norm_name, tf, dl, avgdl, ttf=None, sttf=None, c=1.0, mu=800.0, z=None):
    c = float(np.float32(c))
    if norm_name == "h1":
        return tf * c * (avgdl / dl)
    if norm_name == "h2":
        return tf * (math.log(1.0 + c * avgdl / dl) / LOG2)
    if norm_name == "h3":
        mu = float(np.float32(mu))
        r32 = (np.float32(ttf) + np.float32(1.0)) / (np.float32(sttf) + np.float32(1.0))
        ntp = float(np.float32(np.float32(mu) * r32))
        return (tf + ntp) / (dl + mu) * mu
    if norm_name == "z":
        return tf * math.pow(avgdl / dl, float(np.float32(z)))
    raise AssertionError(norm_name)


def _ae(ae_name, df, ttf):
    return 1.0 if ae_name == "l" else ((ttf + 1) + 1.0) / (df + 1)


def _model(model_name, tfn, df, ttf, n, ae):
    if model_name == "in":
        a = math.log((n + 1) / (df + 0.5)) / LOG2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))
    if model_name == "if":
        a = math.log(1.0 + (n + 1) / (ttf + 0.5)) / LOG2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))
    if model_name == "ine":
        ne = n * (1.0 - math.pow((n - 1) / float(n), float(ttf)))
        a = math.log((n + 1) / (ne + 0.5)) / LOG2
        return a * ae * (1.0 - 1.0 / (1.0 + tfn))
    if model_name == "g":
        f = float(ttf + 1)
        lam = f / (n + f)
        a = math.log(lam + 1.0) / LOG2
        b = math.log((1.0 + lam) / lam) / LOG2
        return (b - (b - a) / (1.0 + tfn)) * ae
    raise AssertionError(model_name)


def _dfr_score(model_name, ae_name, norm_name, tf, df, ttf, norm_byte, n, sttf, **nkw):
    avgdl = float(sttf) / float(n)
    tfn = _tfn(norm_name, float(tf), _dl(norm_byte), avgdl, ttf=ttf, sttf=sttf, **nkw)
    return float(np.float32(1.0 * _model(model_name, tfn, df, ttf, n, _ae(ae_name, df, ttf))))


def _spl(tfn, lam):
    q = 1.0 - 1.0 / (tfn + 1.0)
    if q == 1.0:
        q = np.nextafter(1.0, 0.0)
    p = math.pow(lam, q)
    if p == lam:
        p = np.nextafter(lam, np.inf) if lam < 1.0 else np.nextafter(lam, -np.inf)
    return -math.log((p - lam) / (1.0 - lam))


def _ib_score(dist, lam_kind, tf, df, ttf, norm_byte, n, sttf):
    avgdl = float(sttf) / float(n)
    tfn = _tfn("h2", float(tf), _dl(norm_byte), avgdl)
    num = (df + 1.0) if lam_kind == "df" else (ttf + 1.0)
    lam = float(np.float32(num / (n + 1.0)))
    val = _spl(tfn, lam) if dist == "spl" else -math.log(lam / (tfn + lam))
    return float(np.float32(1.0 * val))


def _dfi_score(measure, tf, ttf, norm_byte, sttf):
    dl = _dl(norm_byte)
    expected = (ttf + 1) * dl / (sttf + 1)
    f = float(tf)
    if f <= expected:
        return 0.0
    if measure == "sat":
        m = (f - expected) / expected
    else:
        m = (f - expected) / math.sqrt(expected)
    return float(np.float32(1.0 * (math.log(m + 1.0) / LOG2)))


def _ax_score(fam, tf, df, norm_byte, n, sttf, s=0.25, k=0.35, query_len=1):
    s = float(np.float32(s))
    k = float(np.float32(k))
    avgdl = float(sttf) / float(n)
    dl = _dl(norm_byte)
    t = 1.0 + math.log(1.0 + math.log(tf + 1.0))
    if fam.startswith("f1"):
        ln = (avgdl + s) / (avgdl + dl * s)
        idf = math.pow((n + 1.0) / df, k) if fam.endswith("exp") else math.log((n + 1.0) / df)
        raw = ((t * ln) * 1.0) * idf - 0.0
    else:
        idf = math.pow((n + 1.0) / df, k) if fam.endswith("exp") else math.log((n + 1.0) / df)
        gamma = (dl - query_len) * s * query_len / avgdl
        raw = ((t * 1.0) * 1.0) * idf - gamma
    return float(np.float32(max(0.0, raw * 1.0)))


# ------------------------------------------------------------------- cases
def _check_term(searcher, term, expect, k=10):
    for prune in (True, False):
        got = searcher.search(TermQuery(term), k, prune=prune).collect()
        assert _brute_topk(expect, k) == [(d, sc) for d, sc in got], (
            searcher.similarity.name,
            prune,
        )


DFR_COMBOS = [
    ("g", "b", "h1", {}, lambda: DFRSimilarity(BasicModelG(), AfterEffectB(), NormalizationH1())),
    ("if", "b", "h2", {}, lambda: DFRSimilarity(BasicModelIF(), AfterEffectB(), NormalizationH2())),
    ("ine", "l", "z", {"z": 0.30}, lambda: DFRSimilarity(BasicModelIne(), AfterEffectL(), NormalizationZ())),
    ("in", "b", "h3", {}, lambda: DFRSimilarity(BasicModelIn(), AfterEffectB(), NormalizationH3())),
]


@pytest.mark.parametrize("model,ae,normn,nkw,factory", DFR_COMBOS, ids=lambda v: str(v)[:12])
def test_dfr_combos(index8, spark_corpus, corpus_stats, model, ae, normn, nkw, factory):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=factory())
    for term in (hot[0], hot[2]):
        expect = {
            d: _dfr_score(model, ae, normn, f, df[term], ttf[term], norm[d], n_docs, sttf, **nkw)
            for (d, t), f in tf.items()
            if t == term
        }
        _check_term(s, term, expect)


def test_dfr_generic_matches_hardwired_inl2(index8, spark_corpus, corpus_stats):
    """DFRSimilarity(In, L, H2(1)) must be bit-identical to the pre-existing
    DFRInL2Similarity fast path (same formula, same float order)."""
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)[0]
    generic = IndexSearcher(
        index8,
        spark_corpus,
        prune_min_postings=0,
        similarity=DFRSimilarity(BasicModelIn(), AfterEffectL(), NormalizationH2(1.0)),
    )
    fast = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=DFRInL2Similarity())
    assert generic.search(TermQuery(hot), 10).collect() == fast.search(TermQuery(hot), 10).collect()


def test_ib_generic_matches_hardwired_ll(index8, spark_corpus, corpus_stats):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)[1]
    generic = IndexSearcher(
        index8,
        spark_corpus,
        prune_min_postings=0,
        similarity=IBSimilarity(DistributionLL(), LambdaDF(), NormalizationH2(1.0)),
    )
    fast = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=IBLLSimilarity())
    assert generic.search(TermQuery(hot), 10).collect() == fast.search(TermQuery(hot), 10).collect()


@pytest.mark.parametrize("dist,lamk", [("spl", "ttf"), ("spl", "df"), ("ll", "ttf")])
def test_ib_combos(index8, spark_corpus, corpus_stats, dist, lamk):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    d_obj = DistributionSPL() if dist == "spl" else DistributionLL()
    l_obj = LambdaTTF() if lamk == "ttf" else LambdaDF()
    s = IndexSearcher(
        index8,
        spark_corpus,
        prune_min_postings=0,
        similarity=IBSimilarity(d_obj, l_obj, NormalizationH2()),
    )
    for term in (hot[0], hot[2]):
        expect = {
            d: _ib_score(dist, lamk, f, df[term], ttf[term], norm[d], n_docs, sttf)
            for (d, t), f in tf.items()
            if t == term
        }
        _check_term(s, term, expect)


@pytest.mark.parametrize("measure", ["sat", "std"])
def test_dfi_measures(index8, spark_corpus, corpus_stats, measure):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    ind = IndependenceSaturated() if measure == "sat" else IndependenceStandardized()
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=DFISimilarity(ind))
    for term in (hot[0], hot[2]):
        expect = {
            d: _dfi_score(measure, f, ttf[term], norm[d], sttf) for (d, t), f in tf.items() if t == term
        }
        _check_term(s, term, expect)


def test_dfi_chi2_generic(index8, spark_corpus, corpus_stats):
    """Generic DFI(ChiSquared) ranks identically to the historical
    DFIChiSquaredSimilarity (expected-value grouping differs by one
    associativity step; ranks and f32 scores agree on the fixture)."""
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)[0]
    g = IndexSearcher(
        index8, spark_corpus, prune_min_postings=0, similarity=DFISimilarity(IndependenceChiSquared())
    )
    h = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=DFIChiSquaredSimilarity())
    assert [d for d, _ in g.search(TermQuery(hot), 10).collect()] == [
        d for d, _ in h.search(TermQuery(hot), 10).collect()
    ]


AX_CASES = [
    ("f1exp", {}, lambda: AxiomaticF1EXPSimilarity()),
    ("f1log", {}, lambda: AxiomaticF1LOGSimilarity()),
    ("f3exp", {"query_len": 1}, lambda: AxiomaticF3EXPSimilarity(0.25, 1)),
    ("f3log", {"query_len": 2}, lambda: AxiomaticF3LOGSimilarity(0.25, 2)),
]


@pytest.mark.parametrize("fam,kw,factory", AX_CASES, ids=lambda v: str(v)[:8])
def test_axiomatic_f1_f3(index8, spark_corpus, corpus_stats, fam, kw, factory):
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=factory())
    for term in (hot[0], hot[2]):
        expect = {
            d: _ax_score(fam, f, df[term], norm[d], n_docs, sttf, **kw)
            for (d, t), f in tf.items()
            if t == term
        }
        _check_term(s, term, expect)


def test_boolean_and_synonym_under_5slot_sim(index8, spark_corpus, corpus_stats):
    """Multi-term paths (SHOULD-sum and blended SynonymQuery) through the
    generalized n-slot plumbing, under the 5-slot DFR similarity."""
    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)
    sim = DFRSimilarity(BasicModelG(), AfterEffectB(), NormalizationH1())
    s = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=sim)

    # SHOULD of two: leaf f32 scores, double sum, f32 cast
    e2 = {}
    for t in hot[:2]:
        for (d, tt), f in tf.items():
            if tt == t:
                e2[d] = e2.get(d, 0.0) + _dfr_score("g", "b", "h1", f, df[t], ttf[t], norm[d], n_docs, sttf)
    e2 = {d: float(np.float32(v)) for d, v in e2.items()}
    q = BooleanQuery.build(should=[TermQuery(hot[0]), TermQuery(hot[1])])
    for prune in (True, False):
        assert _brute_topk(e2) == [(d, sc) for d, sc in s.search(q, 10, prune=prune).collect()]

    # Synonym: blended df = max, ttf summed, tf summed per doc, one pseudo-term
    bdf = max(df[hot[0]], df[hot[1]])
    bttf = ttf[hot[0]] + ttf[hot[1]]
    sums = {}
    for t in hot[:2]:
        for (d, tt), f in tf.items():
            if tt == t:
                sums[d] = sums.get(d, 0) + f
    expect = {
        d: _dfr_score("g", "b", "h1", f, bdf, bttf, norm[d], n_docs, sttf) for d, f in sums.items()
    }
    got = s.search(SynonymQuery([hot[0], hot[1]]), 10).collect()
    assert _brute_topk(expect) == [(d, sc) for d, sc in got]


def test_legacy_bm25_is_scaled_bm25(index8, spark_corpus, corpus_stats):
    """LegacyBM25 = BM25 scorer with boost·(1+k1): same ranks, scores equal
    to f32(f32(2.2)·idf)·t32 — verified against the default-BM25 engine."""
    from lucene_solr_spark.functions import bm25
    from lucene_solr_spark.functions.similarities import LegacyBM25Similarity

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)[0]
    legacy = IndexSearcher(
        index8, spark_corpus, prune_min_postings=0, similarity=LegacyBM25Similarity()
    )
    default = IndexSearcher(index8, spark_corpus, prune_min_postings=0)
    got = legacy.search(TermQuery(hot), 10).collect()
    base = default.search(TermQuery(hot), 10).collect()
    assert [d for d, _ in got] == [d for d, _ in base]  # rank identity
    cache = bm25.norm_cache(bm25.avg_field_length(sttf, n_docs))
    w = np.float32(np.float32(np.float32(1.0) * (np.float32(1.0) + np.float32(1.2))) * bm25.idf(df[hot], n_docs))
    for d, sc in got:
        t = np.float32(tf[(d, hot)] / (tf[(d, hot)] + float(np.float64(cache[norm[d]]))))
        assert sc == float(np.float32(w * t)), d
    with pytest.raises(ValueError):
        LegacyBM25Similarity(k1=-1)
    with pytest.raises(ValueError):
        LegacyBM25Similarity(b=2.0)


def test_multi_similarity_sum(index8, spark_corpus, corpus_stats):
    """MultiSimilarity: float32 RUNNING SUM of sub-scores (not an average) —
    verified against Classic+Boolean recomputed here, incl. a 5-slot DFR sub
    through the concatenated-slot plumbing."""
    from lucene_solr_spark.functions.similarities import (
        BooleanSimilarity,
        ClassicSimilarity,
        MultiSimilarity,
    )
    from test_similarities import _classic_score

    tf, df, ttf, norm, n_docs, sttf = corpus_stats
    hot = _hot_terms(df)[1]
    s = IndexSearcher(
        index8,
        spark_corpus,
        prune_min_postings=0,
        similarity=MultiSimilarity([ClassicSimilarity(), BooleanSimilarity()]),
    )
    expect = {
        d: float(np.float32(_classic_score(f, df[hot], norm[d], n_docs) + np.float32(1.0)))
        for (d, t), f in tf.items()
        if t == hot
    }
    _check_term(s, hot, expect)

    # heterogeneous slot widths: Classic (2 slots) + DFR G/B/H1 (5 slots)
    m = MultiSimilarity(
        [ClassicSimilarity(), DFRSimilarity(BasicModelG(), AfterEffectB(), NormalizationH1())]
    )
    s2 = IndexSearcher(index8, spark_corpus, prune_min_postings=0, similarity=m)
    expect2 = {
        d: float(
            np.float32(
                np.float32(_classic_score(f, df[hot], norm[d], n_docs))
                + np.float32(_dfr_score("g", "b", "h1", f, df[hot], ttf[hot], norm[d], n_docs, sttf))
            )
        )
        for (d, t), f in tf.items()
        if t == hot
    }
    _check_term(s2, hot, expect2)
    with pytest.raises(ValueError):
        MultiSimilarity([])


# ---------------------------------------- phrase family, non-BM25 similarities
# Every query whose one freq stands for several terms (phrases, multiphrases,
# payload spans, term automata) scores through Similarity.scorer.  The
# reference below is a scalar per-doc computation of each family's
# multi-term rule; the freq comes from the matcher, the stats from the index.
K = 5000  # above the fixture's doc count: every match is compared
PHRASE_SIMS = {
    "classic": ClassicSimilarity,
    "lm_dirichlet": LMDirichletSimilarity,
    "boolean": BooleanSimilarity,
    "bm25_k1_2": lambda: BM25Similarity(k1=2.0),
    "multi_bm25_lmd": lambda: MultiSimilarity([BM25Similarity(), LMDirichletSimilarity()]),
}


def _multi_score(name, freq, norm_byte, term_stats, n, sttf, boost=1.0):
    """One doc's score for a freq over several terms' ``(df, ttf)``."""
    f, dl = float(freq), _dl(norm_byte)
    if name == "multi_bm25_lmd":
        a = _multi_score("bm25", freq, norm_byte, term_stats, n, sttf, boost)
        b = _multi_score("lm_dirichlet", freq, norm_byte, term_stats, n, sttf, boost)
        return np.float32(a + b)
    if name == "boolean":
        return np.float32(boost)
    if name == "lm_dirichlet":
        # SimilarityBase: float32 running sum of one per-term score
        acc = np.float32(0.0)
        for _, ttf_t in term_stats:
            p_c = (ttf_t + 1.0) / (sttf + 1.0)
            s = boost * (math.log1p(f / (2000.0 * p_c)) + math.log(2000.0 / (dl + 2000.0)))
            acc = np.float32(acc + np.float32(max(s, 0.0)))
        return acc
    if name == "classic":
        idf = sum(float(np.float32(math.log((n + 1) / (df_t + 1)) + 1.0)) for df_t, _ in term_stats)
        w = np.float32(np.float32(boost) * np.float32(idf))
        raw = np.float32(np.float32(math.sqrt(f)) * w)
        return np.float32(raw * np.float32(1.0 / math.sqrt(dl)))
    # BM25 (k1 from the name): one weight over the double sum of f32 idfs
    k1 = np.float32(2.0 if name == "bm25_k1_2" else 1.2)
    b = np.float32(0.75)
    idf = sum(float(np.float32(math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5)))) for df_t, _ in term_stats)
    w = np.float32(np.float32(boost) * np.float32(idf))
    avgdl = np.float32(sttf / n)
    cache = np.float32(k1 * ((np.float32(1.0) - b) + (b * np.float32(dl)) / avgdl))
    return np.float32(w * np.float32(f / (f + float(cache))))


def _phrase_freqs(oracle, slots, slop):
    """doc -> freq of a (multi)phrase: one alternative tuple per slot, the
    exact start count or the sloppy matcher's float32 freq."""
    from lucene_solr_spark.functions.sloppyphrase import sloppy_phrase_freq

    out = {}
    for d in oracle.texts:
        pos = [sorted(p for t in slot for p in oracle.positions.get(t, {}).get(d, [])) for slot in slots]
        if not all(pos):
            continue
        if slop:
            freq = sloppy_phrase_freq([frozenset(s) for s in slots], pos, slop)
        else:
            sets = [set(p) for p in pos]
            freq = sum(all(s + o in ps for o, ps in enumerate(sets)) for s in pos[0])
        if freq > 0:
            out[d] = freq
    return out


@pytest.mark.parametrize("sim_name", list(PHRASE_SIMS))
def test_phrase_family_under_similarity(
    sim_name, pos_index8, index8, payload_index8, spark_corpus, oracle
):
    """Exact and sloppy PhraseQuery (positional path and the corpus verify
    pass), exact and sloppy MultiPhraseQuery, a TermAutomatonQuery and both
    payload queries score under the searcher's similarity, on every
    matching doc (K exceeds every match count).  The exact phrase and
    multiphrase also run the driver phrase path (``prune=True``, top
    ``_MAX_PRUNE_K``, its cap) and the distributed matcher
    (``prune=False``)."""
    sim = PHRASE_SIMS[sim_name]()
    pos = IndexSearcher(pos_index8, corpus=None, similarity=sim)
    verify = IndexSearcher(index8, spark_corpus, similarity=sim)

    def expect(freqs, terms, boost=1.0, norms=oracle.norm, s=pos):
        ts = [s._term_stats({t})[t] for t in terms]
        n, sttf = s.index.doc_count, s.index.sum_ttf
        return {d: float(_multi_score(sim_name, f, norms[d], ts, n, sttf, boost)) for d, f in freqs.items()}

    def check(searcher, q, want, arms=((K, True),)):
        for k, prune in arms:
            top = searcher.search(q, k, prune=prune)
            got = [(d, sc) for d, sc in top.collect()]
            assert got == _brute_topk(want, k), (sim_name, q, prune)
            assert got
            if k == _MAX_PRUNE_K:  # the driver phrase path: a local frame
                assert "LocalTableScan" in top.df._jdf.queryExecution().executedPlan().toString()

    both = ((_MAX_PRUNE_K, True), (K, False))

    # the fixture's head terms, so every shape matches hundreds of docs
    phrase = ("ge0", "vecodu")
    one = tuple((t,) for t in phrase)
    check(pos, PhraseQuery(phrase, boost=2.0), expect(_phrase_freqs(oracle, one, 0), phrase, 2.0), both)
    sloppy = expect(_phrase_freqs(oracle, one, 2), phrase)
    check(pos, PhraseQuery(phrase, slop=2), sloppy)
    check(verify, PhraseQuery(phrase, slop=2), sloppy)

    for slots, slop in ((("ge0",), ("vecodu", "numa")), 0), ((("wehu", "go"), ("ge0",)), 2):
        terms = [t for s in slots for t in s]
        want = expect(_phrase_freqs(oracle, slots, slop), terms)
        check(pos, MultiPhraseQuery(slots, slop=slop), want, both if slop == 0 else ((K, True),))

    aq = TermAutomatonQuery.from_phrases(("ge0", "vecodu"), ("numa", "wehu", "ge0"))
    toks = {d: [t for t, _ in oracle.analyzer.tokens_with_positions(x)] for d, x in oracle.texts.items()}
    afreq = {d: f for d, f in ((d, _brute_freq(tk, aq)) for d, tk in toks.items()) if f}
    check(pos, aq, expect(afreq, sorted(aq.terms())))

    # payload spans over the simple-analyzer index (payload = position & 7)
    ps = IndexSearcher(payload_index8, spark_corpus, similarity=sim)
    docs = spark_corpus.select("doc_id", "text").orderBy("doc_id").toPandas()
    ptoks = {int(d): _tok(x) for d, x in zip(docs["doc_id"], docs["text"])}
    pnorm = {d: int(int_to_byte4(np.array([len(tk)]))[0]) for d, tk in ptoks.items()}
    occ = {d: [p for p, t in enumerate(tk) if t == TERM] for d, tk in ptoks.items()}
    occ = {d: o for d, o in occ.items() if o}
    span = expect({d: len(o) for d, o in occ.items()}, [TERM], norms=pnorm, s=ps)
    pay_sum = {d: np.float32(sum(np.float32(p & 7) for p in o)) for d, o in occ.items()}
    want = {d: float(np.float32(np.float32(span[d]) * pay_sum[d])) for d in occ}
    got = [(r["doc_id"], r["score"]) for r in payload_score_topk(ps, TERM, "sum", k=K).collect()]
    assert got == _brute_topk(want, K), sim_name
    accepted = {d: sum(1 for p in o if p & 7 == 3) for d, o in occ.items()}
    want = expect({d: a for d, a in accepted.items() if a}, [TERM], norms=pnorm, s=ps)
    got = [(r["doc_id"], r["score"]) for r in payload_check_topk(ps, TERM, [3], k=K).collect()]
    assert got == _brute_topk(want, K), sim_name
