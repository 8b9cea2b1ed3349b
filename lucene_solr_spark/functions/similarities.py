"""Pluggable similarities (reference ``search/similarities/``).

Every similarity, the default BM25 included, reduces to two pieces the
searcher plumbs through one scoring path:

- ``term_params(boost, df, ttf, doc_count, sum_ttf) -> tuple`` — per-term
  scalars (``n_params`` of them) resolved once on the driver from global
  stats (the Weight/SimScorer construction step);
- ``score(*params, tfs, norms) -> float32`` — the vectorized per-posting
  kernel run inside the Arrow unpack UDF, each param broadcast per posting.

Every kernel is monotone non-decreasing in tf and non-increasing in
document length, so block-max pruning with per-block ``(max_tf, min_norm)``
stays sound under any of them.

Float semantics mirror the reference exactly (rank-identity requirement):

- ``BM25Similarity`` (the searcher's default): ``weight = f32(f32(boost) *
  idf)`` and ``score = f32(weight * f32(tf / (tf + cache[norm])))`` — see
  :mod:`lucene_solr_spark.functions.bm25`.
- ``ClassicSimilarity`` (TF-IDF): ``idf = f32(ln((N+1)/(df+1)) + 1)``
  (``ClassicSimilarity.java:61-63``), ``queryWeight = f32(boost * idf)``
  (``TFIDFSimilarity.java:543``), ``score = f32(f32(f32(sqrt(tf)) *
  queryWeight) * normTable[norm])`` (``TFIDFSimilarity.java:548-552``) with
  ``normTable[i] = f32(1/sqrt(byte4ToInt(i)))`` and ``normTable[0] =
  1/normTable[255]`` (``TFIDFSimilarity.java:519-525``,
  ``ClassicSimilarity.java:39-41``).
- ``BooleanSimilarity``: ``score = boost`` regardless of tf/norm
  (``BooleanSimilarity.java:59-61``).
- ``LMDirichletSimilarity`` (μ=2000): double-precision
  ``score_d = boost * (ln(1 + tf/(μ·p_c)) + ln(μ/(dl+μ)))`` clamped at 0,
  cast to float32 (``LMDirichletSimilarity.java:73-77``,
  ``SimilarityBase.java:227-229``), with collection probability
  ``p_c = (ttf+1)/(sumTotalTermFreq+1)`` (``LMSimilarity.java:154-156``)
  and ``dl = byte4ToInt(norm)`` (``SimilarityBase.java:177-183,222-224``).
"""

from __future__ import annotations

import numpy as np

from . import bm25
from .smallfloat import byte4_to_int

__all__ = [
    "Similarity",
    "BM25Similarity",
    "ClassicSimilarity",
    "BooleanSimilarity",
    "LMDirichletSimilarity",
    "LMJelinekMercerSimilarity",
    "DFRInL2Similarity",
    "DFIChiSquaredSimilarity",
    "IBLLSimilarity",
    "AxiomaticF2EXPSimilarity",
    "AxiomaticF2LOGSimilarity",
    "AxiomaticF1EXPSimilarity",
    "AxiomaticF1LOGSimilarity",
    "AxiomaticF3EXPSimilarity",
    "AxiomaticF3LOGSimilarity",
    "SweetSpotSimilarity",
    "LegacyBM25Similarity",
    "MultiSimilarity",
    "DFRSimilarity",
    "BasicModelIn",
    "BasicModelIF",
    "BasicModelIne",
    "BasicModelG",
    "AfterEffectL",
    "AfterEffectB",
    "NormalizationH1",
    "NormalizationH2",
    "NormalizationH3",
    "NormalizationZ",
    "NoNormalization",
    "IBSimilarity",
    "DistributionLL",
    "DistributionSPL",
    "LambdaDF",
    "LambdaTTF",
    "DFISimilarity",
    "IndependenceChiSquared",
    "IndependenceSaturated",
    "IndependenceStandardized",
]

# Java SimilarityBase.log2 divides by a precomputed Math.log(2)
# (``SimilarityBase.java:46,202``); mirror the exact operation order
_LOG_2 = float(np.log(2.0))


def _length_table() -> np.ndarray:
    """LENGTH_TABLE[256]: decoded byte4 lengths (SimilarityBase.java:177-183)."""
    return byte4_to_int(np.arange(256, dtype=np.int64)).astype(np.float64)


class Similarity:
    """Interface; see module docstring. ``name`` keys caches/logs.

    ``n_params`` is the arity of the ``term_params`` tuple; the searcher
    plumbs that many float64 slot columns through the Arrow kernel and calls
    ``score(*slots, tfs, norms)``. Two slots suffice for the classic kernels;
    the composable DFR/IB families below use more."""

    name = "base"
    n_params = 2

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        raise NotImplementedError

    def score(self, w1, w2, tfs, norms):
        raise NotImplementedError


class BM25Similarity(Similarity):
    """BM25Similarity (``search/similarities/BM25Similarity.java``), the
    searcher's default: params ``(f32(f32(boost)·idf), avgdl)`` and the
    float32-exact :func:`bm25.score_tf_norm` kernel over
    :func:`bm25.norm_cache` ``(avgdl)`` — no state beyond (k1, b).

    Every leaf score of this family is ``f32(w·t)`` with the unit score
    ``t = f32(tf/(tf + cache[norm]))`` independent of the term, which is the
    factorisation ``batch_search`` relies on."""

    name = "bm25"

    def __init__(self, k1: float = bm25.DEFAULT_K1, b: float = bm25.DEFAULT_B):
        if not (k1 >= 0 and np.isfinite(k1)):
            raise ValueError("illegal k1 value")
        if not (0.0 <= b <= 1.0):
            raise ValueError("b must be within [0, 1]")
        self.k1 = float(np.float32(k1))
        self.b = float(np.float32(b))

    def scaled_boost(self, boost) -> np.float32:
        """The float32 boost the weight multiplies with idf."""
        return np.float32(boost)

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        w = np.float32(self.scaled_boost(boost) * bm25.idf(df, doc_count))
        return self.weight_params(w, doc_count, sum_ttf)

    def weight_params(self, weight, doc_count, sum_ttf) -> tuple:
        """Params that score ``f32(weight·t)`` for a precomputed weight."""
        return (float(weight), float(bm25.avg_field_length(sum_ttf, doc_count)))

    def score(self, w, avgdl, tfs, norms):
        if len(tfs) == 0:
            return np.empty(0, np.float32)
        cache = bm25.norm_cache(np.float32(avgdl[0]), self.k1, self.b)
        return bm25.score_tf_norm(tfs, norms, np.asarray(w, dtype=np.float32), cache)


class ClassicSimilarity(Similarity):
    name = "classic"

    def __init__(self):
        lt = _length_table()
        with np.errstate(divide="ignore"):
            nt = (1.0 / np.sqrt(lt)).astype(np.float32)
        nt[0] = np.float32(1.0) / nt[255]
        self._norm_table = nt

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        idf = np.float32(np.log((doc_count + 1) / float(df + 1)) + 1.0)
        return (float(np.float32(np.float32(boost) * idf)), 0.0)

    def score(self, w1, w2, tfs, norms):
        tf32 = np.sqrt(tfs.astype(np.float64)).astype(np.float32)
        raw = (tf32 * w1.astype(np.float32)).astype(np.float32)
        return (raw * self._norm_table[norms]).astype(np.float32)


class BooleanSimilarity(Similarity):
    name = "boolean"

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        return (float(np.float32(boost)), 0.0)

    def score(self, w1, w2, tfs, norms):
        return np.broadcast_to(w1.astype(np.float32), tfs.shape).copy()


class LMDirichletSimilarity(Similarity):
    name = "lm_dirichlet"

    def __init__(self, mu: float = 2000.0):
        self.mu = float(np.float32(mu))
        self._length_table = _length_table()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        p_c = (float(ttf) + 1.0) / (float(sum_ttf) + 1.0)
        return (float(boost), p_c)

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        s = w1 * (
            np.log1p(tfs.astype(np.float64) / (self.mu * w2))
            + np.log(self.mu / (dl + self.mu))
        )
        return np.maximum(s, 0.0).astype(np.float32)


class LMJelinekMercerSimilarity(Similarity):
    """Jelinek-Mercer smoothed language model: double-precision
    ``score_d = boost * ln(1 + ((1-λ)·tf/dl) / (λ·p_c))`` cast to float32
    (``LMJelinekMercerSimilarity.java:63-69``, ``SimilarityBase.java:228``);
    ``p_c = (ttf+1)/(sumTotalTermFreq+1)`` (``LMSimilarity.java:154-156``),
    ``dl = byte4ToInt(norm)`` via LENGTH_TABLE.  Monotone ↑tf / ↓dl ⇒
    block-max pruning sound."""

    name = "lm_jelinek_mercer"

    def __init__(self, lam: float = 0.7):
        if not (0.0 < lam <= 1.0):
            raise ValueError("lambda must be in (0, 1]")
        self.lam = float(np.float32(lam))
        self._length_table = _length_table()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        p_c = (float(ttf) + 1.0) / (float(sum_ttf) + 1.0)
        return (float(boost), p_c)

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        # Math.log(1 + x) literally (not log1p) — mirror Java's rounding
        s = w1 * np.log(1.0 + ((1.0 - self.lam) * tfs.astype(np.float64) / dl) / (self.lam * w2))
        return s.astype(np.float32)


class DFRInL2Similarity(Similarity):
    """DFR I(n)L2 — BasicModelIn + AfterEffectL + NormalizationH2(c=1):
    ``tfn = tf · log2(1 + c·avgdl/dl)`` (``NormalizationH2.java:58-60``),
    ``score_d = boost · A · (1 − 1/(1+tfn))`` with
    ``A = log2((N+1)/(df+0.5))`` and aeTimes1pTfn = 1
    (``BasicModelIn.java:33-44``, ``AfterEffectL.java:32-34``,
    ``DFRSimilarity.java:110-114``), float32 cast at the end
    (``SimilarityBase.java:228``).  ``avgdl = sumTotalTermFreq/docCount``
    in double (``SimilarityBase.java:117-119`` fillBasicStats).  Monotone
    ↑tf / ↓dl ⇒ block-max pruning sound.

    boost is folded into w1 = boost·A; for boost == 1 (the contract
    queries) this is bit-identical to the reference's boost·(A·x)."""

    name = "dfr_inl2"

    def __init__(self, c: float = 1.0):
        self.c = float(c)
        self._length_table = _length_table()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        avgdl = float(sum_ttf) / float(doc_count)
        a = np.log((doc_count + 1) / (float(df) + 0.5)) / _LOG_2
        return (float(boost) * float(a), avgdl)

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        tfn = tfs.astype(np.float64) * (np.log(1.0 + self.c * w2 / dl) / _LOG_2)
        s = w1 * (1.0 - 1.0 / (1.0 + tfn))
        return s.astype(np.float32)


class DFIChiSquaredSimilarity(Similarity):
    """DFI (Divergence From Independence) with the chi-squared measure:
    ``expected = (ttf+1)·dl/(sumTotalTermFreq+1)``; score 0 when
    ``tf <= expected``, else ``boost · log2((tf-expected)²/expected + 1)``
    in double, float32 cast at the end (``DFISimilarity.java:56-66``,
    ``IndependenceChiSquared.java:36-39``, ``SimilarityBase.java:228``).

    Monotone for pruning: above the zero region, ↑tf ↑score, and ↓dl →
    ↓expected → ↑measure (∂/∂e[(f-e)²/e] = -(f-e)(f+e)/e² < 0 for f > e),
    so the per-block (max_tf, min_norm) upper bound stays sound."""

    name = "dfi_chi2"

    def __init__(self):
        self._length_table = _length_table()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        return (float(boost), (float(ttf) + 1.0) / (float(sum_ttf) + 1.0))

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        expected = w2 * dl
        freq = tfs.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            measure = (freq - expected) * (freq - expected) / expected
            s = w1 * (np.log(measure + 1.0) / _LOG_2)
        return np.where(freq <= expected, 0.0, s).astype(np.float32)


class IBLLSimilarity(Similarity):
    """Information-Based similarity IB(LL, lambda=DF, H2(c)): log-logistic
    distribution ``score_d = boost · (−ln(λ/(tfn+λ)))`` with
    ``λ = f32((df+1)/(N+1))`` nudged below 1 when it equals 1
    (``LambdaDF.java:32-39``), ``tfn = tf·log2(1 + c·avgdl/dl)``
    (``NormalizationH2.java:58-60``), float32 cast at the end
    (``IBSimilarity.java:99-105``, ``DistributionLL.java:33-36``).

    avgdl is a collection constant, not a per-term one; ``term_params`` (run
    on the driver during Weight construction, strictly before the scoring
    closure captures this object) stashes it on the instance so the two
    per-term slots stay (boost, λ). Monotone ↑tf / ↓dl ⇒ pruning sound."""

    name = "ib_ll"

    def __init__(self, c: float = 1.0):
        self.c = float(c)
        self._length_table = _length_table()
        self._avgdl = None

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._avgdl = float(sum_ttf) / float(doc_count)
        lam = np.float32((float(df) + 1.0) / (float(doc_count) + 1.0))
        if lam == np.float32(1.0):
            lam = np.nextafter(lam, np.float32(0.0), dtype=np.float32)
        return (float(boost), float(lam))

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        tfn = tfs.astype(np.float64) * (np.log(1.0 + self.c * self._avgdl / dl) / _LOG_2)
        s = w1 * -np.log(w2 / (tfn + w2))
        return s.astype(np.float32)


class _AxiomaticF2(Similarity):
    """Axiomatic retrieval, F2 family (``Axiomatic.java:104-112``): per-doc
    ``score_d = tf · ln · tfln · idf − gamma`` with tf = ln = 1, gamma = 0 and
    ``tfln = freq/(freq + s + s·dl/avgdl)`` (``AxiomaticF2EXP.java:78``,
    ``AxiomaticF2LOG.java:70``); then ``score_d *= boost`` and
    ``max(0, score_d)``, float32 cast at the end (``SimilarityBase.java:228``).
    Defaults s=0.25, k=0.35 (``Axiomatic.java:99-101``); ``dl =
    byte4ToInt(norm)`` via LENGTH_TABLE, ``avgdl = sumTotalTermFreq/docCount``
    in double.  idf is a per-term constant folded into ``w1 = boost·idf``
    (exact for boost = 1; multiplication is commutative in IEEE-754).
    Monotone ↑tf / ↓dl ⇒ block-max pruning sound."""

    def __init__(self, s: float = 0.25):
        if not (0.0 <= s <= 1.0):
            raise ValueError("s must be within [0, 1]")
        self.s = float(np.float32(s))
        self._length_table = _length_table()

    def _idf(self, df, doc_count):
        raise NotImplementedError

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        avgdl = float(sum_ttf) / float(doc_count)
        return (float(boost) * float(self._idf(df, doc_count)), avgdl)

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        f = tfs.astype(np.float64)
        tfln = f / (f + self.s + self.s * dl / w2)
        return np.maximum(w1 * tfln, 0.0).astype(np.float32)


class AxiomaticF2EXPSimilarity(_AxiomaticF2):
    """F2EXP: ``idf = pow((N+1)/df, k)`` (``AxiomaticF2EXP.java:86``)."""

    name = "axiomatic_f2exp"

    def __init__(self, s: float = 0.25, k: float = 0.35):
        super().__init__(s)
        if not (0.0 <= k <= 1.0):
            raise ValueError("k must be within [0, 1]")
        self.k = float(np.float32(k))

    def _idf(self, df, doc_count):
        return np.power((doc_count + 1.0) / float(df), self.k)


class AxiomaticF2LOGSimilarity(_AxiomaticF2):
    """F2LOG: ``idf = ln((N+1)/df)`` (``AxiomaticF2LOG.java:78``)."""

    name = "axiomatic_f2log"

    def _idf(self, df, doc_count):
        return np.log((doc_count + 1.0) / float(df))


# --------------------------------------------------------------------------
# Composable SimilarityBase framework: DFR(basic model, after-effect,
# normalization), IB(distribution, lambda, normalization), DFI(independence),
# Axiomatic F1/F3 — the full pluggable family of the reference
# (``search/similarities/``). Every kernel is double precision with one
# float32 cast at the end (``SimilarityBase.java:228``) and boost applied as
# the reference does (multiplied into the model score, not folded into a
# per-term product — exact for boost = 1, the contract configuration).
# All kernels are monotone ↑tf / ↓dl, so block-max pruning stays sound.


class Normalization:
    """Second (length) normalization: tf -> tfn (``Normalization.java``).
    ``term_param`` resolves the one per-term scalar H3 needs (0 elsewhere);
    ``tfn`` is the vectorized kernel over (tf, dl) with the collection
    ``avgdl`` threaded in."""

    def term_param(self, ttf, sum_ttf) -> float:
        return 0.0

    def tfn(self, tf, dl, avgdl, ntp):
        raise NotImplementedError


class NormalizationH1(Normalization):
    """``tfn = tf · c · (avgdl/dl)`` (``NormalizationH1.java:56-58``, c=1)."""

    def __init__(self, c: float = 1.0):
        self.c = float(np.float32(c))

    def tfn(self, tf, dl, avgdl, ntp):
        return tf * self.c * (avgdl / dl)


class NormalizationH2(Normalization):
    """``tfn = tf · log2(1 + c·avgdl/dl)`` (``NormalizationH2.java:58-60``)."""

    def __init__(self, c: float = 1.0):
        self.c = float(np.float32(c))

    def tfn(self, tf, dl, avgdl, ntp):
        return tf * (np.log(1.0 + self.c * avgdl / dl) / _LOG_2)


class NormalizationH3(Normalization):
    """Dirichlet-prior normalization ``tfn = (tf + μ·r32)/(dl + μ)·μ`` with the
    float32 collection ratio ``r32 = f32(f32(ttf+1f)/f32(sumttf+1f))``
    (``NormalizationH3.java:48-50`` — the ``+1F`` literals make the inner
    ratio single-precision); μ default 800 (``:33``)."""

    def __init__(self, mu: float = 800.0):
        self.mu = float(np.float32(mu))

    def term_param(self, ttf, sum_ttf) -> float:
        r32 = (np.float32(ttf) + np.float32(1.0)) / (np.float32(sum_ttf) + np.float32(1.0))
        return float(np.float32(np.float32(self.mu) * r32))

    def tfn(self, tf, dl, avgdl, ntp):
        return (tf + ntp) / (dl + self.mu) * self.mu


class NormalizationZ(Normalization):
    """Pareto-Zipf ``tfn = tf · pow(avgdl/dl, z)`` (``NormalizationZ.java:49-51``,
    z default 0.30f ``:33``)."""

    def __init__(self, z: float = 0.30):
        self.z = float(np.float32(z))

    def tfn(self, tf, dl, avgdl, ntp):
        return tf * np.power(avgdl / dl, self.z)


class NoNormalization(Normalization):
    """Identity tfn (``Normalization.java`` NoNormalization: tfn = tf)."""

    def tfn(self, tf, dl, avgdl, ntp):
        return tf


class BasicModel:
    """DFR information-content model (``BasicModel.java``): per-term
    ``params(df, ttf, N, ae) -> (p1, p2, p3)`` on the driver and the
    vectorized ``vec(tfn, p1, p2, p3)`` kernel, already combined with the
    after-effect factor ``ae`` exactly as the reference's rewritten
    ``score(stats, tfn, aeTimes1pTfn)``."""

    def params(self, df, ttf, doc_count, ae):
        raise NotImplementedError

    def vec(self, tfn, p1, p2, p3):
        raise NotImplementedError


class _BasicModelA(BasicModel):
    """Shared shape ``A · ae · (1 − 1/(1+tfn))`` for In/I(F)/I(ne)
    (``BasicModelIn.java:32-43``, ``BasicModelIF.java:34-45``,
    ``BasicModelIne.java:34-46``)."""

    def _a(self, df, ttf, doc_count):
        raise NotImplementedError

    def params(self, df, ttf, doc_count, ae):
        return (float(self._a(df, ttf, doc_count)), float(ae), 0.0)

    def vec(self, tfn, p1, p2, p3):
        return p1 * p2 * (1.0 - 1.0 / (1.0 + tfn))


class BasicModelIn(_BasicModelA):
    """``A = log2((N+1)/(df+0.5))`` (``BasicModelIn.java:35``)."""

    def _a(self, df, ttf, doc_count):
        return np.log((doc_count + 1) / (df + 0.5)) / _LOG_2


class BasicModelIF(_BasicModelA):
    """``A = log2(1 + (N+1)/(F+0.5))`` with F = ttf (``BasicModelIF.java:37``)."""

    def _a(self, df, ttf, doc_count):
        return np.log(1.0 + (doc_count + 1) / (ttf + 0.5)) / _LOG_2


class BasicModelIne(_BasicModelA):
    """``ne = N·(1 − ((N−1)/N)^F)``, ``A = log2((N+1)/(ne+0.5))``
    (``BasicModelIne.java:34-39``)."""

    def _a(self, df, ttf, doc_count):
        n = float(doc_count)
        ne = n * (1.0 - np.power((doc_count - 1) / n, float(ttf)))
        return np.log((doc_count + 1) / (ne + 0.5)) / _LOG_2


class BasicModelG(BasicModel):
    """Geometric approximation (``BasicModelG.java:36-50``): λ = F/(N+F) with
    F = ttf+1, A = log2(λ+1), B = log2((1+λ)/λ), score =
    ``(B − (B−A)/(1+tfn)) · ae``."""

    def params(self, df, ttf, doc_count, ae):
        f = float(ttf + 1)
        lam = f / (doc_count + f)
        a = np.log(lam + 1.0) / _LOG_2
        b = np.log((1.0 + lam) / lam) / _LOG_2
        return (float(b), float(b - a), float(ae))

    def vec(self, tfn, p1, p2, p3):
        return (p1 - p2 / (1.0 + tfn)) * p3


class AfterEffectL:
    """First normalization L: aeTimes1pTfn = 1 (``AfterEffectL.java:32-34``)."""

    def ae(self, df, ttf) -> float:
        return 1.0


class AfterEffectB:
    """Bernoulli after-effect: ``aeTimes1pTfn = (F+1)/n`` with F = ttf+1,
    n = df+1 (``AfterEffectB.java:32-36``)."""

    def ae(self, df, ttf) -> float:
        return ((ttf + 1) + 1.0) / (df + 1)


class DFRSimilarity(Similarity):
    """Composable DFR (``DFRSimilarity.java:98-114``): ``score =
    boost · basicModel.score(stats, tfn, aeTimes1pTfn)`` with tfn from the
    normalization, float32 cast at the end. Slots: (boost, p1, p2, p3, ntp).
    The hardwired :class:`DFRInL2Similarity` fast path predates this and is
    bit-identical to ``DFRSimilarity(BasicModelIn(), AfterEffectL(),
    NormalizationH2(1))`` for boost = 1 (property-tested)."""

    n_params = 5

    def __init__(self, basic_model: BasicModel, after_effect, normalization: Normalization):
        self.model = basic_model
        self.norm = normalization
        self.after = after_effect
        self._length_table = _length_table()
        self._avgdl = None
        self.name = "dfr_{}_{}_{}".format(
            type(basic_model).__name__, type(after_effect).__name__, type(normalization).__name__
        ).lower()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._avgdl = float(sum_ttf) / float(doc_count)
        ae = self.after.ae(df, ttf)
        p1, p2, p3 = self.model.params(df, ttf, doc_count, ae)
        return (float(boost), p1, p2, p3, self.norm.term_param(ttf, sum_ttf))

    def score(self, w1, w2, w3, w4, w5, tfs, norms):
        dl = self._length_table[norms]
        tfn = self.norm.tfn(tfs.astype(np.float64), dl, self._avgdl, w5)
        return (w1 * self.model.vec(tfn, w2, w3, w4)).astype(np.float32)


class DistributionLL:
    """Log-logistic: ``−ln(λ/(tfn+λ))`` (``DistributionLL.java:33-36``)."""

    def vec(self, tfn, lam):
        return -np.log(lam / (tfn + lam))


class DistributionSPL:
    """Smoothed power-law (``DistributionSPL.java:36-59``): ``q = 1−1/(tfn+1)``
    (nextDown(1.0) if it rounds to 1), ``pow = λ^q`` nudged one ulp off λ when
    rounding collapses them, ``−ln((pow−λ)/(1−λ))``."""

    def vec(self, tfn, lam):
        q = 1.0 - 1.0 / (tfn + 1.0)
        q = np.where(q == 1.0, np.nextafter(1.0, 0.0), q)
        p = np.power(lam, q)
        collide = p == lam
        if np.any(collide):
            nudged = np.where(lam < 1.0, np.nextafter(lam, np.inf), np.nextafter(lam, -np.inf))
            p = np.where(collide, nudged, p)
        return -np.log((p - lam) / (1.0 - lam))


class LambdaDF:
    """``λ = f32((df+1)/(N+1))``, nextDown'd off 1 (``LambdaDF.java:32-39``)."""

    def lam(self, df, ttf, doc_count) -> float:
        lam = np.float32((df + 1.0) / (doc_count + 1.0))
        if lam == np.float32(1.0):
            lam = np.nextafter(lam, np.float32(0.0), dtype=np.float32)
        return float(lam)


class LambdaTTF:
    """``λ = f32((ttf+1)/(N+1))``, nextUp'd off 1 (``LambdaTTF.java:32-38``)."""

    def lam(self, df, ttf, doc_count) -> float:
        lam = np.float32((ttf + 1.0) / (doc_count + 1.0))
        if lam == np.float32(1.0):
            lam = np.nextafter(lam, np.float32(2.0), dtype=np.float32)
        return float(lam)


class IBSimilarity(Similarity):
    """Composable information-based similarity (``IBSimilarity.java:99-105``):
    ``score = boost · distribution.score(stats, tfn, λ)``. Slots:
    (boost, λ, ntp). :class:`IBLLSimilarity` is the pre-existing hardwired
    IB(LL, DF, H2(1)) fast path, bit-identical for boost = 1."""

    n_params = 3

    def __init__(self, distribution, lambda_, normalization: Normalization):
        self.dist = distribution
        self.lambda_ = lambda_
        self.norm = normalization
        self._length_table = _length_table()
        self._avgdl = None
        self.name = "ib_{}_{}_{}".format(
            type(distribution).__name__, type(lambda_).__name__, type(normalization).__name__
        ).lower()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._avgdl = float(sum_ttf) / float(doc_count)
        return (float(boost), self.lambda_.lam(df, ttf, doc_count), self.norm.term_param(ttf, sum_ttf))

    def score(self, w1, w2, w3, tfs, norms):
        dl = self._length_table[norms]
        tfn = self.norm.tfn(tfs.astype(np.float64), dl, self._avgdl, w3)
        return (w1 * self.dist.vec(tfn, w2)).astype(np.float32)


class IndependenceChiSquared:
    """``(f−e)²/e`` (``IndependenceChiSquared.java:36-38``)."""

    def vec(self, freq, expected):
        return (freq - expected) * (freq - expected) / expected


class IndependenceSaturated:
    """``(f−e)/e`` (``IndependenceSaturated.java:35-36``)."""

    def vec(self, freq, expected):
        return (freq - expected) / expected


class IndependenceStandardized:
    """``(f−e)/√e`` (``IndependenceStandardized.java:37-38``)."""

    def vec(self, freq, expected):
        return (freq - expected) / np.sqrt(expected)


class DFISimilarity(Similarity):
    """Composable divergence-from-independence (``DFISimilarity.java:55-65``):
    ``expected = ((ttf+1)·dl)/(sumTotalTermFreq+1)`` — the reference's exact
    left-associated order — 0 when ``f <= expected`` else ``boost ·
    log2(measure+1)``. Slots: (boost, ttf+1); sumttf+1 is a collection
    constant stashed at Weight time. The pre-existing
    :class:`DFIChiSquaredSimilarity` keeps its historical (pc·dl) expected
    grouping; this class matches the reference bit-for-bit."""

    n_params = 2

    def __init__(self, independence):
        self.independence = independence
        self._length_table = _length_table()
        self._sttf1 = None
        self.name = "dfi_{}".format(type(independence).__name__).lower()

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._sttf1 = float(sum_ttf) + 1.0
        return (float(boost), float(ttf) + 1.0)

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        freq = tfs.astype(np.float64)
        expected = w2 * dl / self._sttf1
        with np.errstate(divide="ignore", invalid="ignore"):
            measure = self.independence.vec(freq, expected)
            s = w1 * (np.log(measure + 1.0) / _LOG_2)
        return np.where(freq <= expected, 0.0, s).astype(np.float32)


class _AxiomaticF1(Similarity):
    """Axiomatic F1 family (``AxiomaticF1EXP.java:60-90``,
    ``AxiomaticF1LOG.java:50-80``): ``tf = 1 + ln(1 + ln(freq+1))``,
    ``ln = (avgdl+s)/(avgdl + dl·s)``, tfln = 1, gamma = 0 →
    ``score = f32(max(0, ((tf·ln)·idf)·boost))`` (``Axiomatic.java:103-112``).
    Slots: (idf, boost); avgdl stashed at Weight time."""

    def __init__(self, s: float = 0.25):
        if not (0.0 <= s <= 1.0):
            raise ValueError("s must be within [0, 1]")
        self.s = float(np.float32(s))
        self._length_table = _length_table()
        self._avgdl = None

    def _idf(self, df, doc_count):
        raise NotImplementedError

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._avgdl = float(sum_ttf) / float(doc_count)
        return (float(self._idf(df, doc_count)), float(boost))

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        t = 1.0 + np.log(1.0 + np.log(tfs.astype(np.float64) + 1.0))
        ln = (self._avgdl + self.s) / (self._avgdl + dl * self.s)
        return np.maximum(((t * ln) * w1) * w2, 0.0).astype(np.float32)


class AxiomaticF1EXPSimilarity(_AxiomaticF1):
    """F1EXP: ``idf = pow((N+1)/df, k)`` (``AxiomaticF1EXP.java:86-88``)."""

    name = "axiomatic_f1exp"

    def __init__(self, s: float = 0.25, k: float = 0.35):
        super().__init__(s)
        if not (0.0 <= k <= 1.0):
            raise ValueError("k must be within [0, 1]")
        self.k = float(np.float32(k))

    def _idf(self, df, doc_count):
        return np.power((doc_count + 1.0) / float(df), self.k)


class AxiomaticF1LOGSimilarity(_AxiomaticF1):
    """F1LOG: ``idf = ln((N+1)/df)`` (``AxiomaticF1LOG.java:77-79``)."""

    name = "axiomatic_f1log"

    def _idf(self, df, doc_count):
        return np.log((doc_count + 1.0) / float(df))


class _AxiomaticF3(Similarity):
    """Axiomatic F3 family (``AxiomaticF3EXP.java:58-95``,
    ``AxiomaticF3LOG.java:45-82``): ``tf = 1 + ln(1 + ln(freq+1))``,
    ln = tfln = 1, ``gamma = (((dl−queryLen)·s)·queryLen)/avgdl`` →
    ``score = f32(max(0, (t·idf − gamma)·boost))``. F3 requires an explicit
    queryLen (the reference offers no default constructor)."""

    def __init__(self, s: float, query_len: int):
        if not (0.0 <= s <= 1.0):
            raise ValueError("s must be within [0, 1]")
        if query_len < 0:
            raise ValueError("illegal query length")
        self.s = float(np.float32(s))
        self.query_len = int(query_len)
        self._length_table = _length_table()
        self._avgdl = None

    def _idf(self, df, doc_count):
        raise NotImplementedError

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        self._avgdl = float(sum_ttf) / float(doc_count)
        return (float(self._idf(df, doc_count)), float(boost))

    def score(self, w1, w2, tfs, norms):
        dl = self._length_table[norms]
        t = 1.0 + np.log(1.0 + np.log(tfs.astype(np.float64) + 1.0))
        gamma = (dl - self.query_len) * self.s * self.query_len / self._avgdl
        return np.maximum((t * w1 - gamma) * w2, 0.0).astype(np.float32)


class AxiomaticF3EXPSimilarity(_AxiomaticF3):
    """F3EXP: ``idf = pow((N+1)/df, k)`` (``AxiomaticF3EXP.java:84-86``)."""

    name = "axiomatic_f3exp"

    def __init__(self, s: float = 0.25, query_len: int = 1, k: float = 0.35):
        super().__init__(s, query_len)
        if not (0.0 <= k <= 1.0):
            raise ValueError("k must be within [0, 1]")
        self.k = float(np.float32(k))

    def _idf(self, df, doc_count):
        return np.power((doc_count + 1.0) / float(df), self.k)


class AxiomaticF3LOGSimilarity(_AxiomaticF3):
    """F3LOG: ``idf = ln((N+1)/df)`` (``AxiomaticF3LOG.java:73-75``)."""

    name = "axiomatic_f3log"

    def __init__(self, s: float = 0.25, query_len: int = 1):
        super().__init__(s, query_len)

    def _idf(self, df, doc_count):
        return np.log((doc_count + 1.0) / float(df))


class LegacyBM25Similarity(BM25Similarity):
    """LegacyBM25Similarity (``reference lucene/misc/src/java/org/apache/
    lucene/search/similarity/LegacyBM25Similarity.java:66-68``): classic BM25
    WITH the (k1+1) numerator — implemented exactly as the reference does, by
    delegating to the BM25 scorer with ``boost * (1 + k1)`` (float
    arithmetic), so scores are the engine's BM25 scores scaled by f32(1+k1)
    and ranks are identical."""

    name = "legacy_bm25"

    def scaled_boost(self, boost) -> np.float32:
        return np.float32(boost) * (np.float32(1.0) + np.float32(self.k1))


class MultiSimilarity(Similarity):
    """MultiSimilarity (``reference search/similarities/MultiSimilarity.java:
    50-71``): the float32 RUNNING SUM of the sub-similarities' scores for the
    same (freq, norm) — each sub-scorer built with the same boost/stats. The
    n-slot plumbing concatenates the subs' term-param tuples."""

    def __init__(self, sims: list):
        if not sims:
            raise ValueError("need at least one sub-similarity")
        self.sims = list(sims)
        self.n_params = sum(s.n_params for s in self.sims)
        self.name = "multi(" + ",".join(s.name for s in self.sims) + ")"

    def term_params(self, boost, df, ttf, doc_count, sum_ttf):
        out = []
        for s in self.sims:
            out.extend(s.term_params(boost, df, ttf, doc_count, sum_ttf))
        return tuple(out)

    def score(self, *args):
        ws, tfs, norms = args[:-2], args[-2], args[-1]
        acc = None
        i = 0
        for s in self.sims:
            k = s.n_params
            sub = s.score(*ws[i : i + k], tfs, norms).astype(np.float32)
            acc = sub if acc is None else (acc + sub).astype(np.float32)
            i += k
        return acc


class SweetSpotSimilarity(ClassicSimilarity):
    """SweetSpotSimilarity (``reference lucene/misc/src/java/org/apache/
    lucene/misc/SweetSpotSimilarity.java:39,115-133``): ClassicSimilarity
    with a plateau length norm — documents whose length falls inside
    [ln_min, ln_max] get norm 1, lengths outside decay hyperbolically:
    ``lengthNorm = f32(1/sqrt(f32(f32(steepness) · f32(|L−min|+|L−max|
    −(max−min))) + 1f))`` over the byte4-decoded length, norm table built per
    TFIDFSimilarity.scorer (``TFIDFSimilarity.java:519-525``, index 0 =
    1/normTable[255]).  tf/idf inherit ClassicSimilarity (default baselineTf
    configuration).  Norm is non-increasing only ABOVE ln_max; block-max
    pruning assumes monotone ↓dl, which holds whenever ln_min <= the minimum
    real document length — the searcher's prune pre-pass stays sound for the
    contract configuration (ln_min=1); for larger ln_min disable pruning."""

    name = "sweetspot"

    def __init__(self, ln_min: int = 1, ln_max: int = 1, steepness: float = 0.5):
        lengths = _length_table().astype(np.int64)
        iarg = np.abs(lengths - ln_min) + np.abs(lengths - ln_max) - (ln_max - ln_min)
        s32 = np.float32(steepness)
        arg32 = (s32 * iarg.astype(np.float32)).astype(np.float32) + np.float32(1.0)
        nt = (1.0 / np.sqrt(arg32.astype(np.float64))).astype(np.float32)
        nt[0] = np.float32(1.0) / nt[255]
        self._norm_table = nt
