"""Pluggable Similarity models (SURVEY.md section 2.11): the reference
ships 14 models behind a common scoring seam (lucene/core/src/java/org/
apache/lucene/search/similarities/Similarity.java; SimilarityBase.java);
its wired default is the TFIDF DefaultSimilarity
(lucene/core/.../search/IndexSearcher.java:92,106). This module
re-expresses the seam for the vectorized kernels: a similarity is a
driver-side weight computation (per-term f32 values from global stats)
plus a numpy block scorer (tfs, norm_bytes) -> float32 scores.

Models:
  - "bm25"        BM25Similarity (the engine default; kernels inline it)
  - "classic"     TFIDFSimilarity/DefaultSimilarity
                  (TFIDFSimilarity.java; DefaultSimilarity.java):
                  idf = (float)(log(maxDoc/(double)(df+1)) + 1)
                  queryNorm = (float)(1/sqrt(sumOfSquaredWeights)),
                  f32 accumulation over clauses in clause order
                  (IndexSearcher.createNormalizedWeight); value =
                  (queryWeight*queryNorm)*idf; score(doc) =
                  f32(f32(sqrt(freq)) * value) * byte315ToFloat(norm);
                  coord = (float)(overlap/(double)maxOverlap) applied
                  per matching-clause count (TFIDFSimilarity.coord;
                  BooleanScorer2 coordinator).
  - "lmdirichlet" LMDirichletSimilarity (LMDirichletSimilarity.java,
                  mu=2000): score = (float)(log(1 + freq/(mu*p)) +
                  log(mu/(docLen+mu))), p = (cf+1)/(sumTTF+1),
                  docLen = quantized decoded length; coord = 1
                  (SimilarityBase keeps the Similarity default).

The norm BYTE is shared across models exactly as in the reference: all
of them encode boost/sqrt(length) with SmallFloat.floatToByte315 at
index time and decode their own view of it (BM25: 1/(f*f) = length;
classic: f itself; LM: length).

Block-max WAND stays BM25-only: the pruning bound is derived from
BM25's monotonicity; other models run the exhaustive (still
partition-parallel) path.

The kernels and ``explain`` see a model only through its spec (``spec``
builds it once per query on the driver; ``score_clause`` scores a
clause from it; ``coord_factors`` gives classic's coord): this module
is the one place that decides what each similarity name computes.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional

import numpy as np

from lucene_solr_spark.functions.smallfloat import (
    LENGTH_TABLE,
    byte315_to_float,
)

F32 = np.float32

# classic decode table: byte315ToFloat(i) (TFIDFSimilarity.decodeNormValue)
DECODE_TABLE = byte315_to_float(np.arange(256, dtype=np.uint8)).astype(
    np.float32
)

LMD_MU = 2000.0  # LMDirichletSimilarity default mu


def classic_idf(df: int, max_doc: int) -> np.float32:
    """DefaultSimilarity.idf (TFIDFSimilarity.java idf explanation):
    (float)(log(maxDoc/(double)(df+1)) + 1.0)."""
    return F32(math.log(max_doc / (df + 1.0)) + 1.0)


def classic_values(
    terms: List[str], dfs: Dict[str, int], max_doc: int
) -> Dict[str, float]:
    """Per-term classic weight value with the query-level normalization
    chain (IndexSearcher.createNormalizedWeight -> IDFStats.normalize):
    queryWeight = idf (boost 1); sumOfSquaredWeights accumulates f32 in
    clause order; queryNorm = (float)(1/sqrt((double)sum)); value =
    (queryWeight*queryNorm)*idf, each step f32."""
    idfs = {t: classic_idf(dfs[t], max_doc) for t in terms}
    ssw = F32(0.0)
    for t in terms:
        ssw = F32(ssw + F32(idfs[t] * idfs[t]))
    if ssw <= 0 or not np.isfinite(ssw):
        qn = F32(1.0)
    else:
        qn = F32(1.0 / math.sqrt(float(ssw)))
    return {
        t: float(F32(F32(idfs[t] * qn) * idfs[t])) for t in terms
    }


def classic_score_block(
    value: float, tfs: np.ndarray, norm_bytes: np.ndarray
) -> np.ndarray:
    """ExactTFIDFDocScorer.score: f32(sqrt(freq)) * value, then * decoded
    norm — f32 at every step."""
    tfw = np.sqrt(tfs.astype(np.float32)).astype(np.float32)
    raw = (tfw * F32(value)).astype(np.float32)
    return (raw * DECODE_TABLE[norm_bytes.astype(np.int64)]).astype(
        np.float32
    )


def classic_coords(max_coord: int) -> np.ndarray:
    """coordFactors[m] = (float)(m/(double)maxOverlap), m = 0..maxCoord
    (BooleanScorer2 coordinator / TFIDFSimilarity.coord)."""
    m = np.arange(max_coord + 1, dtype=np.float64)
    return (m / float(max_coord)).astype(np.float32)


LMJM_LAMBDA = 0.7  # LMJelinekMercerSimilarity lambda (long-query optimum
#                    per the class javadoc; the class has no default)
DFR_C = 1.0        # NormalizationH2 default c (NormalizationH2.java:47)
_LOG_2 = math.log(2.0)  # SimilarityBase.LOG_2 (precomputed double)


def avg_field_length(sum_ttf: int, max_doc: int) -> float:
    """SimilarityBase.fillBasicStats:127 — (float)numberOfFieldTokens /
    numberOfDocuments: both operands converted to f32, f32 division."""
    if sum_ttf <= 0:
        return 1.0
    return float(F32(F32(sum_ttf) / F32(max_doc)))


def dfr_score_block(
    df: int, cf: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """DFR GB2 = BasicModelG + AfterEffectB + NormalizationH2(c=1)
    (DFRSimilarity.java:108-112), boost = 1, stepwise types mirrored:

      tfn = (float)(tf * log2(1 + c*avgFL/len))   inner chain f32,
            log2 in double (NormalizationH2.java:52-54)
      lambda = (cf+1)/(N + cf+1)                  double
      G  = (float)(log2(lambda+1) + tfn*log2((1+lambda)/lambda))
           (BasicModelG.java:34-41)
      B  = (float)((cf+2) / ((df+1) * (tfn+1)))   f32 ops
           (AfterEffectB.java:32-36)
      score = f32(G * B)
    docLen is the quantized decoded length (SimilarityBase NORM_TABLE =
    1/(byte315ToFloat^2), :220-227)."""
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]  # f32 lengths
    arg = (F32(1.0) + (F32(DFR_C) * F32(avg_fl)) / ln).astype(np.float32)
    tfn = (
        tfs.astype(np.float64)
        * (np.log(arg.astype(np.float64)) / _LOG_2)
    ).astype(np.float32)
    Fd = float(cf + 1)
    N = float(max_doc)
    lam = Fd / (N + Fd)
    g = (
        math.log(lam + 1.0) / _LOG_2
        + tfn.astype(np.float64) * (math.log((1.0 + lam) / lam) / _LOG_2)
    ).astype(np.float32)
    b = (
        F32(cf + 2) / (F32(df + 1) * (tfn + F32(1.0)))
    ).astype(np.float32)
    return (g * b).astype(np.float32)


def dfr_inl2_score_block(
    df: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """DFR InL2 = BasicModelIn + AfterEffectL + NormalizationH2(c=1)
    (BasicModelIn.java: tfn * (float)log2((N+1)/(n+0.5));
    AfterEffectL.java: 1/(tfn+1); DFRSimilarity.score float product),
    boost = 1."""
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    arg = (F32(1.0) + (F32(DFR_C) * F32(avg_fl)) / ln).astype(np.float32)
    tfn = (
        tfs.astype(np.float64)
        * (np.log(arg.astype(np.float64)) / _LOG_2)
    ).astype(np.float32)
    w = F32(math.log((max_doc + 1) / (df + 0.5)) / _LOG_2)
    bm = (tfn * w).astype(np.float32)
    ae = (F32(1.0) / (tfn + F32(1.0))).astype(np.float32)
    return (bm * ae).astype(np.float32)


def ib_score_block(
    df: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """IB LL-D-H2 = DistributionLL + LambdaDF + NormalizationH2(c=1)
    (IBSimilarity.java score; DistributionLL.java:34 —
    (float)-log(lambda/(tfn+lambda)); LambdaDF.java:33 —
    (df+1F)/(N+1F), f32 ops), boost = 1. tfn as in DFR (H2)."""
    lam = F32(F32(df + 1.0) / F32(max_doc + 1.0))
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    arg = (F32(1.0) + (F32(DFR_C) * F32(avg_fl)) / ln).astype(np.float32)
    tfn = (
        tfs.astype(np.float64)
        * (np.log(arg.astype(np.float64)) / _LOG_2)
    ).astype(np.float32)
    x = (lam / (tfn + lam)).astype(np.float32)
    return (-np.log(x.astype(np.float64))).astype(np.float32)


def lmjm_p(cf: int, sum_ttf: int) -> float:
    """LMSimilarity.DefaultCollectionModel.computeProbability:153 —
    (cf+1F)/(sumTTF+1F), f32 operands and division."""
    return float(F32(F32(cf + 1.0) / F32(sum_ttf + 1.0)))


def lmjm_score_block(
    p: float, tfs: np.ndarray, norm_bytes: np.ndarray,
    lam: float = LMJM_LAMBDA,
) -> np.ndarray:
    """LMJelinekMercerSimilarity.score (LMJelinekMercerSimilarity.java
    :53-58), boost = 1: (float)log(1 + ((1-λ)*freq/docLen)/(λ*p)) —
    the ENTIRE log argument is an f32 chain (every operand is float in
    the reference), only the log itself runs in double."""
    lam32 = F32(lam)
    freq = tfs.astype(np.float32)
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    num = ((F32(1.0) - lam32) * freq / ln).astype(np.float32)
    den = F32(lam32 * F32(p))
    arg = (F32(1.0) + num / den).astype(np.float32)
    return np.log(arg.astype(np.float64)).astype(np.float32)


def lmd_p(cf: int, sum_ttf: int) -> float:
    """LMDirichletSimilarity collection model p = (F(w)+1)/(|C|+1)
    (LMSimilarity.DefaultCollectionModel)."""
    return (cf + 1.0) / (sum_ttf + 1.0)


def lmd_score_block(
    p: float, tfs: np.ndarray, norm_bytes: np.ndarray, mu: float = LMD_MU
) -> np.ndarray:
    """LMDirichletSimilarity.score (double math, cast to float):
    log(1 + freq/(mu*p)) + log(mu/(docLen+mu)). docLen = decoded
    quantized length (SimilarityBase.decodeNormValue)."""
    freq = tfs.astype(np.float64)
    doclen = LENGTH_TABLE[norm_bytes.astype(np.int64)].astype(np.float64)
    # log(1 + x), not log1p: mirrors the reference's Math.log(1 + ...)
    # and keeps the DuckDB oracle's ln(1 + x) argument bit-identical
    s = np.log(1.0 + freq / (mu * p)) + np.log(mu / (doclen + mu))
    return s.astype(np.float32)


def _h2_tfn(avg_fl: float, tfs: np.ndarray,
            norm_bytes: np.ndarray) -> np.ndarray:
    """NormalizationH2 (NormalizationH2.java:52-54, c=1):
    tfn = (float)(tf * log2(1 + c*avgFL/len)); the inner 1 + c*avg/len
    chain is f32, the log2 and the tf product run in double before the
    final f32 cast. len is the quantized decoded length
    (SimilarityBase NORM_TABLE)."""
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    arg = (F32(1.0) + (F32(DFR_C) * F32(avg_fl)) / ln).astype(np.float32)
    return (
        tfs.astype(np.float64)
        * (np.log(arg.astype(np.float64)) / _LOG_2)
    ).astype(np.float32)


def dfr_ifb2_score_block(
    df: int, cf: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """DFR IFB2 = BasicModelIF + AfterEffectB + NormalizationH2(c=1),
    boost = 1. BasicModelIF.java:32-36:
      w = tfn * (float)log2(1 + (N+1)/(F+0.5))   N=maxDoc, F=cf;
          (N+1)/(F+0.5) is a double division, log2 double, f32 cast,
          f32 product with tfn
    AfterEffectB.java (as in GB2): (F+2)/((df+1)*(tfn+1)) in f32 ops.
    score = f32(IF * B) (DFRSimilarity.score float product chain)."""
    tfn = _h2_tfn(avg_fl, tfs, norm_bytes)
    w = F32(math.log(1.0 + (max_doc + 1) / (cf + 0.5)) / _LOG_2)
    bm = (tfn * w).astype(np.float32)
    b = (
        F32(cf + 2) / (F32(df + 1) * (tfn + F32(1.0)))
    ).astype(np.float32)
    return (bm * b).astype(np.float32)


# BasicModelP.LOG2_E = log2(Math.E), a double constant
_LOG2_E = math.log(math.e) / _LOG_2


def dfr_pl2_score_block(
    cf: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """DFR PL2 = BasicModelP + AfterEffectL + NormalizationH2(c=1),
    boost = 1. BasicModelP.java:38-43 (type chain mirrored):
      lambda = (float)(F+1) / (N+1)              f32 division
      P = (float)(tfn * log2(tfn/lambda)         tfn/lambda in f32,
          + (lambda + 1/(12*tfn) - tfn) * LOG2_E    inner chain f32,
          + 0.5 * log2(2*pi*tfn))                all-double tail
    AfterEffectL.java: 1/(tfn+1) in f32.
    score = f32(P * L)."""
    tfn = _h2_tfn(avg_fl, tfs, norm_bytes)
    lam = F32(F32(cf + 1) / F32(max_doc + 1))
    ratio = (tfn / lam).astype(np.float32)
    inner = (lam + (F32(1.0) / (F32(12.0) * tfn)) - tfn).astype(np.float32)
    p = (
        tfn.astype(np.float64) * (np.log(ratio.astype(np.float64))
                                  / _LOG_2)
        + inner.astype(np.float64) * _LOG2_E
        + 0.5 * (np.log(2.0 * math.pi * tfn.astype(np.float64)) / _LOG_2)
    ).astype(np.float32)
    ae = (F32(1.0) / (tfn + F32(1.0))).astype(np.float32)
    return (p * ae).astype(np.float32)


# ---------------------------------------------------------------------------
# SimilarityBase composition framework — the FULL reference grid.
#
# The reference composes DFR and IB similarities from pluggable parts
# (DFRSimilarity.java ctor: BasicModel x AfterEffect x Normalization;
# IBSimilarity.java ctor: Distribution x Lambda x Normalization). The
# specialized *_score_block functions above are the hand-fused hot
# configs; this section re-expresses every part separately with the
# same stepwise float32/float64 type chains, so ANY reference
# combination is available by name:
#
#   "dfr:<model>:<effect>:<norm>"   model: be d g if in ine p
#                                   (BasicModelBE/D/G/IF/In/Ine/P.java)
#                                   effect: no l b  (AfterEffect.java)
#                                   norm:  no h1 h2 h3 z
#                                   (Normalization*.java)
#   "ib:<dist>:<lambda>:<norm>"     dist: ll spl; lambda: df ttf
#
# Normalization parameters are the reference defaults: H1/H2 c=1,
# H3 mu=800 (NormalizationH3.java:29), Z z=0.30 (NormalizationZ.java).
# Aliases: dfr == dfr:g:b:h2, dfr_inl2 == dfr:in:l:h2,
# dfr_ifb2 == dfr:if:b:h2, dfr_pl2 == dfr:p:l:h2, ib == ib:ll:df:h2,
# ib_spl == ib:spl:df:h2 (bit-exact equivalence is test-gated).
# ---------------------------------------------------------------------------

SB_MODELS = ("be", "d", "g", "if", "in", "ine", "p")
SB_EFFECTS = ("no", "l", "b")
SB_NORMS = ("no", "h1", "h2", "h3", "z")
SB_DISTS = ("ll", "spl")
SB_LAMBDAS = ("df", "ttf")
H3_MU = 800.0   # NormalizationH3.java:29 default
Z_Z = 0.30      # NormalizationZ.java default


def sb_parse(name: str):
    """Parse a composed similarity name; None if it isn't one."""
    parts = name.lower().split(":")
    if len(parts) != 4:
        return None
    fam = parts[0]
    if fam == "dfr":
        model, effect, norm = parts[1], parts[2], parts[3]
        if (model in SB_MODELS and effect in SB_EFFECTS
                and norm in SB_NORMS):
            return {"family": "dfr", "model": model, "effect": effect,
                    "norm": norm}
        return None
    if fam == "ib":
        dist, lam, norm = parts[1], parts[2], parts[3]
        if dist in SB_DISTS and lam in SB_LAMBDAS and norm in SB_NORMS:
            return {"family": "ib", "dist": dist, "lam": lam,
                    "norm": norm}
    return None


def sb_tfn(norm: str, avg_fl: float, cf: int, sum_ttf: int,
           tfs: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Normalization.tfn(stats, tf, len) — tf enters as float
    (SimilarityBase.score freq param); len is the quantized decoded
    length. Each variant mirrors its Java type chain exactly."""
    tf32 = tfs.astype(np.float32)
    if norm == "no":
        # NoNormalization (Normalization.java): tfn = tf
        return tf32
    if norm == "h1":
        # NormalizationH1.java: tf * avgFieldLength / len — pure f32
        # ops (note: the reference's H1 takes c but does not use it)
        return ((tf32 * F32(avg_fl)) / lens).astype(np.float32)
    if norm == "h2":
        # NormalizationH2.java:52-54 (c=1): inner 1 + c*avg/len chain
        # f32; log2 + tf product double; final f32 cast
        arg = (F32(1.0) + (F32(DFR_C) * F32(avg_fl)) / lens).astype(
            np.float32
        )
        return (
            tfs.astype(np.float64)
            * (np.log(arg.astype(np.float64)) / _LOG_2)
        ).astype(np.float32)
    if norm == "h3":
        # NormalizationH3.java: (tf + mu*((F+1F)/(T+1F))) / (len + mu)
        # * mu — every step f32 (all operands are float)
        mu = F32(H3_MU)
        cm = F32(F32(cf + 1.0) / F32(sum_ttf + 1.0))
        num = (tf32 + F32(mu * cm)).astype(np.float32)
        den = (lens + mu).astype(np.float32)
        return ((num / den) * mu).astype(np.float32)
    # NormalizationZ.java: (float)(tf * pow(avg/len, z)) — avg/len is
    # an f32 division; pow and the tf product run in double
    ratio = (F32(avg_fl) / lens).astype(np.float32)
    return (
        tfs.astype(np.float64)
        * np.power(ratio.astype(np.float64), float(Z_Z))
    ).astype(np.float32)


def sb_basic_model(model: str, df: int, cf: int, max_doc: int,
                   tfn: np.ndarray) -> np.ndarray:
    """BasicModel.score(stats, tfn) -> f32, per BasicModel*.java."""
    t64 = tfn.astype(np.float64)
    N = float(max_doc)
    if model == "be":
        # BasicModelBE.java: all-double chain, F = cf+1+tfn
        Fd = cf + 1.0 + t64
        Nd = Fd + N

        def f(n, m):
            return (m + 0.5) * (np.log(n / m) / _LOG_2) \
                + (n - m) * (np.log(n) / _LOG_2)

        s = (
            -(np.log((Nd - 1.0) * math.e) / _LOG_2)
            + f(Nd + Fd - 1.0, Nd + Fd - t64 - 2.0)
            - f(Fd, Fd - t64)
        )
        return s.astype(np.float32)
    if model == "d":
        # BasicModelD.java: all-double chain
        Fd = cf + 1.0 + t64
        phi = t64 / Fd
        nphi = 1.0 - phi
        p = 1.0 / (N + 1.0)
        D = phi * (np.log(phi / p) / _LOG_2) \
            + nphi * (np.log(nphi / (1.0 - p)) / _LOG_2)
        s = D * Fd + 0.5 * (
            np.log(1.0 + 2.0 * math.pi * t64 * nphi) / _LOG_2
        )
        return s.astype(np.float32)
    if model == "g":
        # BasicModelG.java: lambda = (F)/(N+F), F = cf+1, double chain
        Fd = float(cf + 1)
        lam = Fd / (N + Fd)
        s = (math.log(lam + 1.0) / _LOG_2) \
            + t64 * (math.log((1.0 + lam) / lam) / _LOG_2)
        return s.astype(np.float32)
    if model == "if":
        # BasicModelIF.java: tfn * (float)log2(1 + (N+1)/(F+0.5))
        w = F32(math.log(1.0 + (max_doc + 1) / (cf + 0.5)) / _LOG_2)
        return (tfn * w).astype(np.float32)
    if model == "in":
        # BasicModelIn.java: tfn * (float)log2((N+1)/(n+0.5))
        w = F32(math.log((max_doc + 1) / (df + 0.5)) / _LOG_2)
        return (tfn * w).astype(np.float32)
    if model == "ine":
        # BasicModelIne.java: ne = N*(1-((N-1)/N)^F) in double
        ne = N * (1.0 - math.pow((N - 1.0) / N, float(cf)))
        w = F32(math.log((max_doc + 1) / (ne + 0.5)) / _LOG_2)
        return (tfn * w).astype(np.float32)
    # BasicModelP.java: lambda f32; tfn/lambda f32 div; double tail
    lam = F32(F32(cf + 1) / F32(max_doc + 1))
    ratio = (tfn / lam).astype(np.float32)
    inner = (lam + (F32(1.0) / (F32(12.0) * tfn)) - tfn).astype(
        np.float32
    )
    s = (
        t64 * (np.log(ratio.astype(np.float64)) / _LOG_2)
        + inner.astype(np.float64) * _LOG2_E
        + 0.5 * (np.log(2.0 * math.pi * t64) / _LOG_2)
    )
    return s.astype(np.float32)


def sb_after_effect(effect: str, df: int, cf: int,
                    tfn: np.ndarray) -> np.ndarray:
    """AfterEffect.score(stats, tfn) -> f32 (AfterEffect*.java)."""
    if effect == "no":
        return np.ones_like(tfn, dtype=np.float32)
    if effect == "l":
        # AfterEffectL.java: 1/(tfn+1) — f32 ops
        return (F32(1.0) / (tfn + F32(1.0))).astype(np.float32)
    # AfterEffectB.java: (F+1)/(n*(tfn+1)), F = cf+1, n = df+1 —
    # long*(f32) then long/(f32), i.e. f32 mult + f32 div
    return (
        F32(cf + 2) / (F32(df + 1) * (tfn + F32(1.0)))
    ).astype(np.float32)


def sb_lambda(lam: str, df: int, cf: int, max_doc: int) -> np.float32:
    """Lambda.lambda(stats) -> f32 (LambdaDF/LambdaTTF.java)."""
    if lam == "df":
        return F32(F32(df + 1.0) / F32(max_doc + 1.0))
    return F32(F32(cf + 1.0) / F32(max_doc + 1.0))


def sb_distribution(dist: str, tfn: np.ndarray,
                    lam: np.float32) -> np.ndarray:
    """Distribution.score(stats, tfn, lambda) -> f32."""
    if dist == "ll":
        # DistributionLL.java: (float)-log(lambda/(tfn+lambda))
        x = (lam / (tfn + lam)).astype(np.float32)
        return (-np.log(x.astype(np.float64))).astype(np.float32)
    # DistributionSPL.java: lambda==1f -> 0.99f guard; tfn/(tfn+1)
    # f32; pow/sub/div/log tail double
    if lam == F32(1.0):
        lam = F32(0.99)
    expo = (tfn / (tfn + F32(1.0))).astype(np.float32)
    denom = float(F32(1.0) - lam)
    num = np.power(float(lam), expo.astype(np.float64)) - float(lam)
    return (-np.log(num / denom)).astype(np.float32)


def sb_score_block(
    p: dict, df: int, cf: int, max_doc: int, avg_fl: float,
    sum_ttf: int, tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """Composed SimilarityBase score (boost = 1):
    DFRSimilarity.score — f32(boost * model(tfn)) * effect(tfn);
    IBSimilarity.score  — f32(boost * dist(tfn, lambda))."""
    lens = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    tfn = sb_tfn(p["norm"], avg_fl, cf, sum_ttf, tfs, lens)
    if p["family"] == "dfr":
        bm = sb_basic_model(p["model"], df, cf, max_doc, tfn)
        ae = sb_after_effect(p["effect"], df, cf, tfn)
        return (bm * ae).astype(np.float32)
    lam = sb_lambda(p["lam"], df, cf, max_doc)
    return sb_distribution(p["dist"], tfn, lam)


def ib_spl_score_block(
    df: int, max_doc: int, avg_fl: float,
    tfs: np.ndarray, norm_bytes: np.ndarray,
) -> np.ndarray:
    """IB SPL-D-H2 = DistributionSPL + LambdaDF + NormalizationH2(c=1),
    boost = 1. DistributionSPL.java:34-40:
      lambda = f32((df+1)/(N+1))  (LambdaDF.java:33); 1f -> 0.99f guard
      score = (float)-log((pow(lambda, tfn/(tfn+1)) - lambda)
                          / (1 - lambda))
    tfn/(tfn+1) is an f32 division; 1 - lambda an f32 subtraction; the
    pow/sub/div/log tail runs in double."""
    lam = F32(F32(df + 1.0) / F32(max_doc + 1.0))
    if lam == F32(1.0):
        lam = F32(0.99)
    tfn = _h2_tfn(avg_fl, tfs, norm_bytes)
    expo = (tfn / (tfn + F32(1.0))).astype(np.float32)
    denom = float(F32(1.0) - lam)
    num = np.power(float(lam), expo.astype(np.float64)) - float(lam)
    return (-np.log(num / denom)).astype(np.float32)


# SweetSpotSimilarity (misc/SweetSpotSimilarity.java) — a classic-TFIDF
# variant with a baseline tf curve and a plateau length norm. Config is
# the Solr test schema's baseline setup (solr/core/src/test-files/
# solr/collection1/conf/schema-sweetspot.xml: baselineTfMin=6.0,
# baselineTfBase=1.5, lengthNormMin=3, lengthNormMax=5,
# lengthNormSteepness=0.5).
SS_TF_MIN = 6.0
SS_TF_BASE = 1.5
SS_LN_MIN = 3
SS_LN_MAX = 5
SS_LN_STEEP = 0.5


def sweetspot_norms(norm_bytes: np.ndarray) -> np.ndarray:
    """computeLengthNorm (SweetSpotSimilarity.java:137-153):
    f32(1.0f / sqrt(s*(|x-min|+|x-max|-(max-min)) + 1.0f)), the sqrt
    argument built in f32, the 1/sqrt division in double.
    DOCUMENTED DIVERGENCE: the reference applies this at INDEX time to
    the exact token count and stores byte315(norm); our index stores
    the classic norm byte, so x here is the byte315-quantized length
    (exact below ~40 tokens, quantized above). Oracle mirrors."""
    ln = LENGTH_TABLE[norm_bytes.astype(np.int64)]
    inner = (
        np.abs(ln - F32(SS_LN_MIN)) + np.abs(ln - F32(SS_LN_MAX))
        - F32(SS_LN_MAX - SS_LN_MIN)
    ).astype(np.float32)
    arg = (F32(SS_LN_STEEP) * inner + F32(1.0)).astype(np.float32)
    return (1.0 / np.sqrt(arg.astype(np.float64))).astype(np.float32)


def sweetspot_score_block(
    value: float, tfs: np.ndarray, norm_bytes: np.ndarray
) -> np.ndarray:
    """SweetSpot score = baselineTf(freq) * value * lengthNorm.
    baselineTf (SweetSpotSimilarity.java:178-186):
      freq <= min ? base : f32(sqrt(f32(freq + base*base - min)))
    with the sqrt running in double on the f32 inner chain; the
    weight/norm products are the classic ExactTFIDFDocScorer f32
    chain (TFIDFSimilarity.java)."""
    tf32 = tfs.astype(np.float32)
    inner = (
        tf32 + F32(SS_TF_BASE * SS_TF_BASE) - F32(SS_TF_MIN)
    ).astype(np.float32)
    with np.errstate(invalid="ignore"):  # sqrt branch unused for tf<=min
        tfw = np.where(
            tf32 <= F32(SS_TF_MIN),
            F32(SS_TF_BASE),
            np.sqrt(inner.astype(np.float64)).astype(np.float32),
        ).astype(np.float32)
    raw = (tfw * F32(value)).astype(np.float32)
    return (raw * sweetspot_norms(norm_bytes)).astype(np.float32)


# ---------------------------------------------------------------------------
# The similarity spec: what a named similarity computes, as data.
#
# A spec is None (BM25, which the kernels inline), {"subs": [...]} (a
# MultiSimilarity) or {"fn", "args", "tail", "coord"}: clause t scores
# fn(*args[t], tfs, norm_bytes, *tail); coord is classic's maxCoord
# (None: no coord). Specs pickle with the kernels (fn by module path).
# ---------------------------------------------------------------------------

# name -> (score block, its leading args from (df, cf, max_doc, avg_fl,
# sum_ttf), its trailing constants)
_STATS_MODELS = {
    "lmdirichlet": (lmd_score_block,
                    lambda df, cf, n, avg, ttf: (lmd_p(cf, ttf),),
                    (LMD_MU,)),
    "lmjelinekmercer": (lmjm_score_block,
                        lambda df, cf, n, avg, ttf: (lmjm_p(cf, ttf),),
                        (LMJM_LAMBDA,)),
    "dfr": (dfr_score_block,
            lambda df, cf, n, avg, ttf: (df, cf, n, avg), ()),
    "dfr_ifb2": (dfr_ifb2_score_block,
                 lambda df, cf, n, avg, ttf: (df, cf, n, avg), ()),
    "dfr_pl2": (dfr_pl2_score_block,
                lambda df, cf, n, avg, ttf: (cf, n, avg), ()),
    "dfr_inl2": (dfr_inl2_score_block,
                 lambda df, cf, n, avg, ttf: (df, n, avg), ()),
    "ib": (ib_score_block, lambda df, cf, n, avg, ttf: (df, n, avg), ()),
    "ib_spl": (ib_spl_score_block,
               lambda df, cf, n, avg, ttf: (df, n, avg), ()),
}


def spec(similarity: str, terms: List[str], dfs: Dict[str, int],
         cfs: Dict[str, int], max_doc: int, sum_ttf: int
         ) -> Optional[dict]:
    """The spec of ``similarity`` for one query's scoring ``terms``,
    from their global (df, cf) and the collection stats. ``multi:a+b``
    composes sub-similarities per MultiSimilarity (f32 score sum,
    MultiSimilarity.java:76-82); ``bm25`` (also inside a multi) is
    None, the kernels' inlined default."""
    if similarity == "bm25":
        return None
    if similarity.startswith("multi:"):
        names = similarity[len("multi:"):].split("+")
        if len(names) < 2:
            raise ValueError(f"multi needs >= 2 subs: {similarity!r}")
        return {"subs": [spec(n, terms, dfs, cfs, max_doc, sum_ttf)
                         for n in names]}
    coord = None
    tail: tuple = ()
    avg_fl = avg_field_length(sum_ttf, max_doc)
    sbp = sb_parse(similarity)
    if sbp is not None:
        # composed SimilarityBase grid (dfr:<model>:<effect>:<norm> /
        # ib:<dist>:<lambda>:<norm>): sb_score_block composes the parts
        fn = sb_score_block
        args = {t: (sbp, dfs[t], cfs[t], max_doc, avg_fl, sum_ttf)
                for t in terms}
    elif similarity in ("classic", "sweetspot"):
        # SweetSpotSimilarity: classic idf/queryNorm weight, its own tf
        # curve + plateau length norm in the score block, no coord
        values = classic_values(terms, dfs, max_doc)
        args = {t: (values[t],) for t in terms}
        if similarity == "classic":
            fn, coord = classic_score_block, len(terms)
        else:
            fn = sweetspot_score_block
    elif similarity in _STATS_MODELS:
        fn, lead, tail = _STATS_MODELS[similarity]
        args = {t: lead(dfs[t], cfs[t], max_doc, avg_fl, sum_ttf)
                for t in terms}
    else:
        raise ValueError(f"unknown similarity: {similarity}")
    return {"fn": fn, "args": args, "tail": tail, "coord": coord}


def score_clause(sp: Optional[dict], t: str, tfs: np.ndarray,
                 norm_bytes: np.ndarray, bm25) -> np.ndarray:
    """f32 scores of term ``t``'s clause at (tfs, norm_bytes) under
    spec ``sp`` — the SimScorer seam every kernel and ``explain``
    share. None is the caller's inlined BM25, ``bm25(t, tfs,
    norm_bytes)``; a multi is the f32 sum of its subs in order."""
    if sp is None:
        return bm25(t, tfs, norm_bytes)
    if "subs" in sp:
        acc = None
        for sub in sp["subs"]:
            s = score_clause(sub, t, tfs, norm_bytes, bm25)
            acc = s if acc is None else (acc + s).astype(np.float32)
        return acc
    return sp["fn"](*sp["args"][t], tfs, norm_bytes, *sp["tail"])


def coord_factors(sp: Optional[dict]) -> Optional[np.ndarray]:
    """coordFactors by matching-clause count when ``sp`` applies coord
    (classic, TFIDFSimilarity.coord), else None."""
    if sp is None or sp.get("coord") is None:
        return None
    return classic_coords(sp["coord"])
