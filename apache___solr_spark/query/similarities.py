"""Pluggable similarity factories (SURVEY §2.11 — "Similarity factories").

The reference registers one similarity per field type via factories in
solr/core/src/java/org/apache/solr/search/similarities/ —
BM25SimilarityFactory.java (the default since 8.0,
SchemaSimilarityFactory.java:57), ClassicSimilarityFactory.java,
LMDirichletSimilarityFactory.java, LMJelinekMercerSimilarityFactory.java,
BooleanSimilarityFactory.java — each wrapping the Lucene
org.apache.lucene.search.similarities class of the same name.

Here a :class:`Similarity` contributes two pure pieces the engine composes:

- ``weight(n_docs, df, cf, total_len)`` — the per-term statistic weight
  (idf for BM25/Classic, the collection language-model probability for the
  LM family, 1 for Boolean), computed once per query term on the driver
  from the aggregated dictionary row (df = doc freq, cf = collection
  freq).
- ``kernel(avgdl, dtype)`` — a vectorized numpy scoring closure
  ``f(weight, boost, tfs, dl) -> scores`` applied to each term leaf's
  decoded postings in the query kernel (query/engine.py:eval_tree), so
  switching similarity never changes the plan: same pruned read, same
  decode, same top-k.

Scoring formulas follow the Lucene javadocs exactly (float32 by default,
matching Lucene's float arithmetic; float64 when cfg.score_dtype says so):

- BM25(k1=1.2, b=0.75):  idf·tf / (tf + k1·(1-b + b·dl/avgdl)),
  idf = ln(1 + (N-df+0.5)/(df+0.5)).
- Classic (TFIDFSimilarity): sqrt(tf) · idf² · 1/sqrt(dl),
  idf = 1 + ln((N+1)/(df+1)).
- LMDirichlet(mu=2000):  max(0, log(1 + tf/(mu·p)) + log(mu/(dl+mu))),
  p = cf/total_len (the term's collection LM probability).
- LMJelinekMercer(lambda=0.7): log(1 + (1-λ)·tf/dl / (λ·p)).
- DFR InL2: log2((N+1)/(df+0.5)) · tfn/(1+tfn), tfn = tf·log2(1+avgdl/dl).
- Boolean: the boost, constant per matching term.

Engine integration notes:

- The index stores no score bounds, so no query path prunes by score.
  Bucket and salt pruning and term pushdown are score-independent and
  apply to every similarity.
- Phrase/span clauses score BM25-style (tf = phrase freq, summed idf);
  only BM25 declares ``supports_phrases`` — a phrase query under another
  similarity raises NotImplementedError instead of silently mixing
  formulas (documented divergence; the reference scores phrases through
  whichever similarity the field declares).
- ``dl`` is the SmallFloat-quantized doc length (the same norm byte
  Lucene's similarities read), so Classic's 1/sqrt(dl) and the LM doc-length
  terms see exactly what the reference sees.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

__all__ = [
    "Similarity",
    "BM25Similarity",
    "ClassicSimilarity",
    "DFRInL2Similarity",
    "DFISimilarity",
    "IBSimilarity",
    "LMDirichletSimilarity",
    "LMJelinekMercerSimilarity",
    "BooleanSimilarity",
    "RawTFSimilarity",
    "SweetSpotSimilarity",
    "get_similarity",
]


@dataclass(frozen=True)
class Similarity:
    """Base: subclasses override weight() and kernel()."""

    name: str = "base"
    # phrase/span scoring composes BM25 arithmetic (summed idf weights)
    supports_phrases: bool = False

    def weight(
        self, n_docs: int, df: int, cf: int, total_len: int, dtype=np.float32
    ) -> float:
        raise NotImplementedError

    def kernel(self, avgdl: float, dtype=np.float32):
        """-> f(weight: float, boost: float, tfs: ndarray, dl: ndarray)."""
        raise NotImplementedError


@dataclass(frozen=True)
class BM25Similarity(Similarity):
    """BM25Similarity.java — the reference default (k1=1.2, b=0.75)."""

    name: str = "bm25"
    supports_phrases: bool = True
    k1: float = 1.2
    b: float = 0.75

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        return float(dtype(math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))))

    def kernel(self, avgdl, dtype=np.float32):
        k1f = dtype(self.k1)
        one_minus_b = dtype(1.0 - self.b)
        bf = dtype(self.b)
        avgdlf = dtype(avgdl)

        def score(w, boost, tfs, dl):
            # boost folds into the weight as a python-float product before
            # the dtype round — bit-identical to the historic idf*boost map
            idf = dtype(float(w) * float(boost))
            cache = k1f * (one_minus_b + bf * dl / avgdlf)
            return idf * tfs / (tfs + cache)

        return score


@dataclass(frozen=True)
class ClassicSimilarity(Similarity):
    """ClassicSimilarity.java (Lucene TFIDFSimilarity):
    score = sqrt(tf) · idf² · lengthNorm, lengthNorm = 1/sqrt(dl)."""

    name: str = "classic"

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        idf = dtype(1.0 + math.log((n_docs + 1) / (df + 1)))
        return float(idf * idf)

    def kernel(self, avgdl, dtype=np.float32):
        def score(w, boost, tfs, dl):
            wf = dtype(float(w) * float(boost))
            return wf * np.sqrt(tfs) / np.sqrt(np.maximum(dl, dtype(1.0)))

        return score


@dataclass(frozen=True)
class LMDirichletSimilarity(Similarity):
    """LMDirichletSimilarity.java: Bayesian smoothing with Dirichlet prior
    (Zhai & Lafferty 2004), mu=2000; negative scores clamp to 0 like the
    Lucene implementation."""

    name: str = "lmdirichlet"
    mu: float = 2000.0

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        # collection LM probability P(t|C); cf >= 1 for any indexed term
        return float(cf) / float(total_len)

    def kernel(self, avgdl, dtype=np.float32):
        muf = dtype(self.mu)

        def score(w, boost, tfs, dl):
            p = dtype(w)
            s = np.log1p(tfs / (muf * p)) + np.log(muf / (dl + muf))
            return dtype(boost) * np.maximum(s.astype(dtype), dtype(0.0))

        return score


@dataclass(frozen=True)
class LMJelinekMercerSimilarity(Similarity):
    """LMJelinekMercerSimilarity.java: linear interpolation smoothing,
    lambda=0.7 (long queries; the javadoc suggests 0.1 for short ones)."""

    name: str = "lmjelinekmercer"
    lam: float = 0.7

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        return float(cf) / float(total_len)

    def kernel(self, avgdl, dtype=np.float32):
        ratio = dtype((1.0 - self.lam) / self.lam)

        def score(w, boost, tfs, dl):
            p = dtype(w)
            s = np.log1p(ratio * tfs / (dl * p)).astype(dtype)
            return dtype(boost) * s

        return score


@dataclass(frozen=True)
class DFRInL2Similarity(Similarity):
    """DFRSimilarity.java with the classic InL2 combination —
    BasicModelIn (inverse document frequency), AfterEffectL (Laplace,
    whose score×(1+tfn) term is identically 1), NormalizationH2
    (tfn = tf·log2(1 + c·avgdl/dl), c=1):

        score = boost · log2((N+1)/(df+0.5)) · tfn/(1+tfn)

    (search/similarities/DFRSimilarityFactory.java; Lucene
    BasicModelIn/AfterEffectL/NormalizationH2 javadocs.)"""

    name: str = "dfr_inl2"
    c: float = 1.0

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        return float(dtype(math.log2((n_docs + 1.0) / (df + 0.5))))

    def kernel(self, avgdl, dtype=np.float32):
        avgdlf = dtype(avgdl)
        cf_ = dtype(self.c)
        ln2 = dtype(math.log(2.0))

        def score(w, boost, tfs, dl):
            wf = dtype(float(w) * float(boost))
            tfn = tfs * (np.log1p(cf_ * avgdlf / dl) / ln2).astype(dtype)
            return wf * tfn / (dtype(1.0) + tfn)

        return score


@dataclass(frozen=True)
class BooleanSimilarity(Similarity):
    """BooleanSimilarity.java: score = query boost, ignoring tf/dl/stats."""

    name: str = "boolean"

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        return 1.0

    def kernel(self, avgdl, dtype=np.float32):
        def score(w, boost, tfs, dl):
            return np.full(tfs.shape, dtype(float(w) * float(boost)), dtype)

        return score


@dataclass(frozen=True)
class RawTFSimilarity(Similarity):
    """RawTFSimilarityFactory.java (Lucene misc RawTFSimilarity):
    score = boost · tf — no idf, no length norm.  Useful when tf already
    encodes an externally computed weight (the factory javadoc's use case)."""

    name: str = "rawtf"

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        return 1.0

    def kernel(self, avgdl, dtype=np.float32):
        def score(w, boost, tfs, dl):
            return dtype(float(w) * float(boost)) * tfs

        return score


@dataclass(frozen=True)
class DFISimilarity(Similarity):
    """DFISimilarityFactory.java (Lucene DFISimilarity): divergence from
    independence.  expected = (cf+1)·dl/(total_len+1); docs whose observed
    tf ≤ expected score 0; otherwise

        score = boost · log2(independence(tf, expected) + 1)

    with independence ∈ {ChiSquared: (tf-e)²/e, Standardized: (tf-e)/√e,
    Saturated: (tf-e)/e} (the factory's required ``independenceMeasure``)."""

    name: str = "dfi"
    measure: str = "chisquared"  # chisquared | standardized | saturated

    def __post_init__(self):
        if self.measure not in ("chisquared", "standardized", "saturated"):
            raise NotImplementedError(
                f"invalid independence measure {self.measure!r}"
            )

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        # expected tf per unit of doc length: (cf+1)/(total_len+1)
        return (float(cf) + 1.0) / (float(total_len) + 1.0)

    def kernel(self, avgdl, dtype=np.float32):
        measure = self.measure
        ln2 = math.log(2.0)

        def score(w, boost, tfs, dl):
            expected = dtype(w) * dl
            diff = tfs - expected
            if measure == "chisquared":
                m = diff * diff / expected
            elif measure == "standardized":
                m = diff / np.sqrt(expected)
            else:  # saturated
                m = diff / expected
            s = dtype(boost) * (np.log1p(np.maximum(m, 0)) / dtype(ln2))
            return np.where(tfs <= expected, dtype(0.0), s.astype(dtype))

        return score


@dataclass(frozen=True)
class IBSimilarity(Similarity):
    """IBSimilarityFactory.java (Lucene IBSimilarity): information-based
    models (Clinchant & Gaussier 2010).

        score = boost · distribution(tfn, λ)

    distribution LL: -log2(λ/(tfn+λ));  SPL: -log2((λ^(tfn/(tfn+1))-λ)/(1-λ))
    λ DF: (df+1)/(N+1);  TTF: (cf+1)/(N+1)
    tfn H1: c·tf·avgdl/dl;  H2: tf·log2(1+c·avgdl/dl);
    H3: (tf + μ·p)/(dl+μ)·μ with p = (cf+1)/(total_len+1) (Dirichlet
    prior, μ=800);  Z: tf·(avgdl/dl)^z;  none: tf.  H3 needs the per-term
    collection LM probability alongside λ, so its weight slot carries the
    (λ, p) pair the kernel unpacks."""

    name: str = "ib"
    distribution: str = "ll"  # ll | spl
    lam_type: str = "df"  # df | ttf
    normalization: str = "h2"  # h1 | h2 | h3 | z | none
    c: float = 1.0
    z: float = 0.30
    mu: float = 800.0

    def __post_init__(self):
        if self.distribution not in ("ll", "spl"):
            raise NotImplementedError(
                f"invalid IB distribution {self.distribution!r}"
            )
        if self.lam_type not in ("df", "ttf"):
            raise NotImplementedError(f"invalid IB lambda {self.lam_type!r}")
        if self.normalization not in ("h1", "h2", "h3", "z", "none"):
            raise NotImplementedError(
                f"IB normalization {self.normalization!r} unsupported "
                "(h1/h2/h3/z/none)"
            )

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32):
        num = df if self.lam_type == "df" else cf
        lam = (float(num) + 1.0) / (float(n_docs) + 1.0)
        if self.normalization == "h3":
            return (lam, (float(cf) + 1.0) / (float(total_len) + 1.0))
        return lam

    def kernel(self, avgdl, dtype=np.float32):
        avgdlf = dtype(avgdl)
        cf_ = dtype(self.c)
        zf = dtype(self.z)
        muf = dtype(self.mu)
        ln2 = dtype(math.log(2.0))
        norm, dist = self.normalization, self.distribution

        def score(w, boost, tfs, dl):
            if norm == "h3":
                lam, p = dtype(w[0]), dtype(w[1])
                tfn = (tfs + muf * p) / (dl + muf) * muf
            else:
                lam = dtype(w)
                if norm == "h1":
                    tfn = cf_ * tfs * avgdlf / dl
                elif norm == "h2":
                    tfn = tfs * (
                        np.log1p(cf_ * avgdlf / dl) / ln2
                    ).astype(dtype)
                elif norm == "z":
                    tfn = tfs * np.power(avgdlf / dl, zf).astype(dtype)
                else:
                    tfn = tfs.astype(dtype)
            if dist == "ll":
                s = np.log1p(tfn / lam) / ln2
            else:  # spl
                ratio = (
                    np.power(lam, tfn / (tfn + dtype(1.0))) - lam
                ) / (dtype(1.0) - lam)
                s = -np.log(np.maximum(ratio, np.finfo(dtype).tiny)) / ln2
            return dtype(boost) * s.astype(dtype)

        return score


@dataclass(frozen=True)
class SweetSpotSimilarity(Similarity):
    """SweetSpotSimilarityFactory.java (Lucene misc SweetSpotSimilarity,
    extends ClassicSimilarity): a plateau length norm —

        lengthNorm(dl) = 1/√(steepness·(|dl-min| + |dl-max| - (max-min)) + 1)

    (flat 1.0 inside [ln_min, ln_max], sloping off outside) and two tf
    variants: baselineTf  tf' = base if tf ≤ tf_min else √(tf + base² -
    tf_min), and hyperbolicTf  tf' = min + (max-min)/2 ·
    (tanh((tf - xoffset)·ln(base)) + 1) (``tf_mode="hyperbolic"``).
    With the Lucene defaults (ln_min=ln_max=1, steepness=0.5, base=min=0,
    baseline mode) this reduces exactly to ClassicSimilarity."""

    name: str = "sweetspot"
    ln_min: int = 1
    ln_max: int = 1
    steepness: float = 0.5
    tf_base: float = 0.0
    tf_min: float = 0.0
    tf_mode: str = "baseline"  # baseline | hyperbolic
    hyper_min: float = 0.0
    hyper_max: float = 2.0
    hyper_base: float = 1.3
    hyper_xoffset: float = 10.0

    def __post_init__(self):
        if self.tf_mode not in ("baseline", "hyperbolic"):
            raise NotImplementedError(f"invalid tf_mode {self.tf_mode!r}")

    def weight(self, n_docs, df, cf, total_len, dtype=np.float32) -> float:
        idf = dtype(1.0 + math.log((n_docs + 1) / (df + 1)))
        return float(idf * idf)

    def kernel(self, avgdl, dtype=np.float32):
        lo = dtype(self.ln_min)
        hi = dtype(self.ln_max)
        steep = dtype(self.steepness)
        base = dtype(self.tf_base)
        tfmin = dtype(self.tf_min)
        hyperbolic = self.tf_mode == "hyperbolic"
        hmin = dtype(self.hyper_min)
        hmax = dtype(self.hyper_max)
        lnb = dtype(math.log(self.hyper_base))
        xoff = dtype(self.hyper_xoffset)

        def score(w, boost, tfs, dl):
            wf = dtype(float(w) * float(boost))
            if hyperbolic:
                tfp = np.where(
                    tfs == 0,
                    dtype(0.0),
                    hmin
                    + (hmax - hmin)
                    / dtype(2.0)
                    * (np.tanh((tfs - xoff) * lnb) + dtype(1.0)),
                ).astype(dtype)
            else:
                tfp = np.where(
                    tfs <= tfmin,
                    base,
                    np.sqrt(
                        np.maximum(tfs + base * base - tfmin, dtype(0.0))
                    ),
                ).astype(dtype)
            ln = dtype(1.0) / np.sqrt(
                steep * (np.abs(dl - lo) + np.abs(dl - hi) - (hi - lo))
                + dtype(1.0)
            ).astype(dtype)
            return wf * tfp * ln

        return score


_REGISTRY = {
    "bm25": BM25Similarity,
    "classic": ClassicSimilarity,
    "lmdirichlet": LMDirichletSimilarity,
    "lmjelinekmercer": LMJelinekMercerSimilarity,
    "boolean": BooleanSimilarity,
    "dfr": DFRInL2Similarity,
    "dfr_inl2": DFRInL2Similarity,
    "rawtf": RawTFSimilarity,
    "dfi": DFISimilarity,
    "ib": IBSimilarity,
    "sweetspot": SweetSpotSimilarity,
}


def get_similarity(name: str | Similarity, cfg=None, **params) -> Similarity:
    """Resolve a similarity by factory name (case-insensitive).  ``cfg``
    supplies k1/b for BM25 so the engine default stays config-driven;
    ``params`` override per-similarity knobs (mu, lam, k1, b, measure,
    distribution, ...).  Compound spellings configure inline —
    ``dfi_<measure>`` and ``ib_<distribution>_<lambda>_<normalization>``
    (e.g. ``dfi_saturated``, ``ib_spl_ttf_h1``) — mirroring the factory
    params the reference reads from the schema."""
    if isinstance(name, Similarity):
        return name
    key = str(name).lower()
    if key.startswith("dfi_") and key not in _REGISTRY:
        return DFISimilarity(measure=key[4:], **params)
    if key.startswith("ib_") and key not in _REGISTRY:
        parts = key.split("_")
        if len(parts) != 4:
            raise NotImplementedError(
                f"compound IB spelling must be ib_<dist>_<lambda>_<norm>, "
                f"got {name!r}"
            )
        return IBSimilarity(
            distribution=parts[1],
            lam_type=parts[2],
            normalization=parts[3],
            **params,
        )
    if key not in _REGISTRY:
        raise NotImplementedError(
            f"unknown similarity {name!r}; available: {sorted(_REGISTRY)}"
        )
    if key == "bm25" and cfg is not None and not params:
        return BM25Similarity(k1=cfg.bm25_k1, b=cfg.bm25_b)
    return _REGISTRY[key](**params)
