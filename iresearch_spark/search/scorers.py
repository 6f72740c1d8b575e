"""Scorers — BM25 and TF-IDF, exactly the reference formulas.

BM25 (verified against `core/search/bm25.cpp:198-234,355-402`):
    idf   = ln(1 + (N - df + 0.5) / (df + 0.5))
    c0    = boost * (k + 1) * idf
    c1    = k * (1 - b) + k * b * dl / avg_dl
    score = c0 * tf / (c1 + tf)            # == c0 - c0*c1/(c1 + tf)
    multi-term score = sum over terms
    defaults k = 1.2, b = 0.75 (bm25.hpp:63-65); b=0 -> BM15, b=1 -> BM11

Norm variants (bm25.hpp:29-46, norm.hpp:46-70): the default is Norm2
(tf = freq, |doc| = dl). The LEGACY `Norm` variant (norm="legacy" on
build_index) stores 1/sqrt(dl) as float32 (norm.cpp NormWriter) and
scores with tf = sqrt(freq) and |doc| = sqrt(dl) — the reader inverts
the stored value (bm25.cpp:236-253 BM25NormAdapter), giving
    c1 = k*(1 - b) + (k*b/avg_dl) * sqrt(dl)
    score = c0 * sqrt(tf) / (c1 + sqrt(tf))

TF-IDF (`core/search/tfidf.cpp:185-186,274-277`):
    idf   = ln(1 + (N + 1) / (df + 1))
    score = sqrt(tf) * idf [* 1/sqrt(dl) if norms enabled]

The scorer objects carry only the formula's parameters; the index's
norm mode (not an option here) picks the norm variant, and
search/semantics.py turns both into the idf/c0 constants, the score
kernel and the WAND bound that every serving tier shares — the idf and
avg_dl constants are driver-side floats (the reference's prepare-time
stats blob, bm25.cpp:366-410), so no join against stats tables ever
appears in a scoring plan.

float32 parity (SURVEY §7.0): the reference computes every score in
float32 (`core/search/scorer.hpp` score_t = float). The engine's
default is float64 (matching its DuckDB replay oracle); passing
score_dtype="float32" to SearchEngine switches the whole scoring path
to reference rounding — `ref_bm25_f32` below is the scalar
transcription of bm25.cpp:198-365 used as the parity oracle:
  * idf accumulated via double log1p then cast to float32
    (bm25.cpp:380-384)
  * c0 = boost * (k+1) * idf, all float32 (BM1Context :201)
  * norm_const = k - k*b; norm_length = k*b/avg_dl with
    avg_dl = float32(ttf)/float32(n_docs) (collect(), :394-401)
  * Norm2 with all dl <= 255 uses the inverse-norm cache — the
    kNorm2Tiny path: score = c0 - c0/(1 + tf * float32(1/c1))
    (:348-352, cache :404-409); wider dls use
    score = c0 - c0*c1/(c1 + tf) (:353-358)
  * legacy Norm: tf = sqrt_f32(freq) (kSQRT :82-84), the stored
    float32 norm 1/float32(sqrt_f64(dl)) (norm.cpp:36-41) is
    inverted at read (:247-250)
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

_F32 = np.float32
_ONE = np.float32(1.0)


def f32_stats(k: float, b: float, n_docs: int, total_term_freq: int):
    """The reference's prepare-time float32 constants
    (bm25.cpp:386-409): (norm_const, norm_length) as np.float32."""
    k32, b32 = _F32(k), _F32(b)
    if float(b) == 0.0:  # BM15/BM1: no norm needed, norm_const = k
        return k32, _F32(0.0)
    kb = _F32(k32 * b32)
    norm_const = _F32(k32 - kb)
    if total_term_freq and n_docs:
        avg_dl = _F32(_F32(total_term_freq) / _F32(n_docs))
        norm_length = _F32(kb / avg_dl)
    else:
        norm_length = kb
    return norm_const, norm_length


def ref_bm25_f32(
    freq: int,
    dl: int,
    df: int,
    n_docs: int,
    total_term_freq: int,
    k: float = 1.2,
    b: float = 0.75,
    boost: float = 1.0,
    norm: str = "norm2",
    max_dl: int | None = None,
) -> float:
    """Scalar float32 BM25 exactly as the reference evaluates it — the
    golden parity oracle (see module docstring for the line map).
    `max_dl` is the SEGMENT's max doc length: the reference picks the
    kNorm2Tiny scorer when the Norm2 column packed into one byte, i.e.
    max dl <= 255 (norm.hpp Norm2Header) — a per-segment choice, not
    per-doc. Defaults to dl (single-doc segment)."""
    idf = _F32(math.log1p((n_docs - df + 0.5) / (df + 0.5)))
    c0 = _F32(_F32(_F32(boost) * _F32(_F32(k) + _ONE)) * idf)
    if float(k) == 0.0:  # BM1: constant score (bm25.cpp:262-285)
        return float(c0)
    if float(b) == 0.0:  # BM15 (bm25.cpp:287-317)
        tf = _F32(freq)
        c1 = _F32(k)
        return float(_F32(c0 - _F32(c0 / _F32(_ONE + _F32(tf / c1)))))
    norm_const, norm_length = f32_stats(k, b, n_docs, total_term_freq)
    if norm == "legacy":
        # kSQRT cache: sqrt of the raw freq in float32
        tf = _F32(np.sqrt(_F32(freq)))
        stored = _F32(_ONE / _F32(np.sqrt(np.float64(dl))))
        nrm = _F32(_ONE / stored)  # BM25NormAdapter inversion
        c1 = _F32(norm_const + _F32(norm_length * nrm))
        return float(_F32(c0 - _F32(_F32(c0 * c1) / _F32(c1 + tf))))
    tf = _F32(freq)
    tiny = (max_dl if max_dl is not None else dl) <= 255
    if tiny:
        c1 = _F32(norm_const + _F32(norm_length * _F32(dl)))
        inv_c1 = _F32(_ONE / c1)  # norm_cache entry (bm25.cpp:404-409)
        return float(_F32(c0 - _F32(c0 / _F32(_ONE + _F32(tf * inv_c1)))))
    c1 = _F32(norm_const + _F32(norm_length * _F32(dl)))
    return float(_F32(c0 - _F32(_F32(c0 * c1) / _F32(c1 + tf))))


def ref_tfidf_f32(
    freq: int,
    dl: int,
    df: int,
    n_docs: int,
    boost: float = 1.0,
    with_norms: bool = False,
) -> float:
    """Scalar float32 TFIDF (tfidf.cpp:185-186,274-277)."""
    idf = _F32(math.log1p((n_docs + 1.0) / (df + 1.0)))
    c0 = _F32(_F32(boost) * idf)
    s = _F32(c0 * _F32(np.sqrt(_F32(freq))))
    if with_norms:
        stored = _F32(_ONE / _F32(np.sqrt(np.float64(dl))))
        s = _F32(s * stored)
    return float(s)


@dataclass(frozen=True)
class BM25:
    k: float = 1.2
    b: float = 0.75

    name: str = "bm25"

    def idf(self, df: int, n_docs: int) -> float:
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


@dataclass(frozen=True)
class TFIDF:
    with_norms: bool = False

    name: str = "tfidf"

    def idf(self, df: int, n_docs: int) -> float:
        return math.log(1.0 + (n_docs + 1.0) / (df + 1.0))


def get_scorer(name: str, **opts):
    """Scorer registry (reference REGISTER_SCORER_JSON, bm25.cpp:195-196)."""
    if name == "bm25":
        return BM25(**opts)
    if name in ("bm15", "bm11"):
        # the b constant IS the variant — an explicit b would silently
        # contradict the name, so reject it; other opts (k) pass through
        if "b" in opts:
            raise ValueError(f"{name} fixes b; pass scorer='bm25' to set b")
        return BM25(b=0.0 if name == "bm15" else 1.0, **opts)
    if name == "bm1":
        # k=0 -> score = c0 (constant per term, bm25.hpp:107-113)
        if "k" in opts:
            raise ValueError("bm1 fixes k=0; pass scorer='bm25' to set k")
        return BM25(k=0.0, **opts)
    if name == "tfidf":
        return TFIDF(**opts)
    raise KeyError(f"unknown scorer {name!r}")
