"""Product-quantization primitives (Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search", IEEE PAMI 2011 — public
literature) backing ops/similarity.ivfpq_topk.

Pure numpy, self-contained (stdlib + numpy/pandas only). Like every
engine module it ships BY VALUE inside pickled pandas-UDF closures
through the one package registration in etl_ch_destination_spark/__init__.py.

The PQ idea: split a d-dim residual vector into ``m_sub`` contiguous
sub-vectors; vector-quantize each subspace against its own ``ks``-entry
codebook; a database vector is then ``m_sub`` small codes
(m_sub·log2(ks) bits — 8 packed bytes at the default m_sub=16/ks=16
instead of 256 for d=64 float32: the compression that lets a
billion-vector index live in RAM). Query-side, asymmetric distance
computation (ADC) builds one (m_sub × ks) lookup table of exact
query-subvector-to-codeword squared distances, and every candidate's
approximate squared L2 distance is m_sub table lookups + a sum.

Determinism: seeded numpy RandomState for the codebook init, fixed
Lloyd iteration count, argmin ties broken to the lowest index (numpy
contract) — training, encoding, and scoring replay bit-identically
for a fixed train set.
"""

from __future__ import annotations

import numpy as np


def train_codebooks(
    x: np.ndarray, m_sub: int, ks: int, seed: int, iters: int = 10
) -> np.ndarray:
    """Per-subspace Lloyd k-means codebooks from a bounded train set.

    ``x``: (n, d) float64 training residuals, d divisible by m_sub.
    Returns (m_sub, ks, d//m_sub) float64 codebooks. Seeded sample
    init (without replacement when n >= ks); empty cells keep their
    previous centroid (the standard Lloyd convention).
    """
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError(
            "empty PQ training set — the candidate frame produced no "
            "training residuals (all rows filtered upstream?)"
        )
    n, d = x.shape
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub {m_sub}")
    dsub = d // m_sub
    rs = np.random.RandomState(seed)
    books = np.empty((m_sub, ks, dsub), dtype=np.float64)
    for m in range(m_sub):
        sub = x[:, m * dsub : (m + 1) * dsub]
        if n >= ks:
            idx = rs.choice(n, size=ks, replace=False)
        else:  # tiny train set: tile deterministically
            idx = np.arange(ks) % n
        cent = sub[idx].astype(np.float64).copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ks):
                pts = sub[assign == j]
                if len(pts):
                    cent[j] = pts.mean(axis=0)
        books[m] = cent
    return books


def encode(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, d) residuals -> (n, m_sub) int32 codes (argmin per subspace,
    ties to the lowest codeword index)."""
    m_sub, _, dsub = books.shape
    n = x.shape[0]
    codes = np.empty((n, m_sub), dtype=np.int32)
    for m in range(m_sub):
        sub = x[:, m * dsub : (m + 1) * dsub]
        d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
    return codes


def coarse_kmeans(
    x: np.ndarray, k: int, seed: int, iters: int = 8
) -> np.ndarray:
    """Whole-vector Lloyd k-means for the IVF coarse quantizer, on the
    SAME bounded driver-side training sample the PQ codebooks already
    use (training the coarse quantizer on a sample is the published
    IVF practice — r14: replaces the distributed Spark ML fit, whose
    ~2 jobs per Lloyd round dominated ivfpq_topk's runtime while
    clustering a few thousand sampled unit vectors).

    Seeded sample init, fixed iteration count, argmin ties to the
    lowest index, empty cells keep their previous centroid — a pure
    function of (x, k, seed), independent of partitioning entirely
    (the Spark ML random init sampled per partition, so a staging-mode
    change could legitimately flip assignments; this cannot)."""
    if x.ndim != 2 or x.shape[0] == 0:
        raise ValueError("empty coarse-quantizer training set")
    n = x.shape[0]
    rs = np.random.RandomState(seed)
    if n >= k:
        idx = rs.choice(n, size=k, replace=False)
    else:
        idx = np.arange(k) % n
    cent = x[idx].astype(np.float64).copy()
    for _ in range(iters):
        assign = coarse_assign(x, cent)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                cent[j] = pts.mean(axis=0)
    return cent


def coarse_assign(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n, d) vectors -> (n,) nearest-centroid index (squared L2,
    ties to the lowest index).

    r15 (ADVICE r14, low): chunk the rows so the (chunk, k, d) float64
    broadcast temporary stays bounded (~32 MB) however large a caller's
    Arrow batch or ``k`` gets — the per-row arithmetic and argmin tie
    rule are identical in every chunk, so assignments are unchanged."""
    n = x.shape[0]
    if n == 0:
        return np.empty(0, dtype=np.int64)
    per_row = max(1, cents.shape[0] * x.shape[1] * 8)
    step = max(1, (32 << 20) // per_row)
    out = np.empty(n, dtype=np.int64)
    for s in range(0, n, step):
        d2 = ((x[s : s + step, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        out[s : s + step] = d2.argmin(axis=1)
    return out


def adc_lut(q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(d,) query residual -> (m_sub, ks) table of exact squared
    distances from each query sub-vector to each codeword."""
    m_sub, ks, dsub = books.shape
    lut = np.empty((m_sub, ks), dtype=np.float64)
    for m in range(m_sub):
        qs = q[m * dsub : (m + 1) * dsub]
        lut[m] = ((books[m] - qs[None, :]) ** 2).sum(axis=1)
    return lut


def adc_scores(codes: np.ndarray, lut: np.ndarray) -> np.ndarray:
    """(n, m_sub) codes + (m_sub, ks) LUT -> (n,) approximate squared
    L2 distances (m_sub lookups + a sum per candidate)."""
    m_sub = lut.shape[0]
    return lut[np.arange(m_sub)[None, :], codes].sum(axis=1)
