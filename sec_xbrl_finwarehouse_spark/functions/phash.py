"""Perceptual image hashing (DCT pHash) -- integer-exact and
engine-portable.

The classic 64-bit pHash pipeline (pHash.org / imagehash): grayscale,
area-downsample to a 32x32 grid, 2-D DCT-II, keep the 8x8
low-frequency block, threshold each AC coefficient against the median
AC value, pack the comparison bits. Near-identical images differ in a
few bits of the hash (Hamming distance), so near-dup detection becomes
the same banded Hamming join the text SimHash family uses
(plans/text_queries.q_doc_simhash_neardup).

Everything here is INTEGER arithmetic by construction so the DuckDB
oracle can reproduce hashes bit-exactly (the same
approximate-in-statistics / exact-in-verification contract as the
KMV/HLL/CM sketches):

- pixels are ints in [0, 255];
- the DCT basis is a QUANTIZED cosine table -- ``round(cos((2r+1) * u
  * pi / 64) * 2**14)`` -- a build-time constant shared by the numpy
  kernel and the SQL oracle, so no engine evaluates a float cosine at
  query time;
- coefficient magnitudes are bounded by 32 * 255 * 2**14 (row pass)
  and 32 * that * 2**14 ~ 7.0e13 (column pass): always exact in an
  int64 and in a double;
- the AC median is the explicit 32nd ORDER STATISTIC of the 63 AC
  values (no even-count averaging ambiguity);
- only the 63 AC bits are packed, so the hash is a positive BIGINT.

Execution shape: the DCT is a dense 32x32 matrix sandwich -- numeric
kernel work, not relational work -- so it runs as an Arrow-vectorized
numpy batch (``einsum`` over the whole batch at once). A pure
column-expression spelling via nested higher-order functions was
built and measured first: Catalyst has no let-binding inside lambda
bodies, so every ``element_at`` re-evaluated the producing array
expression and the plan went super-linear in expression depth
(minutes for 50 rows). The Arrow kernel is the same decision the LSH
hyperplane projection made (embedding_queries), for the same reason.

The hashed grid is a deterministic raster of document text
(:func:`raster32_np`): the corpus has no image column, so the driver
queries in plans/image_queries.py hash text rasters, and the audio
fingerprint (:mod:`.audiofp`) reuses :func:`phash64_batch` on its
time-frequency grid. The reference warehouse has no multimodal
surface, so there is no counterpart there; this is the perceptual-dedup
member of the LLM-training-data family, a measure that survives
substitution-class edits where exact content hashes do not.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column

PHASH_N = 32       # downsampled grid side
PHASH_D = 8        # low-frequency DCT block side
PHASH_SCALE = 1 << 14  # fixed-point cosine scale
PHASH_BITS = PHASH_D * PHASH_D - 1  # 63 AC bits (DC excluded)
RASTER_PX = PHASH_N * PHASH_N       # 1024 pixels, row-major


def _build_cos_table() -> list[int]:
    """T[u * 32 + r] = round(cos((2r+1) * u * pi / 64) * 2**14) -- the
    DCT-II basis rows for u < 8, quantized once at import time. Python
    round() half-to-even is fine: the table is a shared constant, not
    a per-engine computation."""
    return [
        round(math.cos((2 * r + 1) * u * math.pi / (2 * PHASH_N))
              * PHASH_SCALE)
        for u in range(PHASH_D)
        for r in range(PHASH_N)
    ]


COS_T = _build_cos_table()
_T = np.array(COS_T, dtype=np.int64).reshape(PHASH_D, PHASH_N)
_POW2 = np.array([1 << j for j in range(PHASH_BITS)], dtype=np.uint64)


def phash64_batch(pix: np.ndarray) -> np.ndarray:
    """63-bit DCT pHash of a BATCH of 32x32 grayscale grids -- input
    (N, 32, 32) int array, values in [0, 255]; output (N,) int64.
    One einsum for the whole batch: C = T @ P @ T^T per image, all
    integer (exact -- see module docstring bounds). Bit j (0-based)
    of the result is AC coefficient C[(j+1) >> 3][(j+1) & 7] >
    median(AC)."""
    p = np.asarray(pix, dtype=np.int64).reshape(-1, PHASH_N, PHASH_N)
    c = np.einsum("ur,nrc,vc->nuv", _T, p, _T)
    ac = c.reshape(-1, PHASH_D * PHASH_D)[:, 1:]
    med = np.sort(ac, axis=1)[:, (PHASH_BITS - 1) // 2]
    bits = (ac > med[:, None]).astype(np.uint64)
    return (bits * _POW2[None, :]).sum(axis=1).astype(np.int64)


def codes255_np(text: str) -> np.ndarray:
    """Clamped character codes of a text -- the shared first step of
    BOTH deterministic media syntheses (the image raster below and the
    audio PCM in :mod:`.audiofp`): one int64 per character, the
    codepoint clamped to 255. Factored out so the cross-modal fused
    kernel (:func:`..functions.audiofp.text_phash_afp_column`) encodes
    each text exactly once."""
    if not text:
        return np.zeros(0, dtype=np.int64)
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    return np.minimum(cp, 255).astype(np.int64)


def raster32_np(text: str) -> np.ndarray:
    """Deterministic 32x32 grayscale raster of a text: pixel p
    (0-based, row-major) is the integer mean of the character
    CODEPOINTS (clamped to 255) in the OVERLAPPING window
    [max(c_p - w, 0), min(c_p + w, L)) around the anchor
    c_p = (p*L) >> 10, with half-width w = max(1, L >> 6) -- a boxcar
    low-pass of the byte signal, the 1-D analogue of an image's area
    downsampling. The overlap matters: a disjoint-slice raster was
    built first and measured BRITTLE (a one-character substitution
    flipped ~16 hash bits, because single-char pixels make a high-frequency signal whose low-order
    DCT coefficients all sit near the median); the windowed mean
    smooths the signal so a substitution moves ~2 bits and the hash
    behaves perceptually. Edits that change LENGTH (insert/delete)
    shift every window's content fraction and land around 8-10 bits
    -- outside the near-dup budget by design; length-changing edits
    are the text dedup family's domain (MinHash/editdist), while this
    operator models the image-domain perturbations (noise, re-encode)
    that are substitutions. Bit-identical to the SQL-oracle spelling
    in plans/image_queries.py: clamp-255, >> shifts, floor-div mean,
    all integers."""
    return raster32_from_codes(codes255_np(text))


def raster32_from_codes(codes: np.ndarray) -> np.ndarray:
    """:func:`raster32_np` over pre-computed :func:`codes255_np` codes
    (the fused cross-modal kernel's entry point). Same arithmetic,
    same all-zero raster for the empty text."""
    if len(codes) == 0:
        return np.zeros(RASTER_PX, dtype=np.int64)
    length = np.int64(len(codes))
    anchor = (np.arange(RASTER_PX, dtype=np.int64) * length) >> 10
    w = max(np.int64(1), length >> 6)
    lo = np.maximum(anchor - w, 0)
    hi = np.minimum(anchor + w, length)
    cs = np.concatenate([[np.int64(0)], np.cumsum(codes)])
    return (cs[hi] - cs[lo]) // (hi - lo)


def text_phash_column(text_col: Column) -> Column:
    """pHash of the deterministic text raster as an Arrow-vectorized
    pandas UDF column -- one numpy raster per row (cumsum slice
    means), one batched einsum DCT per Arrow batch. NULL-safe: the
    caller coalesces NULL text to '' (both engines then hash the
    all-zero raster to 0)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _phash(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype="int64")
        grids = np.stack([raster32_np(t or "") for t in texts])
        return pd.Series(phash64_batch(grids))

    return _phash(text_col)
