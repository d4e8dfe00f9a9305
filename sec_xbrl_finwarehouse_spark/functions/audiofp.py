"""Audio perceptual fingerprinting -- the AUDIO member of the
perceptual-dedup family (Chromaprint/Shazam territory, reduced to the
engine's exact-integer contract).

An integer PCM buffer is framed, each frame projected onto the SAME
quantized DCT basis the image pHash uses (functions/phash.py COS_T --
round(cos * 2**14), a shared constant), frame spectra are pooled into
a 32x32 time-frequency ENERGY GRID normalized to [0, 255] by integer
scaling, and that grid is hashed by the image kernel
:func:`.phash.phash64_batch` verbatim. An amplitude-scaled or mildly
noisy copy of a clip lands within a few Hamming bits; different
material lands far -- the banded Hamming join from
plans/image_queries.py then works unchanged on the resulting hashes.

Everything is integer: frame spectra are |T @ frame| sums of int64
products, the grid normalization is ``e * 255 // max_e``, and
phash64's arithmetic is already exact -- so equal buffers hash
equally on any platform, and the locality properties are pinned by
tests (tests/test_audiofp.py), not luck.

Driver-checkable surface (r11): the test corpus ships no audio
column, so -- exactly like the image family's deterministic text
raster (plans/image_queries.py) -- the driver queries synthesize
deterministic PCM from each document's TEXT (:func:`text_pcm_np`: one
integer sample per character, codepoint clamped to 255 -- the same
byte signal the image raster reads, consumed as a 1-D waveform) and
hash it with :func:`_grid255_from_int_pcm` ->
:func:`..functions.phash.phash64_batch`. No codec is implemented: a
real audio column would be decoded to integer PCM upstream and enter
the same two functions. The reference warehouse has no counterpart.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .phash import PHASH_N, _T, phash64_batch

# time-frequency grid: PHASH_N frames x PHASH_N spectral bins
FP_FRAME = 256  # samples per analysis frame (hop = frame, no overlap)


def _spectrum_rows(frames: np.ndarray) -> np.ndarray:
    """|DCT| spectral magnitudes of int16 frames, 32 bins per frame.

    The frame (length 256) is energy-decimated to a 32-sample envelope
    by summing CONSECUTIVE 8-sample blocks (a boxcar low-pass + 8x
    downsample -- integer, order-preserving in time), and the full
    32x32 quantized DCT-II of that envelope is taken with the extended
    table below; bins therefore describe the envelope's spectral
    shape up to the decimated Nyquist, which is what survives
    re-encoding. All integer: |sum(int * table)| < 2**53."""
    t32 = _ext_table()
    folded = frames.reshape(frames.shape[0], PHASH_N, -1).sum(axis=2)
    return np.abs(folded @ t32.T)


_EXT: np.ndarray | None = None


def _ext_table() -> np.ndarray:
    """The full 32x32 quantized DCT-II basis: rows 0..7 are byte-equal
    to the image kernel's COS_T table (shared constant, asserted in
    tests); rows 8..31 extend it with the same round(cos * 2**14)
    quantization."""
    global _EXT
    if _EXT is None:
        import math

        from .phash import PHASH_SCALE

        ext = np.array(
            [
                [
                    round(
                        math.cos((2 * r + 1) * u * math.pi / (2 * PHASH_N))
                        * PHASH_SCALE
                    )
                    for r in range(PHASH_N)
                ]
                for u in range(PHASH_N)
            ],
            dtype=np.int64,
        )
        assert (ext[: _T.shape[0]] == _T).all()
        _EXT = ext
    return _EXT


def _grid255_from_int_pcm(pcm: np.ndarray) -> np.ndarray | None:
    """The shared INTEGER sub-pipeline: an int PCM buffer (any
    amplitude scale -- the grid normalizes) to the (32 slots, 32 bins)
    [0, 255] time-frequency grid phash64 hashes, or None when the
    buffer is too short to fill one analysis frame. 256-sample frames
    -> 32-bin integer DCT magnitudes per frame -> frames pooled into
    32 equal time slots (integer mean, cumsum form) -> grid scaled by
    ``e * 255 // max_e`` (all-zero input yields the all-zero grid).
    The single-hash (:func:`text_audiofp_column`) and fused
    (:func:`text_phash_afp_column`) query kernels both call THIS
    function."""
    pcm = np.asarray(pcm, dtype=np.int64)
    n_frames = len(pcm) // FP_FRAME
    if n_frames == 0:
        return None
    frames = pcm[: n_frames * FP_FRAME].reshape(n_frames, FP_FRAME)
    spec = _spectrum_rows(frames)  # (n_frames, 32)
    bounds = (np.arange(PHASH_N + 1, dtype=np.int64) * n_frames) // PHASH_N
    cs = np.concatenate(
        [np.zeros((1, PHASH_N), dtype=np.int64), np.cumsum(spec, axis=0)]
    )
    cnt = np.maximum(bounds[1:] - bounds[:-1], 1)[:, None]
    grid = (cs[bounds[1:]] - cs[bounds[:-1]]) // cnt  # (32 slots, 32 bins)
    mx = int(grid.max())
    if mx <= 0:
        return np.zeros((PHASH_N, PHASH_N), dtype=np.int64)
    return (grid * 255) // mx


def text_pcm_np(text: str) -> np.ndarray:
    """Deterministic PCM from text -- the driver-checkable stand-in
    for an audio column (the 1-D twin of phash.raster32_np's byte
    signal): one integer sample per character, the codepoint clamped
    to 255, MINUS the clip's integer mean. The centering is part of
    the synthesis, not the kernel: real audio is already zero-mean,
    while a prose byte signal is all-positive -- without centering the
    envelope DC dominates every spectrum and ALL prose collapses to
    one fingerprint (measured: 291/291 sf0.01 docs hashed identically
    raw; 99 distinct template clusters centered). Amplitude scale is
    irrelevant (the grid normalizes by its max), so the centered codes
    feed :func:`_grid255_from_int_pcm` directly -- no fake float/int16
    round-trip that could diverge from the SQL oracle's integer
    arithmetic."""
    from .phash import codes255_np

    return pcm_from_codes_np(codes255_np(text))


def pcm_from_codes_np(codes: np.ndarray) -> np.ndarray:
    """:func:`text_pcm_np` over pre-computed
    :func:`..functions.phash.codes255_np` codes (the fused cross-modal
    kernel's entry point). Same integer-mean centering."""
    if len(codes) == 0:
        return np.zeros(0, dtype=np.int64)
    return codes - int(codes.sum()) // len(codes)


def text_audiofp_column(text_col):
    """Audio fingerprint of the deterministic text PCM as an
    Arrow-vectorized pandas UDF column -- per-row numpy grid build
    (cumsum pooling), ONE batched einsum DCT hash per Arrow batch
    (same batching as phash.text_phash_column, same measured reason:
    Catalyst higher-order functions have no let-binding, so a
    column-expression DCT is super-linear in expression depth).
    Documents shorter than FP_FRAME characters yield NULL (too short
    to fill one analysis frame -- mirrored by the SQL oracle's
    ``nf > 0`` guard)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _afp(texts: pd.Series) -> pd.Series:
        out: list[int | None] = [None] * len(texts)
        grids, idx = [], []
        for i, t in enumerate(texts):
            g = _grid255_from_int_pcm(text_pcm_np(t or ""))
            if g is not None:
                grids.append(g)
                idx.append(i)
        if grids:
            for i, h in zip(idx, phash64_batch(np.stack(grids))):
                out[i] = int(h)
        return pd.Series(pd.array(out, dtype="Int64"))

    # guide §4.4: the callers filter on ``afp IS NOT NULL``; pushing
    # that filter below the scan-parallelizing exchange substitutes the
    # UDF into the pushed predicate, so every clip paid the grid+DCT
    # kernel TWICE (observed: two ArrowEvalPython nodes in the
    # audio_neardup cache build, one below the pushed filter whose
    # fingerprint is discarded). Non-deterministic forbids the
    # duplication; the fingerprint itself is a pure function, the marker
    # only pins WHERE it is evaluated.
    return _afp.asNondeterministic()(text_col)


def text_phash_afp_column(text_col):
    """BOTH deterministic perceptual hashes -- the image pHash and the
    audio fingerprint -- from ONE Arrow pass over the text column, as a
    ``struct<phash, afp>`` (r12, guide §4: the Python boundary is paid
    per kernel invocation; the cross-modal dedup query ran the image
    kernel and the audio kernel as two separate ArrowEvalPython passes,
    each shipping the full text column JVM->Python and each re-encoding
    every string to codepoints). One pass ships the text once, encodes
    once (:func:`..functions.phash.codes255_np` -- the shared first
    step of both syntheses), and hashes BOTH grid stacks in one batched
    einsum (:func:`..functions.phash.phash64_batch` rows are
    independent, so the combined call is bit-identical to two calls --
    asserted in tests/test_crossmodal.py).

    Only the cross-modal query uses this: the single-modality queries
    keep their single-hash kernels (computing the other modality's hash
    there would be pure waste). Non-deterministic for the same §4.4
    reason as :func:`text_audiofp_column` (pin single evaluation; the
    function is pure)."""
    from pyspark.sql.functions import pandas_udf

    from .phash import codes255_np, raster32_from_codes

    @pandas_udf("struct<phash: long, afp: long>")
    def _fused(texts: pd.Series) -> pd.DataFrame:
        n = len(texts)
        rasters: list[np.ndarray] = []
        agrids: list[np.ndarray] = []
        aidx: list[int] = []
        for i, t in enumerate(texts):
            codes = codes255_np(t or "")
            rasters.append(raster32_from_codes(codes))
            g = _grid255_from_int_pcm(pcm_from_codes_np(codes))
            if g is not None:
                agrids.append(g)
                aidx.append(i)
        if n == 0:
            return pd.DataFrame({
                "phash": pd.array([], dtype="Int64"),
                "afp": pd.array([], dtype="Int64"),
            })
        grids = np.stack(rasters).reshape(-1, PHASH_N, PHASH_N)
        if agrids:
            grids = np.concatenate([grids, np.stack(agrids)])
        hashes = phash64_batch(grids)
        afp: list[int | None] = [None] * n
        for i, h in zip(aidx, hashes[n:]):
            afp[i] = int(h)
        return pd.DataFrame({
            "phash": pd.Series(hashes[:n]),
            "afp": pd.array(afp, dtype="Int64"),
        })

    return _fused.asNondeterministic()(text_col)

