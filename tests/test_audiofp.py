"""Audio perceptual fingerprint tests: determinism, the locality
property (noise and amplitude scaling -> few Hamming bits, different
material -> many), and the text-PCM query path, all through the live
kernel (``_grid255_from_int_pcm`` -> ``phash64_batch``)."""

from __future__ import annotations

import numpy as np

from sec_xbrl_finwarehouse_spark.functions.audiofp import (
    FP_FRAME,
    _grid255_from_int_pcm,
    text_pcm_np,
)
from sec_xbrl_finwarehouse_spark.functions.phash import PHASH_N, phash64_batch


def _int16(x):
    return np.clip(np.round(x * 32767.0), -32768, 32767).astype(np.int64)


def _clip(freqs, n=8192, sr=16000, amp=0.3, seed=None, scale=1.0):
    """Integer (int16-quantized) PCM of a sum of sines."""
    t = np.arange(n) / sr
    x = sum(np.sin(2 * np.pi * f * t) for f in freqs) * amp / len(freqs)
    if seed is not None:
        x = x + np.random.RandomState(seed).normal(0, 0.01, n)
    return _int16(np.clip(x, -0.999, 0.999) * scale)


def _fp(pcm):
    grid = _grid255_from_int_pcm(pcm)
    if grid is None:
        return None
    return int(phash64_batch(grid.reshape(1, PHASH_N, PHASH_N))[0])


def _ham(a, b):
    return bin(a ^ b).count("1")


def test_fingerprint_deterministic_and_bounded():
    x = _clip([440, 880, 1320])
    fp = _fp(x)
    assert fp == _fp(x)
    assert 0 <= fp < (1 << 63)
    # median thresholding sets roughly half the 63 bits
    assert 15 <= bin(fp).count("1") <= 48


def test_fingerprint_too_short_is_none_and_silence_hashes():
    assert _fp(np.zeros(FP_FRAME - 1, dtype=np.int64)) is None
    assert _fp(np.zeros(FP_FRAME * 40, dtype=np.int64)) == 0


def test_fingerprint_locality_noise_vs_different_material():
    base = _fp(_clip([440, 880, 1320]))
    noisy = _fp(_clip([440, 880, 1320], seed=7))
    other = _fp(_clip([523, 1567, 2093]))
    assert _ham(base, noisy) <= 8
    assert _ham(base, other) > 14
    # amplitude scaling (a re-mastered copy): grid is max-normalized
    fp = _fp(_clip([330, 660, 990]))
    fp_quiet = _fp(_clip([330, 660, 990], scale=0.5))
    assert _ham(fp, fp_quiet) <= 6


def test_text_pcm_path_shares_wav_kernel_byte_identically():
    """r11 driver path contract: the text->PCM fingerprint is the SAME
    code path the clips above take after int16 quantization -- the
    text codes survive the codes/32767 float round-trip exactly (all
    values <= 255) and hash identically, and short texts are None in
    both spellings."""
    text = ("the quick brown fox jumps over the lazy dog. " * 12)[:520]
    pcm = text_pcm_np(text)
    assert len(pcm) == len(text)
    assert pcm.max() <= 255 and pcm.min() >= -255  # centered codes
    assert abs(int(pcm.sum())) < len(pcm)  # zero-mean up to floor error
    grid = _grid255_from_int_pcm(pcm)
    direct = int(phash64_batch(grid.reshape(1, PHASH_N, PHASH_N))[0])
    via_float = _fp(_int16(pcm.astype(np.float64) / 32767.0))
    assert direct == via_float

    assert _grid255_from_int_pcm(text_pcm_np("x" * (FP_FRAME - 1))) is None
    assert _fp(np.zeros(FP_FRAME - 1, dtype=np.int64)) is None


def test_text_fingerprint_locality():
    """Substitution-class edits (the audio-noise analogue on the text
    PCM) move few hash bits; different material lands far -- the same
    locality contract the sine clips pin, now on the text-PCM path."""
    def fp(t):
        return _fp(text_pcm_np(t))  # centered synthesis

    base = ("lorem ipsum dolor sit amet, consectetur adipiscing elit, "
            "sed do eiusmod tempor incididunt ut labore et dolore " * 8)
    edited = list(base)
    for i in range(40, len(edited), 97):  # scattered substitutions
        edited[i] = "#"
    ham_noise = bin(fp(base) ^ fp("".join(edited))).count("1")
    other = ("now is the winter of our discontent made glorious summer "
             "by this son of york and all the clouds that loured " * 8)
    ham_diff = bin(fp(base) ^ fp(other)).count("1")
    assert ham_noise <= 8, ham_noise
    assert ham_diff > 14, ham_diff
