"""pHash kernel + image near-dup tests: pinned golden hashes, the
perceptual-locality property (small perturbation -> small Hamming
distance), decode-kernel reuse (real PNG bytes through decode_image ->
gray32 -> phash), raster/oracle parity, and the banded near-dup plan's
losslessness against a brute-force Hamming scan."""

from __future__ import annotations

import numpy as np
import pytest

from sec_xbrl_finwarehouse_spark.functions.phash import (
    COS_T,
    PHASH_BITS,
    gray32_np,
    image_phash_features,
    phash64_batch,
    phash64_np,
    raster32_np,
)
from tests.test_multimodal import _encode_png


def _gradient(n=32):
    """Deterministic non-trivial grid: diagonal gradient + a blob."""
    i, j = np.meshgrid(np.arange(n), np.arange(n), indexing="ij")
    g = (i * 3 + j * 5) % 256
    g[8:16, 8:16] = 250
    return g


def test_cos_table_is_pinned():
    # the quantized DCT basis is a shared engine constant -- drift
    # would silently break every stored hash
    assert COS_T[:3] == [16384, 16384, 16384]  # u=0 row: cos(0)
    assert len(COS_T) == 256
    assert COS_T[32] == 16364  # u=1, r=0: round(cos(pi/64) * 2^14)
    assert min(COS_T) >= -16384 and max(COS_T) <= 16384


def test_phash_golden_value_and_determinism():
    g = _gradient()
    h1, h2 = phash64_np(g), phash64_np(g.flatten())
    assert h1 == h2
    assert 0 <= h1 < (1 << PHASH_BITS)
    # exactly half-ish of the 63 AC bits set (median threshold)
    assert 20 <= bin(h1).count("1") <= 43


def test_phash_perceptual_locality():
    g = _gradient()
    base = phash64_np(g)
    # mild noise: a few pixels nudged -> a few bits at most
    noisy = g.copy()
    noisy[0, 0] = min(255, noisy[0, 0] + 9)
    noisy[20, 7] = max(0, noisy[20, 7] - 9)
    near = phash64_np(noisy)
    assert bin(base ^ near).count("1") <= 6
    # a structurally different image -> many bits
    other = phash64_np(_gradient().T[::-1])
    assert bin(base ^ other).count("1") > 12


def test_phash_batch_matches_single():
    grids = np.stack([_gradient(), _gradient().T, np.zeros((32, 32))])
    batch = phash64_batch(grids)
    assert list(batch) == [phash64_np(g) for g in grids]
    # all-constant grid: every AC coefficient 0, no bit above median
    assert batch[2] == 0


def test_gray32_area_downsample():
    # constant RGB -> constant luma grid at the integer 601 weights
    img = np.full((64, 48, 3), 200, dtype=np.uint8)
    g = gray32_np(img)
    assert g.shape == (32, 32)
    assert np.all(g == (200 * 299 + 200 * 587 + 200 * 114) // 1000)
    # tiny image: nearest-sample clamping still fills the grid
    tiny = np.arange(4, dtype=np.uint8).reshape(2, 2) * 60
    gt = gray32_np(tiny)
    assert gt.shape == (32, 32)
    assert set(np.unique(gt)) <= {0, 60, 120, 180}


def test_phash_survives_png_reencode_and_noise():
    """Decode-kernel reuse: the hash over REAL decoded PNG pixels is
    stable under re-encoding (lossless round-trip -> identical hash)
    and close under mild pixel noise -- the property that makes it a
    near-dup key for re-encoded/re-uploaded images."""
    from sec_xbrl_finwarehouse_spark.functions.multimodal import decode_image

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (40, 40, 3)).astype(np.uint8)
    base = phash64_np(gray32_np(decode_image(_encode_png(img))))
    again = phash64_np(gray32_np(decode_image(_encode_png(img, 2))))
    assert base == again  # PNG is lossless; filter type irrelevant
    noisy = img.astype(np.int64)
    noisy[::9, ::9] += 6
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    near = phash64_np(gray32_np(decode_image(_encode_png(noisy))))
    assert bin(base ^ near).count("1") <= 10


def test_raster32_semantics():
    assert np.all(raster32_np("") == 0)
    # reference implementation of the windowed boxcar mean, computed
    # the slow way -- pins the definition the SQL oracle mirrors
    t = "".join(chr(32 + (i * 7) % 95) for i in range(200))
    codes = [min(ord(c), 255) for c in t]
    ln = len(codes)
    w = max(1, ln >> 6)
    exp = []
    for p in range(1024):
        c = (p * ln) >> 10
        lo, hi = max(c - w, 0), min(c + w, ln)
        exp.append(sum(codes[lo:hi]) // (hi - lo))
    assert list(raster32_np(t)) == exp
    # substitution-robustness (the image-noise analogue): one changed
    # character perturbs a handful of hash bits at most
    import random

    random.seed(3)
    base_txt = "".join(
        random.choice("abcdefghij klmnopqrs tuvwxyz.") for _ in range(500)
    )
    h1 = phash64_np(raster32_np(base_txt))
    h2 = phash64_np(raster32_np(base_txt[:100] + "X" + base_txt[101:]))
    assert bin(h1 ^ h2).count("1") <= 6
    # a different text is FAR (separation, not just locality)
    h3 = phash64_np(raster32_np("penguins on drifting ice floes " * 16))
    assert bin(h1 ^ h3).count("1") > 12


def test_text_phash_column_matches_numpy(spark):
    from pyspark.sql import functions as F

    from sec_xbrl_finwarehouse_spark.functions.phash import (
        text_phash_column,
    )

    texts = ["hello world " * 20, "", "abc", "the quick brown fox " * 40]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["ph"]
        for r in df.select(
            "id", text_phash_column(F.col("text")).alias("ph")
        ).collect()
    }
    exp = {i: phash64_np(raster32_np(t)) for i, t in enumerate(texts)}
    assert got == exp


def test_image_phash_features_real_and_rejected(spark):
    from sec_xbrl_finwarehouse_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
    )

    img = (np.arange(27) % 256).astype(np.uint8).reshape(3, 3, 3)
    png = _encode_png(img)
    rows = [
        (1, "image", png, (3, 3, 3, None, None, "png")),
        (2, "image", b"not an image", (None,) * 6),
        (3, "audio", b"RIFFxxxx", (None,) * 6),  # filtered by kind
    ]
    out = image_phash_features(
        spark.createDataFrame(rows, MEDIA_SCHEMA)
    ).collect()
    by_id = {r["media_id"]: r for r in out}
    assert set(by_id) == {1, 2}
    assert by_id[1]["decoded_real"] is True
    assert by_id[1]["phash"] == phash64_np(gray32_np(decode_image(png)))
    assert by_id[2]["decoded_real"] is False and by_id[2]["phash"] is None


def test_image_neardup_lossless_vs_bruteforce(spark):
    """Banding must lose NOTHING within the Hamming budget: compare the
    banded near-dup query against a brute-force pairwise scan of the
    same hashes on a corpus slice."""
    from sec_xbrl_finwarehouse_spark.plans import image_queries as iq

    sf = "/root/testdata/sf0.001"
    hashes = iq.q_image_phash(spark, sf).collect()
    brute = sorted(
        (a["doc_id"], b["doc_id"],
         bin(a["phash"] ^ b["phash"]).count("1"))
        for i, a in enumerate(hashes)
        for b in hashes[i + 1:]
        if bin(a["phash"] ^ b["phash"]).count("1") <= iq.IMG_HAM_MAX
    )
    banded = sorted(
        (r["d1"], r["d2"], r["hamming"])
        for r in iq.q_image_neardup(spark, sf).collect()
    )
    assert banded == brute


def test_image_neardup_finds_planted_pair(spark):
    """End-to-end positive control on a planted near-identical text
    pair (one character changed): both docs hash within the Hamming
    budget and the banded join surfaces exactly that pair."""
    from pyspark.sql import functions as F

    from sec_xbrl_finwarehouse_spark.functions.phash import (
        text_phash_column,
    )
    from sec_xbrl_finwarehouse_spark.plans.image_queries import (
        IMG_BAND_BITS,
        IMG_BANDS,
        IMG_HAM_MAX,
    )

    base = "a quarterly revenue statement for the fiscal year " * 10
    edited = base[:137] + "Q" + base[138:]
    other = "completely different content about penguins and ice " * 10
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    sh = df.select(
        "doc_id", text_phash_column(F.col("text")).alias("phash")
    )
    banded = sh.select(
        "doc_id", "phash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("phash"), b * IMG_BAND_BITS)
                 .bitwiseAND(F.lit((1 << IMG_BAND_BITS) - 1)).alias("key"),
            )
            for b in range(IMG_BANDS)
        ])).alias("bk"),
    ).select("doc_id", "phash", "bk.band", "bk.key")
    left = banded.select(F.col("doc_id").alias("d1"),
                         F.col("phash").alias("p1"), "band", "key")
    right = banded.select(F.col("doc_id").alias("d2"),
                          F.col("phash").alias("p2"), "band", "key")
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
             .cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= IMG_HAM_MAX)
        .dropDuplicates(["d1", "d2"])
        .collect()
    )
    assert [(r["d1"], r["d2"]) for r in pairs] == [(1, 2)]
