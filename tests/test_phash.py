"""pHash kernel + image near-dup tests: pinned golden hashes, the
perceptual-locality property (small perturbation -> small Hamming
distance), raster/oracle parity, and the banded near-dup plan's
losslessness against a brute-force Hamming scan."""

from __future__ import annotations

import numpy as np

from sec_xbrl_finwarehouse_spark.functions.phash import (
    COS_T,
    PHASH_BITS,
    PHASH_N,
    phash64_batch,
    raster32_np,
)


def _phash64(pixels) -> int:
    """pHash of one grid (1024-value flat or 32x32) through the batch
    kernel."""
    return int(phash64_batch(
        np.asarray(pixels).reshape(1, PHASH_N, PHASH_N))[0])


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
    h1, h2 = _phash64(g), _phash64(g.flatten())
    assert h1 == h2
    assert 0 <= h1 < (1 << PHASH_BITS)
    # exactly half-ish of the 63 AC bits set (median threshold)
    assert 20 <= bin(h1).count("1") <= 43


def test_phash_perceptual_locality():
    g = _gradient()
    base = _phash64(g)
    # mild noise: a few pixels nudged -> a few bits at most
    noisy = g.copy()
    noisy[0, 0] = min(255, noisy[0, 0] + 9)
    noisy[20, 7] = max(0, noisy[20, 7] - 9)
    near = _phash64(noisy)
    assert bin(base ^ near).count("1") <= 6
    # a structurally different image -> many bits
    other = _phash64(_gradient().T[::-1])
    assert bin(base ^ other).count("1") > 12


def test_phash_batch_matches_single():
    grids = np.stack([_gradient(), _gradient().T, np.zeros((32, 32))])
    batch = phash64_batch(grids)
    assert list(batch) == [_phash64(g) for g in grids]
    # all-constant grid: every AC coefficient 0, no bit above median
    assert batch[2] == 0


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
    h1 = _phash64(raster32_np(base_txt))
    h2 = _phash64(raster32_np(base_txt[:100] + "X" + base_txt[101:]))
    assert bin(h1 ^ h2).count("1") <= 6
    # a different text is FAR (separation, not just locality)
    h3 = _phash64(raster32_np("penguins on drifting ice floes " * 16))
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
    exp = {i: _phash64(raster32_np(t)) for i, t in enumerate(texts)}
    assert got == exp


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
