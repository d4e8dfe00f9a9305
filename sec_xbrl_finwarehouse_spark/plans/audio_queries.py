"""Perceptual audio fingerprint dedup -- the AUDIO member of the
perceptual-dedup family, driver-checkable (r11).

The fingerprint kernel is :mod:`..functions.audiofp`: integer PCM ->
256-sample frames -> 32-bin quantized-DCT magnitudes per frame ->
frames pooled into a 32x32 time-frequency grid normalized to [0, 255]
-> the image family's phash64 (same quantized cosine table, byte-equal
first 8 rows -- asserted in tests). The near-dup join is the same
7-band x 9-bit lossless banded Hamming shape as
:mod:`.image_queries` / SimHash.

Driver-checkable input: the test corpus ships no audio files, so --
exactly like the image family's deterministic text raster -- these
queries synthesize deterministic PCM from each document's TEXT
(:func:`..functions.audiofp.text_pcm_np`: one integer sample per
character, codepoint clamped to 255). Documents shorter than one
analysis frame (FP_FRAME = 256 characters) fingerprint to NULL, in
both engines. No audio codec is implemented.

No counterpart in `/root/reference/` (no multimodal surface); this is
additive LLM-pipeline functionality.

Scale shape: fingerprinting is ONE Arrow-vectorized numpy kernel
(map-side, zero shuffle -- the phash.py einsum decision, same
measured Catalyst higher-order-function pathology). The only shuffles
are the (band, key) LSH exchange (fan-out 7 rows/clip) and the final
pair dedup, which sees only Hamming-verified survivors because the
filter sits join-side of the distinct -- the ordering measured on the
SimHash twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.audiofp import FP_FRAME, _ext_table, text_audiofp_column
from .image_queries import (
    IMG_BAND_BITS,
    IMG_BANDS,
    IMG_HAM_MAX,
    PHASH_N,
    banded_hamming_pairs,
    phash_tail_ctes,
)
from .text_queries import _documents, _persist_hot

# same lossless banding geometry as the image family: 7 x 9 = 63 bits,
# pigeonhole guarantees any pair within Hamming 6 collides on a band
AUDIO_BANDS = IMG_BANDS
AUDIO_BAND_BITS = IMG_BAND_BITS
AUDIO_HAM_MAX = IMG_HAM_MAX
FP_FOLD = FP_FRAME // PHASH_N  # 8: consecutive samples per envelope bin


def _doc_afps(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kernel=True: row-aware split width so the fingerprint Arrow
    # kernel gets full batches, not 32 near-empty ones (guide §4.2, r13)
    d = _documents(spark, sf_dir, kernel=True)
    return d.select(
        "doc_id",
        text_audiofp_column(F.coalesce(F.col("text"), F.lit(""))).alias(
            "afp"
        ),
    )


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perceptual audio fingerprint of the deterministic
    text PCM -- (doc_id, afp BIGINT; NULL when shorter than one
    analysis frame). The DuckDB oracle reproduces every fingerprint
    bit-exactly (quantized-DCT integer arithmetic end to end; see
    module and functions/audiofp.py docstrings)."""
    return _doc_afps(spark, sf_dir)


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clip pairs by fingerprint Hamming distance, banded for
    scale: (band, 9-bit key) equi-join candidates, exact
    ``bit_count(xor) <= AUDIO_HAM_MAX`` (= AUDIO_BANDS - 1) verification,
    Hamming filter BEFORE the pair distinct (survivor-sized shuffle).
    Lossless by pigeonhole; NULL fingerprints (too-short clips) never band."""
    # persisted: both self-join sides + the guide §4.4 pushdown
    # duplication of the Arrow fingerprint kernel (see the image twin).
    # The banded join is the image family's banded_hamming_pairs (this
    # module's banding constants alias its by design).
    sh = _persist_hot(_doc_afps(spark, sf_dir).filter(F.col("afp").isNotNull()))
    return banded_hamming_pairs(sh, "afp")


def q_audio_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio-dedup DECISION completed: banded Hamming pairs ->
    transitive clusters via the shared connected-components
    operator, every document labeled with its component's min doc_id
    and ``keep`` marking the canonical clip -- what "dedup the audio
    shards" executes at 100 TB. Same plan spine as
    image_queries.q_image_dedup_clusters."""
    from ..operators.connected_components import hash_min_components

    pairs = q_audio_neardup(spark, sf_dir).select("d1", "d2")
    labels = hash_min_components(pairs).withColumnRenamed(
        "node_id", "doc_id"
    )
    docs = _documents(spark, sf_dir).select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("rep", "doc_id"))
        .select(
            "doc_id",
            "cluster_rep",
            (F.col("cluster_rep") == F.col("doc_id")).alias("keep"),
        )
    )


# ---- DuckDB oracles --------------------------------------------------------

# the FULL 32x32 quantized DCT-II basis (rows 0..7 byte-equal to the
# image oracle's COS_T -- asserted at import in functions/audiofp.py);
# the shared phash tail indexes only those first 256 entries
_T32_SQL = "[" + ", ".join(
    str(int(v)) for v in _ext_table().reshape(-1)
) + "]"

# Shared CTE chain ending in ``ph(doc_id, phash)``: text -> clamped
# codes (the PCM) -> per-frame folded 32-bin envelope -> |quantized
# DCT| spectra -> 32-slot pooled grid -> [0,255] scale -> the image
# family's phash tail (ONE spelling of the DCT sandwich, imported from
# image_queries so the arithmetic cannot drift). Same integer ops as
# audiofp.py: floor-div everywhere, coalesce-0 for empty slot sums,
# greatest(...,1) slot counts, abs() spectra. Shifts are avoided
# entirely (DuckDB >> binds looser than -/comparison); explicit
# multiplies/divides only.
_AUDIO_FP_CTES = f"""
WITH tt AS (SELECT {_T32_SQL} AS t),
codes0 AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(coalesce(text, ''), '(?s).'),
                        x -> CAST(least(unicode(x), 255) AS BIGINT)) AS cd0,
         CAST(length(coalesce(text, '')) AS BIGINT) AS len
  FROM documents
),
codes1 AS (
  -- the clip's integer-mean code, hoisted to a COLUMN so the
  -- centering lambda below is O(len): inside list_transform DuckDB
  -- re-evaluates list_sum(cd0) per element, which made this CTE
  -- O(len^2) per document (ADVICE r11)
  SELECT doc_id, cd0, len,
         CASE WHEN len > 0 THEN CAST(list_sum(cd0) AS BIGINT) // len
              ELSE 0 END AS mean_code
  FROM codes0
),
codes AS (
  -- zero-center: subtract the clip's integer-mean code (audiofp.py
  -- text_pcm_np -- prose byte signals are all-positive; uncentered,
  -- the envelope DC collapses every fingerprint to one value)
  SELECT doc_id,
         CASE WHEN len > 0
              THEN list_transform(cd0, x -> x - mean_code)
              ELSE cd0 END AS cd,
         len // {FP_FRAME} AS nf
  FROM codes1
),
folded AS (
  -- frame f = i // 32, envelope bin b = i mod 32: sum of the 8
  -- consecutive samples cd[f*256 + b*8 + 1 .. f*256 + b*8 + 8]
  SELECT doc_id, nf,
         list_transform(range(0, nf * {PHASH_N}), i ->
           CAST(list_sum(
             cd[(i // {PHASH_N}) * {FP_FRAME} + (i % {PHASH_N}) * {FP_FOLD} + 1 :
                (i // {PHASH_N}) * {FP_FRAME} + (i % {PHASH_N}) * {FP_FOLD} + {FP_FOLD}])
           AS BIGINT)) AS fd
  FROM codes WHERE nf > 0
),
spec AS (
  -- |DCT| magnitude: frame f = i // 32, spectral bin u = i mod 32
  SELECT doc_id, nf,
         list_transform(range(0, nf * {PHASH_N}), i ->
           CAST(abs(list_sum(list_transform(range(0, {PHASH_N}), b ->
             fd[CAST((i // {PHASH_N}) * {PHASH_N} + b AS BIGINT) + 1]
             * t[CAST((i % {PHASH_N}) * {PHASH_N} + b AS BIGINT) + 1])))
           AS BIGINT)) AS sp
  FROM folded CROSS JOIN tt
),
grid AS (
  -- slot s = g // 32, bin u = g mod 32; slot s pools frames
  -- [(s*nf)//32, ((s+1)*nf)//32) by integer mean (empty slot -> 0)
  SELECT doc_id,
         list_transform(range(0, {PHASH_N * PHASH_N}), g ->
           CAST(coalesce(list_sum(list_transform(
                  range(((g // {PHASH_N}) * nf) // {PHASH_N},
                        (((g // {PHASH_N}) + 1) * nf) // {PHASH_N}),
                  f -> sp[CAST(f * {PHASH_N} + (g % {PHASH_N}) AS BIGINT) + 1])), 0)
                // greatest((((g // {PHASH_N}) + 1) * nf) // {PHASH_N}
                            - ((g // {PHASH_N}) * nf) // {PHASH_N}, 1)
           AS BIGINT)) AS gr
  FROM spec
),
pxs AS (
  SELECT doc_id,
         CASE WHEN mx <= 0 THEN list_transform(gr, e -> CAST(0 AS BIGINT))
              ELSE list_transform(gr, e -> (e * 255) // mx) END AS px
  FROM (SELECT doc_id, gr, list_max(gr) AS mx FROM grid) z
)""" + phash_tail_ctes("pxs")

AUDIO_FINGERPRINT_SQL = f"""{_AUDIO_FP_CTES}
SELECT d.doc_id, ph.phash AS afp
FROM documents d LEFT JOIN ph USING (doc_id)
"""

AUDIO_NEARDUP_SQL = f"""{_AUDIO_FP_CTES},
banded AS (
  SELECT doc_id, phash, t.band,
         (phash >> (t.band * {AUDIO_BAND_BITS}))
           & {(1 << AUDIO_BAND_BITS) - 1} AS key
  FROM ph CROSS JOIN (SELECT unnest(range(0, {AUDIO_BANDS})) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                  a.phash AS p1, b.phash AS p2
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.phash, b.phash)) <= {AUDIO_HAM_MAX}
)
SELECT d1, d2, bit_count(xor(p1, p2))::BIGINT AS hamming
FROM cand
"""

AUDIO_DEDUP_CLUSTERS_SQL = f"""{_AUDIO_FP_CTES},
banded AS (
  SELECT doc_id, phash, t.band,
         (phash >> (t.band * {AUDIO_BAND_BITS}))
           & {(1 << AUDIO_BAND_BITS) - 1} AS key
  FROM ph CROSS JOIN (SELECT unnest(range(0, {AUDIO_BANDS})) AS band) t
),
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.phash, b.phash)) <= {AUDIO_HAM_MAX}
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs
),
walk AS (
  SELECT a AS doc_id, a AS reach FROM edges
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (SELECT doc_id, min(reach) AS cluster_rep FROM walk GROUP BY doc_id)
SELECT x.doc_id,
       coalesce(c.cluster_rep, x.doc_id) AS cluster_rep,
       coalesce(c.cluster_rep, x.doc_id) = x.doc_id AS keep
FROM documents x LEFT JOIN comp c USING (doc_id)
"""


QUERIES = {
    "audio_fingerprint": q_audio_fingerprint,
    "audio_neardup": q_audio_neardup,
    "audio_dedup_clusters": q_audio_dedup_clusters,
}

ORACLES = {
    "audio_fingerprint": AUDIO_FINGERPRINT_SQL,
    "audio_neardup": AUDIO_NEARDUP_SQL,
    "audio_dedup_clusters": "WITH RECURSIVE "
    + AUDIO_DEDUP_CLUSTERS_SQL.removeprefix("\nWITH "),
}
