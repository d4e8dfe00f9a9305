"""Perceptual-hash (pHash) image near-dup -- the multimodal member of
the dedup family.

The hash kernel is :mod:`..functions.phash` (integer-exact 32x32 ->
8x8 DCT, quantized cosine table, 63 AC bits); the near-dup join is the
same banded-Hamming LSH shape as text SimHash
(:func:`.text_queries.q_doc_simhash_neardup`): 7 bands x 9 bits, so a
pair within Hamming distance 6 is guaranteed (pigeonhole) to collide
on at least one band -- banding is LOSSLESS, recall 1.0 vs the O(n^2)
Hamming scan.

Driver-checkable input: the test corpus ships no image files, so the
driver queries raster each document's TEXT into a deterministic 32x32
grayscale "thumbnail" (byte-signal boxcar downsample: pixel p averages
the character codes in an overlapping window around the p/1024
length-fraction of the text -- the 1-D analogue of an image's area
downsampling; substitution-class edits, the analogue of image
noise/re-encode, move ~2 hash bits -- see raster32_np's docstring for
the measured properties and the insert/delete caveat). The package
decodes no image payloads: text rasters are the only pHash input.

The reference warehouse has no multimodal surface, so there is no
counterpart there; this is additive LLM-pipeline functionality.

Scale shape: raster + DCT run as ONE Arrow-vectorized numpy kernel
(batched einsum -- map-side, zero shuffle, the same decision and for
the same measured reason as the LSH hyperplane projection: Catalyst
higher-order functions have no let-binding, so a column-expression
DCT re-evaluates its input array per element access; see
functions/phash.py). The only shuffles are the (band, key) LSH
exchange (fan-out 7 rows/doc, the query-side-only LSH cost model) and
the final pair dedup, which sees only Hamming-verified survivors
because the filter sits join-side of the distinct -- the same
early-filter ordering measured on the SimHash twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.phash import (
    COS_T,
    PHASH_BITS,
    PHASH_D,
    PHASH_N,
    RASTER_PX,
    text_phash_column,
)
from .text_queries import _documents, _persist_hot

PHASH_D_N = PHASH_D * PHASH_N  # 256: row-pass intermediate size
PHASH_DD = PHASH_D * PHASH_D   # 64: low-frequency block size
PHASH_MED = (PHASH_BITS + 1) // 2  # 32nd order statistic of 63 AC values

IMG_BANDS = 7
IMG_BAND_BITS = 9  # 7 x 9 = 63 bits exactly
IMG_HAM_MAX = IMG_BANDS - 1  # pigeonhole-lossless banding


def _doc_phashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kernel=True: row-aware split width so the pHash Arrow kernel gets
    # full batches, not 32 near-empty ones (guide §4.2, r13)
    d = _documents(spark, sf_dir, kernel=True)
    return d.select(
        "doc_id",
        text_phash_column(F.coalesce(F.col("text"), F.lit(""))).alias(
            "phash"
        ),
    )


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perceptual hash of the deterministic text raster --
    (doc_id, phash BIGINT). The DuckDB oracle reproduces every hash
    bit-exactly (quantized-DCT integer arithmetic; see module and
    functions/phash.py docstrings)."""
    return _doc_phashes(spark, sf_dir)


def banded_hamming_pairs(sh: DataFrame, hcol: str) -> DataFrame:
    """(doc_id, ``hcol`` 63-bit hash) table -> verified near-dup pairs
    (d1, d2, hamming): (band, 9-bit key) equi-join candidates, exact
    ``bit_count(xor) <= IMG_HAM_MAX`` (= IMG_BANDS - 1) verification,
    Hamming filter BEFORE the pair distinct (survivor-sized shuffle --
    the ordering measured on the SimHash twin). Lossless by pigeonhole:
    IMG_BANDS - 1 differing bits cannot touch all IMG_BANDS bands. The
    caller persists ``sh`` (it feeds both self-join sides). ONE spelling
    of the banded join shared by the image, audio, and cross-modal
    queries (the audio family's banding constants alias these by
    design)."""
    banded = sh.select(
        "doc_id", hcol,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(hcol), b * IMG_BAND_BITS)
                 .bitwiseAND(F.lit((1 << IMG_BAND_BITS) - 1)).alias("key"),
            )
            for b in range(IMG_BANDS)
        ])).alias("bk"),
    ).select("doc_id", hcol, F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    left = banded.select(F.col("doc_id").alias("d1"),
                         F.col(hcol).alias("p1"), "band", "key")
    right = banded.select(F.col("doc_id").alias("d2"),
                          F.col(hcol).alias("p2"), "band", "key")
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
             .cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= IMG_HAM_MAX)
        .dropDuplicates(["d1", "d2"])
    )


def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by pHash Hamming distance, banded for scale --
    see :func:`banded_hamming_pairs` for the join shape."""
    # persisted: the hash table feeds both self-join sides, and the
    # isnotnull(key) pushdown additionally DUPLICATED the Arrow pHash
    # kernel below the pushed filter on each side (guide §4.4 -- the
    # before-plan shows 2 ArrowEvalPython per side, 4 kernel passes
    # total); one persist makes it 1 pass. 16 bytes/doc.
    sh = _persist_hot(_doc_phashes(spark, sf_dir))
    return banded_hamming_pairs(sh, "phash")


# ---- DuckDB oracles --------------------------------------------------------

_T_SQL = "[" + ", ".join(str(v) for v in COS_T) + "]"

# Shared CTE chain ending in ``ph(doc_id, phash)`` -- one spelling for
# both oracles so the raster/DCT arithmetic cannot drift between them.
# Same integer operations as the Spark plan: clamp-255 codes, >> 10
# slice bounds, // integer mean, quantized-DCT, 32nd-order-statistic
# median, 63-bit pack.
_IMAGE_PHASH_CTES = f"""
WITH tt AS (SELECT {_T_SQL} AS t),
codes AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(coalesce(text, ''), '(?s).'),
                        x -> CAST(least(unicode(x), 255) AS BIGINT)) AS cd,
         CAST(length(coalesce(text, '')) AS BIGINT) AS len
  FROM documents
),
pix AS (
  -- overlapping-window boxcar mean around the anchor (p*len) >> 10,
  -- half-width greatest(len >> 6, 1) -- see raster32_np. NOTE:
  -- DuckDB's >> binds LOOSER than -/comparison, so every shift is
  -- fully parenthesized.
  SELECT doc_id,
         list_transform(range(0, {RASTER_PX}), p -> CASE WHEN len > 0
           THEN CAST(list_sum(
                  cd[greatest(((p * len) >> 10) - greatest((len >> 6), 1), 0) + 1 :
                     least(((p * len) >> 10) + greatest((len >> 6), 1), len)])
                AS BIGINT)
                // (least(((p * len) >> 10) + greatest((len >> 6), 1), len)
                    - greatest(((p * len) >> 10) - greatest((len >> 6), 1), 0))
           ELSE 0 END) AS px
  FROM codes
)""" + "{tail}"


def phash_tail_ctes(px_src: str) -> str:
    """The DCT-sandwich + median-threshold + bit-pack CTE tail ending
    in ``ph(doc_id, phash)`` -- ONE spelling of the phash64_batch
    arithmetic shared by every oracle that hashes a 32x32 grid: the
    image raster here and the audio time-frequency grid
    (plans/audio_queries.py). ``px_src`` names the producing CTE,
    whose ``px`` column is the row-major 1024-value grid; ``tt``'s
    ``t`` table needs only its first 256 entries (rows 0..7 of the
    DCT basis), so the audio oracle's extended 1024-entry table reads
    identically."""
    return f""",
m AS (
  SELECT doc_id,
         list_transform(range(0, {PHASH_D_N}), i ->
           CAST(list_sum(list_transform(range(0, {PHASH_N}), r ->
             t[CAST((i // {PHASH_N}) * {PHASH_N} + r AS BIGINT) + 1]
             * px[CAST(r * {PHASH_N} + (i % {PHASH_N}) AS BIGINT) + 1]))
           AS BIGINT)) AS mm
  FROM {px_src} CROSS JOIN tt
),
cc AS (
  SELECT doc_id,
         list_transform(range(0, {PHASH_DD}), j ->
           CAST(list_sum(list_transform(range(0, {PHASH_N}), c ->
             mm[CAST((j // {PHASH_D}) * {PHASH_N} + c AS BIGINT) + 1]
             * t[CAST((j % {PHASH_D}) * {PHASH_N} + c AS BIGINT) + 1]))
           AS BIGINT)) AS c
  FROM m CROSS JOIN tt
),
ph AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, {PHASH_BITS}), j ->
           CASE WHEN c[CAST(j AS BIGINT) + 2] > med
                THEN CAST(1 AS BIGINT) << j ELSE 0 END))
         AS BIGINT) AS phash
  FROM (SELECT doc_id, c, list_sort(c[2:{PHASH_DD}])[{PHASH_MED}] AS med
        FROM cc)
)"""


_IMAGE_PHASH_CTES = _IMAGE_PHASH_CTES.format(tail=phash_tail_ctes("pix"))

IMAGE_PHASH_SQL = """{ctes}
SELECT doc_id, phash FROM ph
"""

IMAGE_NEARDUP_SQL = """{ctes},
banded AS (
  SELECT doc_id, phash, t.band,
         (phash >> (t.band * {band_bits})) & {band_mask} AS key
  FROM ph CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                  a.phash AS p1, b.phash AS p2
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.phash, b.phash)) <= {ham_max}
)
SELECT d1, d2, bit_count(xor(p1, p2))::BIGINT AS hamming
FROM cand
"""


def _fmt(sql: str) -> str:
    return sql.format(
        ctes=_IMAGE_PHASH_CTES,
        band_bits=IMG_BAND_BITS,
        band_mask=(1 << IMG_BAND_BITS) - 1,
        bands=IMG_BANDS,
        ham_max=IMG_HAM_MAX,
    )


def q_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual-dedup DECISION completed: banded Hamming pairs ->
    transitive clusters via the shared connected-components
    operator (the same pairwise-to-decision step the Jaccard and
    edit-distance families ride), every document labeled with its
    component's min doc_id and ``keep`` marking the canonical copy.
    This is what an image-dedup pipeline actually EXECUTES at 100 TB:
    keep one representative per visual near-dup clique, drop the
    re-encodes/re-uploads. Documents outside every pair keep
    themselves via the left join. The components are labelled on
    the driver from the pair graph alone -- see
    operators/connected_components.py."""
    from ..operators.connected_components import hash_min_components

    pairs = q_image_neardup(spark, sf_dir).select(
        F.col("d1").alias("d1"), F.col("d2").alias("d2")
    )
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


IMAGE_DEDUP_CLUSTERS_SQL = """{ctes},
banded AS (
  SELECT doc_id, phash, t.band,
         (phash >> (t.band * {band_bits})) & {band_mask} AS key
  FROM ph CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) t
),
pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.phash, b.phash)) <= {ham_max}
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
    "image_phash": q_image_phash,
    "image_neardup": q_image_neardup,
    "image_dedup_clusters": q_image_dedup_clusters,
}

ORACLES = {
    "image_phash": _fmt(IMAGE_PHASH_SQL),
    "image_neardup": _fmt(IMAGE_NEARDUP_SQL),
    "image_dedup_clusters": "WITH RECURSIVE "
    + _fmt(IMAGE_DEDUP_CLUSTERS_SQL).removeprefix("\nWITH "),
}
