"""Cross-modal dedup union: one cluster table across text, image, and
audio near-dup evidence (r12; the r11 verdict's composition gap).

A training corpus is deduplicated per modality, but the DECISION is
per-document: a doc re-uploaded with trivially edited text is caught
by the image raster or the audio fingerprint even when the text
Jaccard falls under threshold. This module unions the three modal
pair graphs on doc_id and runs the shared
connected-components operator ONCE, so transitivity works ACROSS
modalities: A ~text~ B ~image~ C puts A and C in one cluster even
though no single modality links them.

No counterpart in ``/root/reference/`` (no dedup/multimodal surface);
additive LLM-pipeline functionality.

Scale shape: each modal pair graph is already sub-quadratic (banded
LSH / banded Hamming -- see the per-modality modules); the union is
edge-set-sized, the pair dedup shuffles survivors only, and the
components are labelled on the driver from the merged edge set alone
(operators/connected_components.py). Nothing here adds a corpus-sized
exchange on top of the per-modality pipelines.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.audiofp import text_phash_afp_column
from ..operators.connected_components import hash_min_components
from .audio_queries import AUDIO_NEARDUP_SQL
from .image_queries import ORACLES as _IMG_ORACLES
from .image_queries import banded_hamming_pairs
from .text_queries import (
    DOC_JACCARD_PAIRS_SQL,
    _documents,
    _persist_hot,
    q_doc_minhash_lsh_dedup,
)


def cluster_union_pair_graphs(
    docs: DataFrame, pair_graphs: list[DataFrame]
) -> DataFrame:
    """Union (d1, d2) pair DataFrames from any number of evidence
    sources, drop duplicate edges (the same pair often survives in
    several modalities), label components with the shared union-find
    operator, and left-join ``docs`` so singletons keep themselves.
    Factored out of the query so tests can feed planted pair graphs
    (e.g. a doc reachable only through an image edge)."""
    pairs = pair_graphs[0].select("d1", "d2")
    for pg in pair_graphs[1:]:
        pairs = pairs.unionByName(pg.select("d1", "d2"))
    pairs = pairs.dropDuplicates(["d1", "d2"])
    labels = hash_min_components(pairs).withColumnRenamed(
        "node_id", "doc_id"
    )
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("rep", "doc_id"))
        .select(
            "doc_id",
            "cluster_rep",
            (F.col("cluster_rep") == F.col("doc_id")).alias("keep"),
        )
    )


def q_multimodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-modal dedup decision: text MinHash/LSH pairs (exact
    Jaccard-verified), image banded-Hamming pairs, and audio
    banded-Hamming pairs, unioned into one edge set and closed
    transitively -- every document labeled with its cross-modal
    component's min doc_id, ``keep`` marking the canonical copy.

    r12 OPTIMIZATION (guide §2.6, overlap independent jobs): the three
    modal pair pipelines share no inputs past the raw scans, but a
    single lazy union evaluated them back-to-back inside one action --
    each pipeline's straggler tail (and its driver-side planning) left
    the cluster idle before the next one started. The pair graphs are
    persisted and materialized in TWO driver lanes: the text pipeline
    (pure JVM codegen) in one, the image-then-audio pipelines (one
    Arrow Python kernel, see below) in the other -- overlapping two
    Python-kernel stages with EACH OTHER was measured slower (two
    concurrent 32-task Arrow stages spawn ~2x the Python workers and
    thrash the decode kernels' CPU/memory), while JVM work overlaps
    Python-worker work on disjoint resources. The CC edge count then
    reads the cached pair sets. Same union, same rows (scheduling
    only); on a cluster the same two-lane overlap backfills executors
    (guide §2.6).

    r12 OPTIMIZATION (guide §4, the Python boundary): both perceptual
    hashes come from ONE fused Arrow kernel pass
    (functions/audiofp.text_phash_afp_column) over ONE documents scan,
    instead of the image and audio kernels each scanning the corpus and
    shipping the full text column JVM->Python separately -- the
    serialized Arrow lane was this query's critical path. The fused
    (doc_id, phash, afp) table is persisted (24 bytes/doc) and feeds
    both banded Hamming joins (image_queries.banded_hamming_pairs --
    the identical join both single-modality queries run). Hash values
    are bit-identical to the single-modality kernels (shared numpy
    functions, combined einsum batch is row-independent -- asserted in
    tests), so the pair graphs and clusters are unchanged."""
    fused = _persist_hot(
        # kernel=True: row-aware split width for the fused Arrow kernel
        # (guide §4.2, r13; see image_queries._doc_phashes)
        _documents(spark, sf_dir, kernel=True)
        .select(
            "doc_id",
            text_phash_afp_column(
                F.coalesce(F.col("text"), F.lit(""))
            ).alias("f"),
        )
        .select(
            "doc_id",
            F.col("f.phash").alias("phash"),
            F.col("f.afp").alias("afp"),
        )
    )
    text = q_doc_minhash_lsh_dedup(spark, sf_dir).select("d1", "d2").persist()
    image = banded_hamming_pairs(
        fused.select("doc_id", "phash"), "phash"
    ).select("d1", "d2").persist()
    audio = banded_hamming_pairs(
        fused.filter(F.col("afp").isNotNull()).select("doc_id", "afp"), "afp"
    ).select("d1", "d2").persist()

    def _lane(lane: tuple[tuple[str, DataFrame], ...]) -> None:
        for modality, df in lane:
            spark.sparkContext.setJobDescription(
                f"multimodal_dedup_clusters: {modality} pair graph"
            )
            df.count()

    lanes = [(("text", text),), (("image", image), ("audio", audio))]
    with ThreadPoolExecutor(max_workers=len(lanes)) as pool:
        # one wrap per lane: each gets its own copy of the caller's
        # local properties (job group) to set its description on
        futs = [pool.submit(inheritable_thread_target(spark)(_lane), lane)
                for lane in lanes]
        for fut in futs:
            fut.result()
    return cluster_union_pair_graphs(
        _documents(spark, sf_dir), [text, image, audio]
    )


# Oracle: the three modal pair selects ride verbatim as WITH-bearing
# subqueries (their CTE namespaces stay local, so the image and audio
# chains -- which share CTE names by design -- cannot collide), then
# the standard recursive-walk component closure.
MULTIMODAL_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE modal_pairs AS (
  SELECT d1, d2 FROM ({DOC_JACCARD_PAIRS_SQL}) tp
  UNION
  SELECT d1, d2 FROM ({_IMG_ORACLES["image_neardup"]}) ip
  UNION
  SELECT d1, d2 FROM ({AUDIO_NEARDUP_SQL}) ap
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM modal_pairs
  UNION ALL SELECT d2, d1 FROM modal_pairs
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
    "multimodal_dedup_clusters": q_multimodal_dedup_clusters,
}

ORACLES = {
    "multimodal_dedup_clusters": MULTIMODAL_DEDUP_CLUSTERS_SQL,
}
