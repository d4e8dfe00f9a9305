"""Incremental benchmark decontamination against a STORED eval-set
index -- the shape a production ingest actually runs.

A pretraining pipeline does not re-derive its held-out benchmark
n-grams per batch: the eval set's distinct shingles are materialized
ONCE (:func:`build_decontam_index` -- benchmark suites are tiny
relative to the corpus, so the index is a broadcastable table), and
every incoming document batch probes them map-side:

* the batch's shingles broadcast-hash-join the stored index -- no
  shuffle of the batch's shingle stream, cost scales with the BATCH;
* the per-doc contaminated-shingle count completes map-side (each
  doc's shingles explode inside one partition);
* the decision columns match the batch query
  (plans/text_queries.q_doc_decontaminate) exactly, and when the
  index is built from the same corpus's test split the incremental
  scan of the train docs agrees with the from-scratch query row for
  row -- that agreement is unit-tested (tests/test_decontam_index.py).

Build once, probe per batch, corpus-sized work never.
No counterpart in `/root/reference/`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text_queries import (
    TRAIN_HEX,
    _documents,
    shingles_exploded_of,
)


def build_decontam_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> None:
    """Materialize the eval-set shingle index: the DISTINCT shingles of
    the md5-split test documents (the same deterministic split as
    q_doc_train_test_split). One distinct agg over the (small) test
    side; stored as plain parquet -- at real scale a benchmark suite is
    a few million shingles, far under the broadcast threshold."""
    d = _documents(spark, sf_dir)
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    test_docs = d.filter(~first_hex.isin(*TRAIN_HEX)).select(
        "doc_id", "text"
    )
    (
        shingles_exploded_of(test_docs)
        .select("shingle").distinct()
        .write.mode("overwrite").parquet(f"{index_dir}/eval_shingles")
    )


def decontaminate_incremental(
    spark: SparkSession, new_docs: DataFrame, index_dir: str
) -> DataFrame:
    """(doc_id, n_contaminated_shingles, contaminated) for a NEW
    (doc_id, text) batch against the stored eval-set index. The index
    side is broadcast, so the batch's shingle stream never shuffles;
    docs too short to shingle (or sharing nothing) report 0/false via
    the left join -- every input doc gets a verdict."""
    stored = spark.read.parquet(f"{index_dir}/eval_shingles")
    ex = shingles_exploded_of(new_docs.select("doc_id", "text"))
    hits = (
        ex.join(F.broadcast(stored), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_contaminated_shingles"))
    )
    return (
        new_docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_shingles", F.lit(0))
             .alias("n_contaminated_shingles"),
            (F.coalesce("n_contaminated_shingles", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )
