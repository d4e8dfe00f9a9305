"""LSH_BITS density-knob demonstration for the k-NN graph (r10
verdict #6).

BASELINE.md r9 documents that at FIXED 8-bit buckets the k-NN graph's
per-bucket population -- and with it the candidate-pair count and wall
clock -- grows superlinearly with corpus size in BOTH engines, and
names the bits-per-table knob as the production response. This tool
turns that sentence into a measurement: on the 20x sign-flip
decorrelated corpus (the honest near-dup embedding workload from
tools/scale_proof.py) it runs ``q_emb_knn_graph`` at ``lsh_bits`` = 8
(the oracle-pinned default) and 9, STRICTLY INTERLEAVED in one process
(wall time on a shared VM drifts in bursts), and reports per-bucket
density, candidate-pair mass, and min-of-3 wall clock for each
setting. Expected: +1 bit roughly halves mean bucket population and
candidate mass, pulling wall clock toward the 10x point's -- density
held ~constant under a 2x corpus by stepping bits with log2(growth).

Usage: python tools/lsh_bits_proof.py [ndemb20_dir] [bits...]
(defaults: /tmp/sf1_scaleproof_ndemb20, bits 8 and 9 -- the dir must
have been built by tools/scale_proof.py at 20x).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS",
    f"--driver-memory {os.environ.get('SPARK_DRIVER_MEMORY', '48g')} "
    "pyspark-shell",
)

REPS = 3


def main() -> None:
    d = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_scaleproof_ndemb20"
    bits_list = [int(b) for b in sys.argv[2:]] or [8, 9]

    from pyspark.sql import functions as F

    from sec_xbrl_finwarehouse_spark.plans import embedding_queries as eq
    from sec_xbrl_finwarehouse_spark.session import get_spark

    spark = get_spark("lsh-bits-proof")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    def bucket_stats(bits: int) -> dict:
        e = eq._embeddings(spark, d, parallel=False).select("vec_id", "emb")
        b = (
            e.select("vec_id", eq._lsh_buckets_udf(bits)("emb").alias("bks"))
            .select("vec_id", F.posexplode("bks").alias("tbl", "bucket"))
        )
        pop = b.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("n"))
        row = pop.agg(
            F.avg("n").alias("mean"),
            F.max("n").alias("max"),
            F.count(F.lit(1)).alias("n_buckets"),
            # ordered candidate mass BEFORE the pair distinct: the
            # shuffle volume the banded self-join actually pays
            F.sum(F.col("n") * (F.col("n") - 1)).alias("cand_mass"),
        ).first()
        return {
            "mean_bucket_pop": round(float(row["mean"]), 2),
            "max_bucket_pop": int(row["max"]),
            "n_buckets": int(row["n_buckets"]),
            "candidate_mass": int(row["cand_mass"]),
        }

    results = {b: {"stats": bucket_stats(b)} for b in bits_list}
    for b in bits_list:  # warmup (codegen + parquet footers)
        eq.q_emb_knn_graph(spark, d, lsh_bits=b).toPandas()
        spark.catalog.clearCache()
    times: dict[int, float] = {b: float("inf") for b in bits_list}
    for _ in range(REPS):  # interleaved: equal burst exposure
        for b in bits_list:
            t0 = time.time()
            eq.q_emb_knn_graph(spark, d, lsh_bits=b).toPandas()
            times[b] = min(times[b], time.time() - t0)
            spark.catalog.clearCache()
    for b in bits_list:
        results[b]["spark_sec_min"] = round(times[b], 3)
    print(json.dumps({
        "corpus": d,
        "lsh_tables": eq.LSH_TABLES,
        "results": {str(b): results[b] for b in bits_list},
    }))


if __name__ == "__main__":
    main()
