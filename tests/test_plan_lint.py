"""Whole-surface plan lint: every query in the driver contract is
analyzed (no execution) and screened for the plan shapes that do not
survive scale. Complements the targeted guards in test_plan_shape.py
with a blanket gate over ALL queries, so a new query or a refactor
cannot quietly introduce a quadratic join, a row-at-a-time Python UDF,
or a global sort.

Policy (allowlists are explicit and justified inline):

* ``CartesianProduct`` -- banned outright. Even the O(n^2)-by-design
  baselines (emb_cosine_neardup) express their cross join via a
  broadcast, never a shuffled cartesian.
* ``BatchEvalPython`` (row-Python UDF) -- banned outright; the engine's
  Python surface is Arrow-vectorized or absent.
* ``Exchange rangepartitioning`` (global sort) -- banned; every ordered
  output is a TakeOrdered top-k or a per-partition sort.
* ``RoundRobinPartitioning`` -- banned; all repartitions are keyed so
  downstream stages can reuse the exchange.
* ``BroadcastNestedLoopJoin`` -- allowed only where a TINY side
  (scalar totals, the 10-vector query set, centroid/codebook arrays)
  is broadcast under a cross join: the legitimate pattern. The
  allowlist pins exactly which queries may contain one, so a BNLJ
  appearing anywhere else (the at-scale OOM shape) fails.
* ``ArrowEvalPython`` -- allowed only in the LSH family, whose
  hyperplane projection runs as a vectorized pandas UDF.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

BANNED = [
    "CartesianProduct",
    "BatchEvalPython",
    "Exchange rangepartitioning",
    "RoundRobinPartitioning",
]

BNLJ_ALLOWED = {
    # broadcast cross joins of scalar/tiny sides (totals, query sets,
    # centroid and codebook arrays) -- bounded by construction
    "emb_ann_recall", "emb_ann_recall_sampled",
    "emb_ivf_recall", "emb_ann_topk", "emb_ivf_ann_topk",
    "emb_prefix_rerank_topk",
    "emb_cosine_neardup", "emb_nearest_centroid", "emb_pq_ann_topk",
    "emb_hard_negatives", "emb_kmeans_iter", "emb_lsh_ann_topk",
    "emb_lsh_neardup", "doc_semantic_dedup", "doc_length_histogram",
    "doc_domain_mix", "doc_tfidf_topk",
    "doc_unigram_logprob", "doc_mixture_sample",
    # r8: IVFPQ's one-row codebook array + the recall twin's exact
    # side; bigram LM's broadcast corpus-total cross join
    "emb_ivf_pq_ann_topk", "emb_ivfpq_recall", "doc_bigram_logprob",
    # r8: ANN-path hard-negative mining rides the same one-row
    # codebook broadcast cross join as the IVFPQ search it reuses
    "emb_hard_negatives_ann",
    # r8: CCNet bucketing broadcast-crosses a one-row tercile aggregate
    # (and inherits the unigram LM's allowed broadcast cross join)
    "doc_ccnet_bucket",
    # r9: DSIR broadcast-crosses the two one-row corpus totals onto the
    # B-row bucket table (same scalar-total pattern as the LM scorers)
    "doc_dsir_sample",
}

ARROW_ALLOWED = {
    # LSH hyperplane projection is an Arrow-vectorized pandas UDF
    "emb_lsh_ann_topk", "emb_lsh_neardup", "emb_dedup_clusters",
    "doc_semantic_dedup", "emb_ann_recall", "emb_ann_recall_sampled",
    "emb_knn_graph", "emb_knn_refine",
    # r10: the pHash raster+DCT runs as a batched-einsum Arrow kernel
    # (Catalyst higher-order functions have no let-binding, so a
    # column-expression DCT re-evaluates its input per element access
    # -- measured super-linear; see functions/phash.py)
    "image_phash", "image_neardup", "image_dedup_clusters",
    # r11: the audio fingerprint rides the same batched-einsum Arrow
    # kernel (functions/audiofp.py shares phash64_batch)
    "audio_fingerprint", "audio_neardup", "audio_dedup_clusters",
    # r12: the cross-modal union composes the image and audio pair
    # graphs, so their allowed Arrow kernels appear in its plan
    "multimodal_dedup_clusters",
}


# Spark's whole-stage codegen limit (spark.sql.codegen.maxFields,
# default 100): a plan node with more nested output fields than this
# runs interpreted. The session keeps the default.
CODEGEN_MAX_FIELDS = 100


@pytest.fixture(scope="module")
def query_executions(spark):
    return {
        name: fn(spark, SF_DIR)._jdf.queryExecution()
        for name, fn in entrymod.queries().items()
    }


@pytest.fixture(scope="module")
def plans(query_executions):
    return {
        name: qe.executedPlan().toString()
        for name, qe in query_executions.items()
    }


def test_no_banned_plan_nodes_anywhere(plans):
    bad = [
        (name, pat)
        for name, plan in plans.items()
        for pat in BANNED
        if pat in plan
    ]
    assert bad == [], bad


def test_bnlj_only_where_tiny_side_is_broadcast(plans):
    offenders = [
        name for name, plan in plans.items()
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED
    ]
    assert offenders == [], offenders


def test_arrow_udfs_only_in_lsh_family(plans):
    offenders = [
        name for name, plan in plans.items()
        if "ArrowEvalPython" in plan and name not in ARROW_ALLOWED
    ]
    assert offenders == [], offenders


def _nested_fields(dt) -> int:
    """Field count of a data type (its JSON form), as Spark's
    WholeStageCodegenExec counts it against the codegen limit."""
    if isinstance(dt, dict):
        kind = dt["type"]
        if kind == "struct":
            return sum(_nested_fields(f["type"]) for f in dt["fields"])
        if kind == "array":
            return _nested_fields(dt["elementType"])
        if kind == "map":
            return (_nested_fields(dt["keyType"])
                    + _nested_fields(dt["valueType"]))
    return 1


def _widest_node(plan) -> int:
    """Most nested output fields of any node of a physical plan,
    counting the plans of cached relations and adaptive plans too."""
    import json

    width = _nested_fields(json.loads(plan.schema().json()))
    subplans = [plan.children().apply(i) for i in range(plan.children().size())]
    subplans += [plan.innerChildren().apply(i)
                 for i in range(plan.innerChildren().size())]
    if plan.nodeName() == "AdaptiveSparkPlan":
        subplans.append(plan.inputPlan())
    for sub in subplans:
        if sub.getClass().getName().startswith("org.apache.spark.sql.execution"):
            width = max(width, _widest_node(sub))
    return width


def test_widest_node_counter_self_check(spark):
    """Negative control: a 128-aggregate GROUP BY (the shape of the
    old MinHash signature) must count past the limit, so the gate
    below cannot pass by counting nothing."""
    from pyspark.sql import functions as F

    wide = spark.range(10).groupBy((F.col("id") % 2).alias("k")).agg(
        *[F.min(F.col("id") + i).alias(f"m{i}") for i in range(128)]
    )
    assert _widest_node(wide._jdf.queryExecution().sparkPlan()) > 128


def test_no_plan_node_past_the_codegen_field_limit(query_executions):
    """Every ``queries()`` plan stays inside whole-stage codegen at Spark's
    default field limit, so the session needs no raised limit."""
    offenders = {
        name: w for name, qe in query_executions.items()
        if (w := _widest_node(qe.sparkPlan())) > CODEGEN_MAX_FIELDS
    }
    assert offenders == {}, offenders


def _marker_idx(line: str) -> int:
    """Tree depth of a plan line = column of its branch marker."""
    import re

    m = re.search(r"[+:]- ", line)
    return m.start() if m else -1  # root


def _has_single_partition_window(plan: str) -> bool:
    """True when a Window node sits on an ``Exchange SinglePartition``
    — the whole input funnels through ONE task (the shape that dies at
    100x). Scalar two-stage aggregates also exchange to a single
    partition, but their consumer is a (partial-fed) HashAggregate, so
    climbing the ancestor chain past Sort/codegen wrappers separates
    the two."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        cur = _marker_idx(ln)
        for j in range(i - 1, -1, -1):
            pj = _marker_idx(lines[j])
            if pj < cur:  # next ancestor up
                node = lines[j]
                if ("Sort " in node or "Sort[" in node
                        or "InputAdapter" in node
                        or "WholeStageCodegen" in node):
                    cur = pj
                    continue
                if "Window" in node:
                    return True
                break
    return False


def test_single_partition_window_detector_self_check(spark):
    """Negative control for the detector itself: a literal
    Window.partitionBy() plan MUST trip it, and a scalar two-stage
    aggregate (plus broadcast cross join) must NOT — if Spark's plan
    rendering drifts and the parser stops recognizing the shape, this
    fails loudly instead of letting the lint pass vacuously."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    bad = spark.range(100).withColumn(
        "t", F.sum("id").over(Window.partitionBy())
    )
    assert _has_single_partition_window(
        bad._jdf.queryExecution().executedPlan().toString()
    )
    tot = spark.range(100).agg(F.sum("id").alias("s"))
    good = spark.range(100).crossJoin(F.broadcast(tot))
    assert not _has_single_partition_window(
        good._jdf.queryExecution().executedPlan().toString()
    )


def test_no_single_partition_windows_anywhere(plans):
    """A Window over ``partitionBy()`` (empty spec) plans an Exchange
    SinglePartition feeding WindowExec: every row through one task.
    Banned across the whole query surface — scalar totals must be
    expressed as aggregates + broadcast cross join instead."""
    offenders = [
        name for name, plan in plans.items()
        if _has_single_partition_window(plan)
    ]
    assert offenders == [], offenders
