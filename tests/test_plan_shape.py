"""Physical-plan shape regression tests: the 100 TB design claims in
docstrings (one exchange for the statements pipeline, no corpus funnel
in ANN top-k, broadcast dims, pushed filters) asserted against
``explain``, so a refactor that silently adds a shuffle fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _n_exchanges(plan: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are the cheap,
    # intended kind); AQE may print ShuffleQueryStage wrappers
    return len(re.findall(r"Exchange hashpartitioning|Exchange rangepartitioning"
                          r"|Exchange RoundRobinPartitioning", plan))


@pytest.fixture(scope="module")
def qmap():
    return entrymod.queries()


def test_statements_pipeline_single_exchange(spark, qmap):
    """The cik hash repartition is the ONLY shuffle: both aggregation
    stages reuse it (keys are cik-prefixed), so the claim in
    star_facts.synthetic_facts holds."""
    plan = _plan(qmap["statements_annual"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_ratios_adds_no_exchange(spark, qmap):
    """Ratio derivation is projection-only on top of statements."""
    plan = _plan(qmap["ratios_annual"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_screener_broadcasts_companies(spark, qmap):
    """J2: companies dim joins via broadcast, never a shuffle of ratios;
    the top-k compiles to TakeOrderedAndProject (no global sort)."""
    plan = _plan(qmap["screener"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_window_dedup_latest_single_exchange(spark, qmap):
    """parallelize_scan's hash repartition on l_orderkey satisfies the
    window's ClusteredDistribution -- no second shuffle."""
    plan = _plan(qmap["window_dedup_latest"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_pivot_wide_single_exchange(spark, qmap):
    """One exchange hashed on l_suppkey serves both the dedup window
    (l_suppkey, l_returnflag) and the pivot groupBy(l_suppkey)."""
    plan = _plan(qmap["pivot_wide"](spark, SF_DIR))
    assert _n_exchanges(plan) == 1, plan


def test_emb_ann_topk_no_query_funnel(spark, qmap):
    """Two-phase top-k: no exchange partitioned ONLY by query_id below
    the first (partition-local) rank -- the corpus is never funneled
    into n_queries partitions before local pruning."""
    plan = _plan(qmap["emb_ann_topk"](spark, SF_DIR))
    # the only query_id-keyed exchange must sit above the survivor set
    # (which also carries pid through phase 1); the phase-1 window keys
    # include pid, so a bare query_id partitioning can appear at most
    # once (the global phase), never twice
    assert len(re.findall(r"hashpartitioning\(query_id#\d+, \d+\)", plan)) <= 1, plan


def test_top_k_orders_is_take_ordered(spark, qmap):
    """O1/O2 compile to distributed top-k, not sort + limit."""
    plan = _plan(qmap["top_k_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert _n_exchanges(plan) == 0, plan


def test_filter_pushdown_reaches_scan(spark):
    """P2/P3 predicates appear as parquet PushedFilters, and column
    pruning reaches ReadSchema (the §2 pushdown contract)."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.filter(F.col("l_quantity") >= 45).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "l_orderkey", "l_quantity"
    }, plan


def test_exact_dedup_shuffles_hash_key_not_text(spark, qmap):
    """doc_exact_dedup's aggregation keys on xxhash64(norm), so the
    exchange moves 8-byte keys -- the optimized plan groups by the hash
    expression, not the raw text."""
    plan = _optimized(qmap["doc_exact_dedup"](spark, SF_DIR))
    assert "xxhash64" in plan.lower()


def test_ivf_assignment_has_no_window(spark, qmap):
    """IVF cell assignment is a per-row array_sort over the broadcast
    centroid array -- a refactor back to the crossJoin + row_number
    window form (corpus x n_cells shuffle) must fail here. The only
    windows allowed are the two-phase top-k's rank windows, which sit
    ABOVE the probe join, never under the assignment."""
    plan = _optimized(qmap["emb_ivf_ann_topk"](spark, SF_DIR))
    # optimized plan text: Window nodes listing row_number over neighbor_id
    # would mark the old assignment form
    assert "windowspecdefinition(neighbor_id" not in plan, plan


def test_simhash_neardup_filters_before_dedup(spark, qmap):
    """The hamming cut must sit below the pair Deduplicate: banded
    collisions are ~1000x the true-pair count on vocabulary-correlated
    corpora, so deduping first shuffles the blowup. The optimized plan
    must show the bit_count filter under the Deduplicate node."""
    plan = _optimized(qmap["doc_simhash_neardup"](spark, SF_DIR))
    join_line = next(
        (ln for ln in plan.splitlines() if "Join Inner" in ln), ""
    )
    # with the filter written before the dedup, Catalyst folds the
    # hamming predicate INTO the join condition itself -- the strongest
    # placement (rows die at the probe, none reach the dedup)
    assert "bit_count" in join_line, plan[:2000]


def test_pii_scan_is_map_only(spark, qmap):
    """PII scan/redaction is a pure projection: the only exchange is the
    small-file scan spreader, the operator itself adds none."""
    plan = _plan(qmap["doc_pii_scan"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 1, plan


def test_int8_quantize_is_map_only(spark, qmap):
    """int8 quantization fuses into the scan -- per-row higher-order
    functions only, no shuffle beyond the scan spreader."""
    plan = _plan(qmap["emb_int8_quantize"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 1, plan


def test_global_shuffle_shards_not_global_sort(spark, qmap):
    """The training-order shuffle is per-shard windows (hash exchange on
    shard), never a rangepartitioning global sort of the corpus."""
    plan = _plan(qmap["doc_global_shuffle"](spark, SF_DIR))
    assert "Exchange rangepartitioning" not in plan, plan
    assert _n_exchanges(plan) <= 2, plan


def test_repetition_two_level_agg(spark, qmap):
    """Repetition metrics are the word-count shape: per-(doc,n,gram)
    partial agg then per-doc agg -- bounded exchanges, and the corpus
    re-entry join for empty docs is a broadcast, not a shuffle join."""
    plan = _plan(qmap["doc_repetition"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_ann_no_query_funnel(spark, qmap):
    """PQ/ADC ranking is two-phase like every top-k here: at most one
    bare query_id-keyed exchange (the tiny global phase), never a
    full-candidate funnel into n_queries partitions."""
    plan = _plan(qmap["emb_pq_ann_topk"](spark, SF_DIR))
    assert len(re.findall(r"hashpartitioning\(query_id#\d+, \d+\)", plan)) <= 1, plan


def test_ivfpq_no_funnel_no_corpus_shuffle(spark, qmap):
    """IVF+PQ composes the two proven shapes and must keep both: the
    cell assignment stays a per-row projection (no row_number window
    over neighbor_id), the probe join broadcasts the query side (no
    SortMergeJoin anywhere), and ranking is two-phase (at most one bare
    query_id exchange). Exactly two embeddings scans: corpus + the
    broadcast query side (the codebook subplan reuses them)."""
    df = qmap["emb_ivf_pq_ann_topk"](spark, SF_DIR)
    opt = _optimized(df)
    assert "windowspecdefinition(neighbor_id" not in opt, opt
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"hashpartitioning\(query_id#\d+, \d+\)", plan)) <= 1, plan


def test_hard_negatives_no_label_reattach_scan(spark, qmap):
    """The neighbor label rides THROUGH the shared top-k (carry) -- the
    r8 refactor removed the corpus-sized label re-attach join entirely,
    so the plan must contain exactly TWO embeddings scans (broadcast
    query side + corpus side) and no SortMergeJoin; a third scan means
    the re-join crept back."""
    plan = _plan(qmap["emb_hard_negatives"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    n_scans = plan.count("FileScan parquet")
    assert n_scans <= 2, f"{n_scans} scans\n" + plan[:2000]


def test_unigram_logprob_broadcasts_lm_no_token_shuffle_join(spark, qmap):
    """The r5 unigram plan joins the raw token stream to the
    vocabulary-sized LM via BROADCAST; a refactor back to the tf-level
    shuffle join (re-exchanging near-corpus-sized data by token) must
    fail here: no SortMergeJoin anywhere, and the per-doc aggregation
    keys on doc_id, reusing the scan's partitioning."""
    plan = _plan(qmap["doc_unigram_logprob"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # the only token-keyed exchange allowed is the one feeding the
    # vocabulary aggregation itself (tok as the grouping key), never a
    # join-input re-shuffle of (doc_id, tok) pairs
    assert not re.search(
        r"hashpartitioning\(tok#\d+, doc_id#\d+", plan
    ), plan


def test_paragraph_dedup_partial_agg_no_window_no_quadratic(spark, qmap):
    """Paragraph dedup must elect winners via a MAP-SIDE-COMBINABLE
    aggregation keyed on the paragraph text (partial_min before the
    exchange -- a hot boilerplate paragraph collapses to one row per
    input partition before shuffling), never a row_number window over
    the key (which would funnel every copy of a hot paragraph into one
    window partition with no partial aggregation), and contain nothing
    quadratic."""
    plan = _plan(qmap["doc_paragraph_dedup"](spark, SF_DIR))
    assert "partial_min" in plan, plan[:2000]
    assert re.search(r"hashpartitioning\(para#\d+", plan), plan[:2000]
    assert "windowspecdefinition(para" not in plan
    assert "windowspecdefinition(hkey" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ann_recall_reuses_two_phase_rankers(spark, qmap):
    """The recall evaluation composes the existing two-phase top-k
    subplans: no query-funnel exchange (bare query_id hashpartitioning
    beyond the tiny global phases) and no full cross join outside the
    broadcast-queries pattern."""
    plan = _plan(qmap["emb_ann_recall"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:2000]
    # both rankers contribute at most one bare query_id exchange each
    assert len(re.findall(r"hashpartitioning\(query_id#\d+, \d+\)", plan)) <= 2, plan


def test_span_dedup_two_phase_text_keyed_no_joinback(spark, qmap):
    """r9 re-plan (final form): span winner election is the TWO-PHASE
    row_number keyed on the exact shingle text -- phase 1 over
    (s, spark_partition_id) so a hot boilerplate shingle's copies are
    spread across window partitions, phase 2 over the local winners
    only. The plan must show BOTH window keyings, no xxhash64 anywhere
    (text IS the dedup identity -- no collision fallback to mis-key),
    and no join carrying s (a refactor back to the groupBy + join-back
    form, which shuffles the full span set twice, fails here)."""
    plan = _optimized(qmap["doc_span_dedup"](spark, SF_DIR))
    assert re.search(r"windowspecdefinition\(s#\d+, pid#\d+", plan), \
        plan[:2000]
    assert len(re.findall(r"windowspecdefinition\(s#\d+,", plan)) >= 2, \
        plan[:2000]
    assert "xxhash64" not in plan.lower()
    join_lines = [ln for ln in plan.splitlines() if "Join" in ln]
    assert join_lines, plan[:2000]
    assert not any(re.search(r"\bs#\d+", ln) for ln in join_lines), join_lines
