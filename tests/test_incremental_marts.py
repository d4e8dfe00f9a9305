"""Incremental mart refresh via the facts change feed: after facts
change for a subset of entities, refresh_marts_incremental must (a)
recompute only that subset, (b) leave untouched entities' mart rows
bit-identical (audit stamps included), and (c) produce exactly the
mart a full from-scratch rebuild produces — including dropping rows
for entities whose facts disappeared."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_xbrl_finwarehouse_spark import sinks
from sec_xbrl_finwarehouse_spark.materialize import refresh_marts_incremental
from sec_xbrl_finwarehouse_spark.plans.ratios import compute_ratios
from sec_xbrl_finwarehouse_spark.plans.star_facts import synthetic_facts
from sec_xbrl_finwarehouse_spark.plans.statements import build_statements

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def facts(spark):
    return synthetic_facts(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet"),
        entity_partitions=4,
    ).localCheckpoint()


def _data(df, drop_audit=True):
    cols = [c for c in df.columns
            if not (drop_audit and c in ("created_at", "updated_at"))]
    return {tuple(r) for r in df.select(*cols).collect()}


def test_incremental_refresh_equals_full_rebuild(spark, tmp_path, facts):
    facts_path = str(tmp_path / "facts")
    marts = str(tmp_path / "marts")

    # generation 0: seed facts, first refresh = full build
    sinks.write_replace(facts, facts_path)
    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out["touched_ciks"] == -1  # no prior version -> full rebuild

    ciks = sorted(r[0] for r in facts.select("cik").distinct().collect())
    changed, dropped = ciks[0], ciks[1]

    # generation 1: bump one entity's values 10x, drop another entirely
    facts2 = (
        facts.withColumn(
            "value",
            F.when(F.col("cik") == changed, F.col("value") * 10)
            .otherwise(F.col("value")),
        )
        .filter(F.col("cik") != dropped)
    )
    sinks.write_replace(facts2, facts_path)

    stmts_before = sinks.read_table(spark, f"{marts}/statements_annual")
    untouched_before = _data(
        stmts_before.filter(~F.col("cik").isin(changed, dropped)),
        drop_audit=False,
    )

    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out["touched_ciks"] == 2  # exactly the changed + dropped ciks

    stmts_after = sinks.read_table(spark, f"{marts}/statements_annual")
    ratios_after = sinks.read_table(spark, f"{marts}/ratios_annual")

    # (b) untouched entities: bit-identical rows, audit stamps included
    untouched_after = _data(
        stmts_after.filter(~F.col("cik").isin(changed, dropped)),
        drop_audit=False,
    )
    assert untouched_after == untouched_before

    # (c) incremental result == full rebuild from current facts
    want_stmts = build_statements(facts2, version="v3")
    assert _data(stmts_after) == _data(want_stmts)
    assert _data(ratios_after) == _data(compute_ratios(want_stmts))
    # dropped entity fell out of both marts
    assert stmts_after.filter(F.col("cik") == dropped).count() == 0
    assert ratios_after.filter(F.col("cik") == dropped).count() == 0

    # generation 2: no change at all -> zero work
    sinks.write_replace(facts2, facts_path)
    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out == {"touched_ciks": 0, "statements_rows": 0}


def test_two_publishes_between_refreshes_both_rebuilt(spark, tmp_path, facts):
    """Regression: the diff baseline is the facts version the LAST
    refresh consumed (recorded on the statements mart commit), not
    blindly versions[1] — with TWO facts publishes between refreshes,
    a prev-version diff would silently skip the earlier publish's
    entities (stale marts, no error)."""
    facts_path = str(tmp_path / "facts")
    marts = str(tmp_path / "marts")

    sinks.write_replace(facts, facts_path)
    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out["touched_ciks"] == -1

    ciks = sorted(r[0] for r in facts.select("cik").distinct().collect())
    first_changed, second_changed = ciks[0], ciks[1]

    # publish #1: bump entity A; publish #2: bump entity B — retain=3
    # keeps the baseline version alive across both
    f1 = facts.withColumn(
        "value",
        F.when(F.col("cik") == first_changed, F.col("value") * 10)
        .otherwise(F.col("value")),
    )
    sinks.write_replace(f1, facts_path, retain=3)
    f2 = f1.withColumn(
        "value",
        F.when(F.col("cik") == second_changed, F.col("value") * 10)
        .otherwise(F.col("value")),
    )
    sinks.write_replace(f2, facts_path, retain=3)

    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out["touched_ciks"] == 2  # BOTH publishes' entities

    stmts = sinks.read_table(spark, f"{marts}/statements_annual")
    want = build_statements(f2, version="v3")
    assert _data(stmts) == _data(want)


def test_baseline_pruned_falls_back_to_full_rebuild(spark, tmp_path, facts):
    """When more publishes than the retention window land between
    refreshes, the baseline version is gone — the refresh must FULL
    rebuild (correct, just not incremental), never diff a wrong pair."""
    facts_path = str(tmp_path / "facts")
    marts = str(tmp_path / "marts")

    sinks.write_replace(facts, facts_path)
    refresh_marts_incremental(spark, facts_path, marts, SF_DIR)

    ciks = sorted(r[0] for r in facts.select("cik").distinct().collect())
    cur = facts
    for i, cik in enumerate(ciks[:3]):  # 3 publishes, retain=2 default
        cur = cur.withColumn(
            "value",
            F.when(F.col("cik") == cik, F.col("value") * (i + 2))
            .otherwise(F.col("value")),
        )
        sinks.write_replace(cur, facts_path)

    out = refresh_marts_incremental(spark, facts_path, marts, SF_DIR)
    assert out["touched_ciks"] == -1  # baseline pruned -> full rebuild
    stmts = sinks.read_table(spark, f"{marts}/statements_annual")
    assert _data(stmts) == _data(build_statements(cur, version="v3"))
