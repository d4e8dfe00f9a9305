"""Warehouse build driver: the reference's script sequence as one call.

The reference is operated as ``seed_companies.py`` -> ``ingest_facts.py``
-> ``build_statements_annual_v3.py`` -> ``compute_ratios.py``, each
materializing a mart into Postgres. :func:`build_all_marts` is that
workflow on the Spark engine: derive the facts/companies inputs, build
statements + ratios, and persist every mart through the upsert sink
(S5 + F12 audit columns), so a rebuild is an idempotent merge rather
than a blind overwrite -- running it twice leaves identical data with
``created_at`` preserved from the first run.

Scale notes: each mart write is one PK-keyed merge (sinks.upsert); the
ratios mart is computed from the published statements mart, so the facts
derivation runs once, and because every stage keys on cik(-prefixed)
columns, the whole rebuild reuses one entity partitioning (see
star_facts.synthetic_facts). At 100 TB the mart
paths point at partitioned object-store tables and nothing here changes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import sinks
from .plans.ratios import compute_ratios
from .plans.star_facts import star_companies, synthetic_facts
from .plans.statements import build_statements
from .session import default_parallelism
from .sources.tables import table_path


# primary key of statements_annual and ratios_annual (db/schema.sql);
# every mart upsert, the CLI's included, keys on it
MART_KEYS = ("cik", "fiscal_year")


def build_all_marts(spark: SparkSession, sf_dir: str, out_dir: str) -> dict[str, str]:
    """Materialize companies, statements_annual, and ratios_annual marts
    under ``out_dir`` via idempotent PK upserts. Returns mart -> path."""
    facts = synthetic_facts(
        spark.read.parquet(table_path(sf_dir, "lineitem")),
        entity_partitions=default_parallelism(),
    )
    return build_marts_from_facts(spark, facts, sf_dir, out_dir)


def build_marts_from_facts(
    spark: SparkSession, facts, sf_dir: str, out_dir: str,
    facts_version: str | None = None,
) -> dict[str, str]:
    """The mart builds of :func:`build_all_marts`, from an
    already-materialized facts frame (e.g. :func:`sinks.read_table` of
    the ingested facts table). Ratios are computed from the
    statements_annual version this build just published -- as
    ``cli.cmd_ratios`` does -- so the statements plan (facts scan,
    dedup window, pivot) runs once, not once per mart.

    ``facts_version`` (a :func:`sinks.list_versions` name) records
    WHICH facts version this build consumed -- the refresh baseline
    :func:`refresh_marts_incremental` diffs against. It is committed on
    the LAST mart written (ratios_annual), atomically with that mart's
    data: an interrupted build that died between mart commits leaves
    the baseline un-advanced, so the next refresh re-diffs and rebuilds
    rather than silently no-opping over a half-written refresh."""
    supplier = spark.read.parquet(table_path(sf_dir, "supplier"))
    companies = star_companies(supplier)
    statements = build_statements(facts, version="v3")
    paths = {
        "companies": f"{out_dir}/companies",
        "statements_annual": f"{out_dir}/statements_annual",
        "ratios_annual": f"{out_dir}/ratios_annual",
    }
    extra = (
        {FACTS_BASELINE_META: facts_version} if facts_version else None
    )
    sinks.upsert(spark, paths["companies"], companies, keys=["cik"])
    sinks.upsert(spark, paths["statements_annual"], statements,
                 keys=list(MART_KEYS))
    ratios = compute_ratios(sinks.read_table(spark, paths["statements_annual"]))
    sinks.upsert(spark, paths["ratios_annual"], ratios,
                 keys=list(MART_KEYS), manifest_extra=extra)
    return paths


# manifest_extra file (on the statements mart) naming the facts table
# version the last refresh consumed — the incremental-diff baseline
FACTS_BASELINE_META = "_facts_baseline"


def _cik_fingerprints(df):
    """Per-entity content fingerprint: sum of per-row sha2 prefixes
    (order-independent, duplicate-tolerant — raw facts are NOT unique
    on their natural key until the D1 dedup, so a PK-based diff would
    misfire). Two scans + one cik-keyed aggregation; at 100 TB the
    facts table is partitioned/bucketed by cik, so this is the cheap
    partition-local pass of an incremental refresh."""
    from pyspark.sql import functions as F

    row_h = F.sha2(
        F.concat_ws(
            "\x1f",
            *[F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
              for c in df.columns],
        ),
        256,
    )
    h_num = F.conv(F.substring(row_h, 1, 15), 16, 10).cast("decimal(38,0)")
    return df.select("cik", h_num.alias("h")).groupBy("cik").agg(
        F.sum("h").alias("fp"), F.count("*").alias("n_rows")
    )


def refresh_marts_incremental(
    spark: SparkSession,
    facts_path: str,
    out_dir: str,
    sf_dir: str,
) -> dict[str, int]:
    """Incremental mart refresh: only entities whose facts changed
    since the previous table version are rebuilt; everyone else's mart
    rows are carried over untouched (audit stamps included).

    The touched ``cik`` set (entity-count-sized, broadcast) is the
    refresh scope; the statements/ratios pipeline runs over ONLY the
    touched entities' current facts — at 100 TB this is the
    nightly-refresh cost model every warehouse needs: proportional to
    what changed, not to what exists. Entities whose facts disappeared
    entirely fall out of the mart (carry-over keeps only untouched
    ciks; a touched cik re-enters only through its rebuilt rows).

    Change detection is per-entity content fingerprints (sum of row
    hashes) between the current facts version and the BASELINE — the
    facts version the PREVIOUS refresh consumed, recorded atomically on
    the refresh's final mart commit (``manifest_extra``
    :data:`FACTS_BASELINE_META` on ratios_annual) — NOT simply the previous retained
    version: two facts publishes between refreshes would make a
    prev-version diff silently skip the earlier publish's entities
    (stale marts, no error). Returns {"touched_ciks": n,
    "statements_rows": m} (zeros when nothing changed — nothing is
    recomputed at all). Falls back to a FULL rebuild (−1/−1) when there
    is no baseline to diff against: first run, a mart predating
    baseline recording, a facts table not written through the versioned
    sink, or a baseline no longer retained (more publishes than the
    retention window since the last refresh — widen ``retain`` on the
    facts sink to keep refreshes incremental under bursty ingest)."""
    from pyspark.sql import functions as F

    versions = sinks.list_versions(facts_path)
    cur_version = versions[0]["version"] if versions else None
    # the baseline lives on the LAST mart a refresh commits
    # (ratios_annual): a refresh that died between mart commits leaves
    # it un-advanced, so the next run re-diffs and rebuilds both marts
    # (idempotent) instead of no-opping over a half-applied refresh
    baseline = sinks.read_version_meta(
        f"{out_dir}/ratios_annual", FACTS_BASELINE_META
    )
    retained = {v["version"] for v in versions}
    if cur_version is None or baseline is None or baseline not in retained:
        build_marts_from_facts(
            spark,
            sinks.read_table(spark, facts_path, version=cur_version)
            if cur_version else sinks.read_table(spark, facts_path),
            sf_dir, out_dir, facts_version=cur_version,
        )
        return {"touched_ciks": -1, "statements_rows": -1}  # full rebuild
    if baseline == cur_version:
        return {"touched_ciks": 0, "statements_rows": 0}
    prev = sinks.read_table(spark, facts_path, version=baseline)
    cur_fp = _cik_fingerprints(
        sinks.read_table(spark, facts_path, version=cur_version)
    )
    prev_fp = _cik_fingerprints(prev).withColumnRenamed("fp", "fp0") \
        .withColumnRenamed("n_rows", "n0")
    touched = (
        cur_fp.join(prev_fp, "cik", "full_outer")
        .filter(
            ~(F.col("fp").eqNullSafe(F.col("fp0"))
              & F.col("n_rows").eqNullSafe(F.col("n0")))
        )
        .select("cik")
    )
    n_touched = touched.count()
    if n_touched == 0:
        return {"touched_ciks": 0, "statements_rows": 0}

    facts_now = sinks.read_table(
        spark, facts_path, version=cur_version
    ).join(F.broadcast(touched), "cik")
    statements = build_statements(facts_now, version="v3")
    ratios = compute_ratios(statements)

    n_stmt = 0
    for mart, df in (
        ("statements_annual", statements),
        ("ratios_annual", ratios),
    ):
        path = f"{out_dir}/{mart}"
        # advance the baseline pointer atomically with the FINAL mart
        # commit of the refresh (see the read above)
        extra = (
            {FACTS_BASELINE_META: cur_version}
            if mart == "ratios_annual" else None
        )
        stored, expect = sinks._snapshot(spark, path)
        # the rebuilt rows are the FULL truth for touched ciks (a fiscal
        # year that vanished from the rebuild must drop), so carry
        # created_at for keys that already existed but do NOT union
        # stored touched-cik rows back in
        fresh = sinks._stamp_audit(stored, df, MART_KEYS)
        if stored is not None:
            fresh = stored.join(F.broadcast(touched), "cik", "left_anti") \
                .unionByName(fresh)
        sinks.write_replace(fresh, path, manifest_extra=extra,
                            expect_version=expect)
        if mart == "statements_annual":
            n_stmt = df.count()
    return {"touched_ciks": n_touched, "statements_rows": n_stmt}


def attach_warehouse(
    spark: SparkSession, out_dir: str, prefix: str = ""
) -> list[str]:
    """Register every stored table under ``out_dir`` as a temp view
    named after its directory (optionally prefixed), so the warehouse
    is queryable with plain ``spark.sql("SELECT ... FROM
    statements_annual")`` — the UX the reference gets from Postgres.

    Each view resolves the table's manifest pointer ONCE at attach
    time (readers pin an immutable version; re-attach after a publish
    to see the new one — the same snapshot semantics every catalog
    read has). Missing/non-table directories are skipped. Returns the
    view names created."""
    import os

    created = []
    if not os.path.isdir(out_dir):
        return created
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            continue
        df = sinks.read_table(spark, path)
        if df is None:
            continue
        view = f"{prefix}{name}"
        df.createOrReplaceTempView(view)
        created.append(view)
    return created
