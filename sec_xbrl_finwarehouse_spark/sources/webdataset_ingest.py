"""Incremental WebDataset ingest into the versioned store — the
append-only shard-pool pattern (img2dataset keeps emitting shards into
a prefix; the warehouse table must pick up ONLY the new ones):

* the set of already-ingested shard paths is the table's watermark,
  committed as ``manifest_extra`` INSIDE the version directory — data
  and watermark land in one atomic publish, so there is no state
  where samples landed but their shards were not recorded, or vice
  versa;
* each run lists the pool (a metadata-only ``binaryFile`` listing, no
  shard bytes touched), diffs against the watermark, and reads ONLY
  the new shards' members — ingest cost is proportional to NEW data,
  never to pool size;
* rows append via :func:`sinks.append_if_absent` on (shard, key); a
  crash anywhere leaves either the previous version (shards re-listed
  as new next run, rows deduped by the anti-join) or the complete new
  one — and a watermark lost to an unrelated full-table rewrite merely
  costs a re-scan, for the same reason;
* a run whose new shards contain only already-present samples still
  advances the watermark via :func:`sinks.commit_meta_only` (identical
  data, updated manifest) — without it, a pure-duplicate shard would
  be re-scanned on every run forever.

Metadata durability note: the two commit paths differ deliberately.
An appending run publishes via ``append_if_absent``, which carries
ONLY the watermark — metadata from a prior publish may describe files
the new version no longer matches, so it is dropped. The
duplicates-only path's ``commit_meta_only`` copies prior metadata
forward, which is safe precisely because its data is identical.

Scale notes: the shard listing and the watermark are shard-count-sized
(tens of thousands of entries for a 100 TB pool at ~1 GB/shard — a
driver-side set diff, not a data problem). The member read inherits
the streaming kernel's bounds; the append shuffles only new samples.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from .. import sinks
from .webdataset import read_webdataset_samples

INGESTED_META = "_ingested_shards"


def ingested_shards(table_path: str) -> set[str]:
    """Shard paths recorded by the CURRENT table version (empty when
    the table does not exist or carries no watermark)."""
    raw = sinks.read_version_meta(table_path, INGESTED_META)
    return set(json.loads(raw)) if raw else set()


def ingest_webdataset_incremental(
    spark: SparkSession,
    pool_glob: str,
    table_path: str,
) -> dict:
    """One incremental ingest run: list the pool, read only unseen
    shards, append their samples (ON CONFLICT (shard, key) DO
    NOTHING), and commit the advanced watermark atomically with the
    data. Returns ``{"listed": n, "new_shards": n, "appended_files":
    n}``; a run with no new shards touches nothing."""
    listed = [
        r["path"]
        for r in spark.read.format("binaryFile")
        .load(pool_glob)
        .select("path")
        .collect()
    ]
    seen = ingested_shards(table_path)
    new_shards = sorted(p for p in listed if p not in seen)
    if not new_shards:
        return {"listed": len(listed), "new_shards": 0,
                "appended_files": 0}
    samples = read_webdataset_samples(spark, new_shards).select(
        "shard", "key", "parts", "n_parts", "n_bytes"
    )
    watermark = {
        INGESTED_META: json.dumps(sorted(seen | set(new_shards)))
    }
    appended = sinks.append_if_absent(
        spark, table_path, samples, keys=("shard", "key"),
        manifest_extra=watermark,
    )
    if appended == 0:
        # pure-duplicate shards: advance the watermark anyway, or this
        # run's shards get re-scanned forever
        sinks.commit_meta_only(table_path, watermark)
    return {
        "listed": len(listed),
        "new_shards": len(new_shards),
        "appended_files": appended,
    }
