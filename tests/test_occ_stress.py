"""Two-writer OCC stress on the versioned sink at 10x size: a
read-modify-write ``upsert`` racing another writer's publish
must surface ConcurrentWriteError -- never a silent drop or a torn
merge -- and the losing writer's retry must land with zero data loss.

The interleavings are forced deterministically (the loser's merge is
wrapped so the winner commits between the loser's snapshot and its
publish), which is the only way to make a race reproducible; the
assertions cover exactly the corruption classes a real race would
cause: the winner's rows lost, rows the winner removed resurrected, an
orphan version left by the loser, duplicate keys after retry."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SMOKE_SF_DIR as SF_DIR
from sec_xbrl_finwarehouse_spark import sinks

COPIES = 10


@pytest.fixture(scope="module")
def sf10x(spark, tmp_path_factory) -> str:
    """sf0.001 with the embeddings table amplified 10x (id-shifted
    copies, so vec_id stays unique)."""
    out = tmp_path_factory.mktemp("sf10x")
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    amplified = e
    for k in range(1, COPIES):
        amplified = amplified.unionByName(
            e.select(
                (F.col("vec_id") + 1000 * k).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    amplified.write.mode("overwrite").parquet(str(out / "embeddings.parquet"))
    return str(out)


def _build(spark, sf10x, tmp_path) -> str:
    path = str(tmp_path / "emb10x")
    sinks.upsert(spark, path,
                 spark.read.parquet(f"{sf10x}/embeddings.parquet"),
                 keys=["vec_id"])
    assert sinks.read_table(spark, path).count() >= COPIES * 400
    return path


def _batch(spark, path, offset: int):
    return (
        sinks.read_table(spark, path)
        .select("vec_id", "embedding", "label")
        .limit(3)
        .select((F.col("vec_id") + offset).alias("vec_id"), "embedding",
                "label")
        .localCheckpoint(eager=True)
    )


def _id_counts(spark, path) -> dict[int, int]:
    return {
        r["vec_id"]: r["n"]
        for r in sinks.read_table(spark, path)
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _race(monkeypatch, winner) -> None:
    """Run ``winner`` once, right after the next upsert has computed its
    merge against its snapshot and before it publishes."""
    real_merge = sinks._merge_with_audit
    fired = []

    def merge_then_interleave(*args, **kwargs):
        out = real_merge(*args, **kwargs)
        if not fired:
            fired.append(True)
            winner()
        return out

    monkeypatch.setattr(sinks, "_merge_with_audit", merge_then_interleave)


def _assert_clean_loss(path, tmp_path) -> None:
    # only the winner's commit and the version it superseded remain: the
    # loser's staged version and staging directory are gone
    versions = sinks.list_versions(path)
    assert len(versions) == 2 and versions[0]["is_current"]
    assert [p for p in os.listdir(tmp_path) if "__staging__" in p] == []


def test_occ_upsert_loses_to_append_then_retry_lands(
    spark, sf10x, tmp_path, monkeypatch
):
    """An append commits between the upsert's snapshot and publish: the
    upsert must abort cleanly, the appended rows must be current, and
    the retried upsert must land with every id present exactly once."""
    path = _build(spark, sf10x, tmp_path)
    before = _id_counts(spark, path)
    appended = _batch(spark, path, 5_000_000)
    app_ids = {r["vec_id"] for r in appended.collect()}
    update = _batch(spark, path, 7_000_000)
    upd_ids = {r["vec_id"] for r in update.collect()}

    _race(monkeypatch, lambda: sinks.append_if_absent(
        spark, path, appended, keys=["vec_id"]))
    with pytest.raises(sinks.ConcurrentWriteError):
        sinks.upsert(spark, path, update, keys=["vec_id"])
    monkeypatch.undo()

    # the append won: its rows are current, nothing of the upsert landed
    mid = _id_counts(spark, path)
    assert set(mid) == set(before) | app_ids
    assert all(n == 1 for n in mid.values())
    _assert_clean_loss(path, tmp_path)

    # retry: the upsert lands on the post-append snapshot
    sinks.upsert(spark, path, update, keys=["vec_id"])
    after = _id_counts(spark, path)
    assert set(after) == set(before) | app_ids | upd_ids
    assert all(n == 1 for n in after.values())
    # replay the same batch: idempotent by key
    sinks.upsert(spark, path, update, keys=["vec_id"])
    assert _id_counts(spark, path) == after


def test_occ_upsert_loses_to_rewrite_then_retry_lands(
    spark, sf10x, tmp_path, monkeypatch
):
    """A full rewrite that removes rows commits between the upsert's
    snapshot and publish: the upsert must abort rather than publish a
    merge of the stale snapshot (which would bring the removed rows
    back), and its retry must land on the rewritten table."""
    path = _build(spark, sf10x, tmp_path)
    before = _id_counts(spark, path)
    update = _batch(spark, path, 7_000_000)
    upd_ids = {r["vec_id"] for r in update.collect()}
    kept = {i for i in before if i % 2 == 0}

    _race(monkeypatch, lambda: sinks.write_replace(
        sinks.read_table(spark, path).filter(F.col("vec_id") % 2 == 0),
        path))
    with pytest.raises(sinks.ConcurrentWriteError):
        sinks.upsert(spark, path, update, keys=["vec_id"])
    monkeypatch.undo()

    # the rewrite won: exactly its rows, none of the upsert's
    assert set(_id_counts(spark, path)) == kept
    _assert_clean_loss(path, tmp_path)

    # retry: lands on the rewritten table, the removed rows stay removed
    sinks.upsert(spark, path, update, keys=["vec_id"])
    after = _id_counts(spark, path)
    assert set(after) == kept | upd_ids
    assert all(n == 1 for n in after.values())
