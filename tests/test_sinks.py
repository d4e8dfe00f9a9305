"""Stored-table sink tests: S5/S6 as writes, write-then-swap, F12
audit timestamps, and the re-ingest idempotence contract round-tripped
through parquet (VERDICT r1 "What's missing" #1/#3)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from sec_xbrl_finwarehouse_spark import sinks


def _rows(spark, df_path):
    return {
        tuple(r) for r in
        sinks.read_table(spark, df_path)
        .select("k", "v").orderBy("k").collect()
    }


def _mk(spark, pairs):
    return spark.createDataFrame([{"k": k, "v": v} for k, v in pairs])


def test_write_replace_swaps_atomically(spark, tmp_path):
    path = str(tmp_path / "t")
    sinks.write_replace(_mk(spark, [(1, "a")]), path)
    assert _rows(spark, path) == {(1, "a")}
    sinks.write_replace(_mk(spark, [(2, "b")]), path)
    assert _rows(spark, path) == {(2, "b")}
    # no staging/backup litter left behind
    assert [p for p in os.listdir(tmp_path) if "__" in p] == []


def test_write_replace_self_overwrite_safe(spark, tmp_path):
    """Rebuilding a table FROM ITSELF (the reference's mart refresh shape)
    must not hit Spark's cannot-overwrite-input-path trap."""
    path = str(tmp_path / "t")
    sinks.write_replace(_mk(spark, [(1, "a"), (2, "b")]), path)
    derived = sinks.read_table(spark, path).withColumn("v", F.upper("v"))
    sinks.write_replace(derived, path)
    assert _rows(spark, path) == {(1, "A"), (2, "B")}


def test_upsert_creates_then_merges(spark, tmp_path):
    path = str(tmp_path / "t")
    sinks.upsert(spark, path, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    sinks.upsert(spark, path, _mk(spark, [(2, "B2"), (3, "c")]), ["k"])
    assert _rows(spark, path) == {(1, "a"), (2, "B2"), (3, "c")}


def test_upsert_audit_semantics(spark, tmp_path):
    """created_at survives an overwrite; updated_at refreshes only for
    upserted keys (db/schema.sql:61, build_statements_annual_v3.py:175)."""
    path = str(tmp_path / "t")
    sinks.upsert(spark, path, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    first = {r["k"]: r for r in sinks.read_table(spark, path).collect()}
    assert all(r[sinks.CREATED_AT] == r[sinks.UPDATED_AT] for r in first.values())

    sinks.upsert(spark, path, _mk(spark, [(2, "B2")]), ["k"])
    second = {r["k"]: r for r in sinks.read_table(spark, path).collect()}
    # untouched key: both stamps unchanged
    assert second[1][sinks.CREATED_AT] == first[1][sinks.CREATED_AT]
    assert second[1][sinks.UPDATED_AT] == first[1][sinks.UPDATED_AT]
    # upserted key: created_at preserved, updated_at advanced
    assert second[2][sinks.CREATED_AT] == first[2][sinks.CREATED_AT]
    assert second[2][sinks.UPDATED_AT] >= first[2][sinks.UPDATED_AT]
    assert second[2]["v"] == "B2"


def test_upsert_reingest_idempotent(spark, tmp_path):
    """Running the same upsert batch twice leaves the same data rows as
    once (D2/SCD-0 re-ingest contract), now as a STORED table."""
    path = str(tmp_path / "t")
    batch = [(1, "a"), (2, "b"), (3, "c")]
    sinks.upsert(spark, path, _mk(spark, batch), ["k"])
    once = _rows(spark, path)
    sinks.upsert(spark, path, _mk(spark, batch), ["k"])
    twice = _rows(spark, path)
    assert once == twice == set(batch)
    # exactly one row per key (the merge never duplicates)
    assert sinks.read_table(spark, path).count() == 3


def test_append_if_absent_skips_existing_keys(spark, tmp_path):
    path = str(tmp_path / "t")
    sinks.append_if_absent(spark, path, _mk(spark, [(1, "a"), (2, "b")]), ["k"])
    n = sinks.append_if_absent(
        spark, path, _mk(spark, [(2, "CHANGED"), (3, "c")]), ["k"]
    )
    assert n > 0
    # key 2 keeps its ORIGINAL value: conflict -> DO NOTHING
    assert _rows(spark, path) == {(1, "a"), (2, "b"), (3, "c")}


def test_append_if_absent_pure_duplicate_is_noop(spark, tmp_path):
    """Re-running an identical batch commits zero files and leaves the
    table byte-identical (ingest_facts.py:119-143 idempotence)."""
    path = str(tmp_path / "t")
    batch = _mk(spark, [(1, "a"), (2, "b")])
    sinks.append_if_absent(spark, path, batch, ["k"])
    files_before = sorted(os.listdir(path))
    stamps_before = {
        r["k"]: (r[sinks.CREATED_AT], r[sinks.UPDATED_AT])
        for r in sinks.read_table(spark, path).collect()
    }
    n = sinks.append_if_absent(spark, path, batch, ["k"])
    assert n == 0
    assert sorted(os.listdir(path)) == files_before
    stamps_after = {
        r["k"]: (r[sinks.CREATED_AT], r[sinks.UPDATED_AT])
        for r in sinks.read_table(spark, path).collect()
    }
    assert stamps_after == stamps_before


def test_append_if_absent_dedups_within_batch(spark, tmp_path):
    path = str(tmp_path / "t")
    sinks.append_if_absent(
        spark, path, _mk(spark, [(1, "a"), (1, "a"), (2, "b")]), ["k"]
    )
    assert sinks.read_table(spark, path).count() == 2


def test_reader_across_publish_sees_old_version_intact(spark, tmp_path):
    """A reader that resolved the manifest pointer BEFORE a publish must
    keep scanning the complete old version (never a mixed or half-swapped
    table) -- the VERDICT r4 item 7 contract. The previous version's
    files are retained through the next publish, so the in-flight plan
    still resolves every file it listed."""
    path = str(tmp_path / "t")
    sinks.write_replace(_mk(spark, [(1, "a"), (2, "b")]), path)
    pinned = sinks.read_table(spark, path)  # resolves pointer now
    sinks.write_replace(_mk(spark, [(3, "c")]), path)  # overlapping publish
    # the pinned reader sees the complete OLD table...
    assert {tuple(r) for r in pinned.select("k", "v").collect()} == {
        (1, "a"), (2, "b"),
    }
    # ...and a fresh resolve sees the complete NEW one
    assert _rows(spark, path) == {(3, "c")}


def test_publish_retains_exactly_one_prior_version(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(4):
        sinks.write_replace(_mk(spark, [(i, "x")]), path)
    versions = [p for p in os.listdir(path) if p.startswith("v_")]
    assert len(versions) == 2  # current + previous, older ones pruned
    assert os.path.basename(sinks.current_data_dir(path)) in versions
    assert _rows(spark, path) == {(3, "x")}


def test_append_publishes_atomically_via_new_version(spark, tmp_path):
    """An append commits as a hard-linked new version + pointer swap: a
    reader pinned to the pre-append version never sees a partial batch."""
    path = str(tmp_path / "t")
    sinks.append_if_absent(spark, path, _mk(spark, [(1, "a")]), ["k"])
    pinned = sinks.read_table(spark, path)
    sinks.append_if_absent(spark, path, _mk(spark, [(2, "b"), (3, "c")]), ["k"])
    assert {r["k"] for r in pinned.collect()} == {1}       # old version
    assert _rows(spark, path) == {(1, "a"), (2, "b"), (3, "c")}  # new


def test_time_travel_versions(spark, tmp_path):
    """retain=N keeps a readable history: list_versions enumerates
    newest-first, read_table(version=...) reproduces each superseded
    snapshot exactly, and the retention window prunes the oldest."""
    from sec_xbrl_finwarehouse_spark.sinks import (
        list_versions, read_table, write_replace,
    )

    import pytest

    table = str(tmp_path / "tt_table")
    snapshots = []
    for i in range(4):
        df = spark.range(i + 1).withColumn("gen", F.lit(i))
        write_replace(df, table, retain=3)
        snapshots.append({tuple(r) for r in df.collect()})

    versions = list_versions(table)
    assert len(versions) == 3  # retention window pruned generation 0
    assert versions[0]["is_current"] and not versions[1]["is_current"]

    # newest-first maps onto generations 3, 2, 1
    for v, gen in zip(versions, (3, 2, 1)):
        got = {tuple(r) for r in read_table(
            spark, table, version=v["version"]
        ).collect()}
        assert got == snapshots[gen]

    with pytest.raises(FileNotFoundError):
        read_table(spark, table, version="v_nonexistent")


def test_optimistic_concurrency_rejects_stale_commit(spark, tmp_path):
    """A writer whose read snapshot was superseded must fail its commit
    (ConcurrentWriteError), leave the winner's data intact, and clean
    up its staged version; a retry from a fresh read succeeds."""
    from sec_xbrl_finwarehouse_spark.sinks import (
        ConcurrentWriteError, EXPECT_ABSENT, current_data_dir,
        list_versions, read_table, write_replace,
    )
    import os as _os

    table = str(tmp_path / "occ_table")
    df_a = spark.createDataFrame([(1, "A")], "k int, who string")
    df_b = spark.createDataFrame([(2, "B")], "k int, who string")

    # creation race: both expect the table absent; second loses
    write_replace(df_a, table, expect_version=EXPECT_ABSENT)
    with pytest.raises(ConcurrentWriteError):
        write_replace(df_b, table, expect_version=EXPECT_ABSENT)
    assert {r["who"] for r in read_table(spark, table).collect()} == {"A"}

    # update race: writer reads v_a, another writer commits, stale
    # expectation must be rejected and its staged version dir removed
    v_a = _os.path.basename(current_data_dir(table))
    write_replace(df_b, table)  # interleaving writer (LWW)
    n_dirs_before = len(list_versions(table))
    with pytest.raises(ConcurrentWriteError):
        write_replace(df_a, table, expect_version=v_a)
    assert {r["who"] for r in read_table(spark, table).collect()} == {"B"}
    assert len(list_versions(table)) == n_dirs_before  # staged dir gone

    # retry against the CURRENT version succeeds
    v_now = _os.path.basename(current_data_dir(table))
    write_replace(df_a, table, expect_version=v_now)
    assert {r["who"] for r in read_table(spark, table).collect()} == {"A"}


def test_occ_upsert_retry_preserves_both_writers(spark, tmp_path):
    """The lost-update scenario OCC exists for: writer 2's merge was
    computed against a snapshot writer 1 replaced. The stale merge
    errors instead of silently dropping writer 1's key;
    the retry merges against the fresh snapshot and BOTH keys survive."""
    from unittest.mock import patch

    from sec_xbrl_finwarehouse_spark import sinks as S

    table = str(tmp_path / "occ_upsert")
    S.upsert(spark, table, spark.createDataFrame(
        [(0, 0.0)], "k int, v double"), keys=["k"])

    w1 = spark.createDataFrame([(1, 1.0)], "k int, v double")
    w2 = spark.createDataFrame([(2, 2.0)], "k int, v double")

    # interleave: while writer 2 is between read and commit, writer 1
    # publishes. Emulate by injecting writer 1's upsert into writer 2's
    # post-read window via a patched merge hook.
    real_merge = S._merge_with_audit
    state = {"fired": False}

    def merge_then_interleave(existing, incoming, keys):
        out = real_merge(existing, incoming, keys)
        if not state["fired"]:
            state["fired"] = True
            S.upsert(spark, table, w1, keys=["k"])  # writer 1 wins the race
        return out

    with patch.object(S, "_merge_with_audit", merge_then_interleave):
        with pytest.raises(S.ConcurrentWriteError):
            S.upsert(spark, table, w2, keys=["k"])

    # retry from a fresh snapshot: nothing lost
    S.upsert(spark, table, w2, keys=["k"])
    got = {r["k"] for r in S.read_table(spark, table).collect()}
    assert got == {0, 1, 2}


# ---------------------------------------------------------------------------
# storage-bug regression tests: no-orphan publish failures, racing
# writers
# ---------------------------------------------------------------------------


def _orphan_versions(path, known):
    return [n for n in os.listdir(path)
            if n.startswith("v_") and n not in known]


def test_failed_publish_leaves_no_orphan_version(spark, tmp_path, monkeypatch):
    """A publish failure AFTER the staged version dir is moved in
    (OSError from the pointer swap, manifest write, ...) must remove
    the v_<hex>: an orphan would be enumerated as the newest version by
    retain-pruning and time travel."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], "part string, id int, v string"
    )
    sinks.upsert(spark, path, df, keys=["part", "id"])
    committed = {v["version"] for v in sinks.list_versions(path)}
    before = {(r["part"], r["id"], r["v"])
              for r in sinks.read_table(spark, path).collect()}

    def boom(*a, **kw):
        raise OSError("disk full")

    monkeypatch.setattr(sinks, "_commit", boom)
    with pytest.raises(OSError):
        sinks.upsert(
            spark, path,
            spark.createDataFrame([("a", 1, "X2")],
                                  "part string, id int, v string"),
            keys=["part", "id"],
        )
    with pytest.raises(OSError):
        sinks.append_if_absent(
            spark, path,
            spark.createDataFrame([("c", 9, "z")],
                                  "part string, id int, v string"),
            keys=["part", "id"],
        )
    monkeypatch.undo()
    assert _orphan_versions(path, committed) == []
    assert {v["version"] for v in sinks.list_versions(path)} == committed
    assert {(r["part"], r["id"], r["v"])
            for r in sinks.read_table(spark, path).collect()} == before
    # no staging litter either
    assert [p for p in os.listdir(tmp_path) if "__staging__" in p] == []


def test_occ_mismatch_leaves_no_orphan_version(spark, tmp_path):
    """The genuine ConcurrentWriteError path (OCC expect-version
    mismatch) also removes the already-moved-in version directory."""
    path = str(tmp_path / "t")
    sinks.write_replace(_mk(spark, [(1, "a")]), path)
    committed = {v["version"] for v in sinks.list_versions(path)}
    with pytest.raises(sinks.ConcurrentWriteError):
        sinks.write_replace(_mk(spark, [(2, "b")]), path,
                            expect_version="v_nonexistent")
    assert _orphan_versions(path, committed) == []
    assert _rows(spark, path) == {(1, "a")}


def test_version_order_survives_mtime_scramble(spark, tmp_path):
    """Content-addressed history: version order comes from the _SEQ
    commit sequence persisted at publish, NOT directory mtime. An
    external copy of the whole table tree (cp/rsync -- every mtime
    rewritten, here deliberately scrambled to REVERSE creation order)
    must still enumerate versions correctly, time-travel to the right
    snapshots, and retain-prune the genuinely oldest version on the
    next publish."""
    import shutil as _sh
    import time as _time

    src = str(tmp_path / "orig")
    snapshots = []
    for i in range(3):
        df = spark.range(i + 1).withColumn("gen", F.lit(i))
        sinks.write_replace(df, src, retain=4)
        snapshots.append({tuple(r) for r in df.collect()})
    order_before = [v["version"] for v in sinks.list_versions(src)]

    # external copy + mtime scramble: newest version gets the OLDEST
    # mtime and vice versa -- an mtime sort would exactly reverse history
    dst = str(tmp_path / "copied")
    _sh.copytree(src, dst)
    now = _time.time()
    for rank, name in enumerate(order_before):
        os.utime(os.path.join(dst, name), (now - 9999 * (rank + 1),) * 2)

    versions = sinks.list_versions(dst)
    assert [v["version"] for v in versions] == order_before
    assert versions[0]["is_current"]
    assert [v["seq"] for v in versions] == [3, 2, 1]
    for v, gen in zip(versions, (2, 1, 0)):
        got = {tuple(r) for r in sinks.read_table(
            spark, dst, version=v["version"]).collect()}
        assert got == snapshots[gen]

    # retain-prune on the copied table drops the genuinely oldest
    sinks.write_replace(
        spark.range(4).withColumn("gen", F.lit(3)), dst, retain=3)
    kept = [v["version"] for v in sinks.list_versions(dst)]
    assert len(kept) == 3
    assert order_before[-1] not in kept        # gen0 pruned
    assert set(order_before[:2]) <= set(kept)  # gen1, gen2 retained


# ---- property: version store under interleaved writers ---------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# ops are interpreted by the schedule test below
_op = st.one_of(
    st.tuples(st.just("upsert"),
              st.dictionaries(st.integers(0, 4), st.integers(0, 99),
                              min_size=1, max_size=3)),
    st.tuples(st.just("stale_write"),
              st.dictionaries(st.integers(0, 4), st.integers(0, 99),
                              min_size=1, max_size=3)),
    st.tuples(st.just("append"),
              st.dictionaries(st.integers(0, 6), st.integers(0, 99),
                              min_size=1, max_size=3)),
    st.tuples(st.just("rollback"), st.integers(0, 3)),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(schedule=st.lists(_op, min_size=1, max_size=5))
def test_version_store_occ_schedule_no_lost_updates(spark, tmp_path_factory,
                                                    schedule):
    """Randomized interleavings of upsert / stale-OCC-write /
    append-if-absent / rollback (a retained version read by time travel
    and republished) against a sequential model: (1) a stale writer
    (its read snapshot superseded by an interloper's commit) ALWAYS
    fails with ConcurrentWriteError and changes nothing -- the
    interloper's update is never lost; (2) after every successful op
    the stored table equals the model exactly; (3) no operation --
    including the failed commits -- leaves an orphan v_* directory
    (every v_* on disk is the one the pointer or retention accounts
    for)."""
    path = str(tmp_path_factory.mktemp("occ_sched") / "t")

    def df_of(d):
        return spark.createDataFrame(
            sorted(d.items()), "k int, v int")

    def table_dict():
        # the model holds data columns only: the audit stamps differ
        # per write and are not compared
        t = sinks.read_table(spark, path)
        if t is None:
            return {}
        t = t.drop(sinks.CREATED_AT, sinks.UPDATED_AT)
        return {r["k"]: r["v"] for r in t.collect()}

    def v_dirs():
        if not os.path.exists(path):
            return set()
        return {n for n in os.listdir(path)
                if n.startswith("v_") and os.path.isdir(
                    os.path.join(path, n))}

    model: dict[int, int] = {}
    by_version: dict[str, dict[int, int]] = {}

    def record_current():
        cur = sinks.current_data_dir(path)
        if cur:
            by_version[os.path.basename(cur)] = dict(model)

    for op, arg in schedule:
        if op == "upsert":
            sinks.upsert(spark, path, df_of(arg), keys=["k"], retain=4)
            model.update(arg)
            record_current()
        elif op == "stale_write":
            # writer A resolves its snapshot ...
            cur = sinks.current_data_dir(path)
            stale = sinks.EXPECT_ABSENT if cur is None \
                else os.path.basename(cur)
            # ... interloper B commits first (this update must survive)
            interloper = {k: v + 1000 for k, v in arg.items()}
            sinks.upsert(spark, path, df_of(interloper), keys=["k"],
                         retain=4)
            model.update(interloper)
            record_current()
            dirs_before = v_dirs()
            # ... A's commit against the superseded snapshot must fail
            # atomically: no data change, no orphan staged version
            with pytest.raises(sinks.ConcurrentWriteError):
                sinks.write_replace(df_of(arg), path, retain=4,
                                    expect_version=stale)
            assert v_dirs() == dirs_before
        elif op == "append":
            sinks.append_if_absent(spark, path, df_of(arg), keys=["k"])
            for k, v in arg.items():
                model.setdefault(k, v)
            record_current()
        elif op == "rollback":
            targets = [v["version"] for v in sinks.list_versions(path)
                       if not v["is_current"] and v["version"] in by_version]
            if not targets:
                continue
            target = targets[arg % len(targets)]
            cur = os.path.basename(sinks.current_data_dir(path))
            sinks.write_replace(
                sinks.read_table(spark, path, version=target), path,
                retain=4, expect_version=cur)
            model = dict(by_version[target])
            record_current()
        assert table_dict() == model
        # no orphans: every v_* directory on disk is enumerated by the
        # version catalog (an orphan would corrupt retain accounting)
        assert v_dirs() == {v["version"] for v in sinks.list_versions(path)}


def test_append_race_publishes_each_key_once(spark, tmp_path, monkeypatch):
    """ON CONFLICT DO NOTHING under a racing writer: another append of
    the same key lands after this append's anti-join. The late writer
    must fail its commit (it linked files of a version that is no longer
    current) rather than publish the key twice; its retry sees the other
    row and appends nothing."""
    path = str(tmp_path / "t")
    sinks.append_if_absent(spark, path, _mk(spark, [(1, "a")]), ["k"])
    real_num_rows = sinks._parquet_num_rows
    fired = []

    def num_rows_then_interleave(part_path):
        if not fired:
            fired.append(True)
            sinks.append_if_absent(spark, path, _mk(spark, [(2, "other")]),
                                   ["k"])
        return real_num_rows(part_path)

    monkeypatch.setattr(sinks, "_parquet_num_rows", num_rows_then_interleave)
    with pytest.raises(sinks.ConcurrentWriteError):
        sinks.append_if_absent(spark, path, _mk(spark, [(2, "mine")]), ["k"])
    monkeypatch.undo()
    assert fired
    assert sinks.append_if_absent(
        spark, path, _mk(spark, [(2, "mine")]), ["k"]) == 0
    got = sorted(tuple(r) for r in sinks.read_table(spark, path)
                 .select("k", "v").collect())
    assert got == [(1, "a"), (2, "other")]
    assert [p for p in os.listdir(tmp_path) if "__staging__" in p] == []


def test_staged_publish_survives_racing_prunes(spark, tmp_path, monkeypatch):
    """A publish is staged outside the table root, so a racing writer's
    retain-prune can never reach it: writer A has staged its version
    when writer B publishes twice with retain=1; A then commits and its
    rows are current. At every commit the root holds only stamped
    (committed) version directories."""
    path = str(tmp_path / "t")
    sinks.write_replace(_mk(spark, [(0, "first")]), path)
    real_commit = sinks._commit
    roots = []

    def v_dirs_stamped():
        names = [n for n in os.listdir(path) if n.startswith("v_")]
        return names and all(
            os.path.isfile(os.path.join(path, n, "_SEQ")) for n in names)

    def commit_after_racer(table, staged, *args, **kwargs):
        if not roots:  # writer A: B commits twice before A does
            roots.append("A staged")
            for i in (1, 2):
                sinks.write_replace(_mk(spark, [(i, "B")]), path, retain=1)
            assert os.path.isdir(staged)
        assert v_dirs_stamped()
        version = real_commit(table, staged, *args, **kwargs)
        assert v_dirs_stamped()
        roots.append(version)
        return version

    monkeypatch.setattr(sinks, "_commit", commit_after_racer)
    sinks.write_replace(_mk(spark, [(9, "A")]), path)
    monkeypatch.undo()
    assert len(roots) == 4  # A's staging, B's two commits, A's commit
    assert os.path.basename(sinks.current_data_dir(path)) == roots[-1]
    assert _rows(spark, path) == {(9, "A")}
