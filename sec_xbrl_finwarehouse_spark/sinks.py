"""Persistence layer: stored parquet tables with upsert / insert-if-
absent / replace semantics (SURVEY.md §2.1 S5/S6 as WRITES, plus the F12
``now()`` audit columns).

The reference materializes every mart into Postgres with
``INSERT ... ON CONFLICT`` (build_statements_annual_v3.py:156-176,
compute_ratios.py:47-64, seed_companies.py:52-61, ingest_facts.py:119-143)
and stamps rows with ``created_at``/``updated_at`` defaults refreshed on
upsert (db/schema.sql:11,22,61; v3.py:175). Spark file tables have no
in-place conflict resolution, so each write mode here maps onto the
idiom that actually scales on an object store / distributed FS:

* ``write_replace``  -- full-table write + manifest-pointer commit: the
  new version is written to its own immutable directory under the table
  root, then published by atomically replacing the ``_CURRENT`` pointer
  file. Readers resolve the pointer once at read time and scan ONE
  version directory, so a reader overlapping a publish sees the old
  version or the new one, never a half-swapped mix -- and because the
  previous version's files are retained until the NEXT publish, a
  reader that resolved just before the swap still finds every file it
  listed (the window a bare directory-rename swap leaves open). A query
  that READS the table it is rebuilding (the self-overwrite trap Spark
  errors on or, worse, truncates with) is safe for the same reason: the
  scan's file list points at the old version directory throughout.
* ``upsert`` (S5) -- ON CONFLICT DO UPDATE: merge incoming over stored
  with :func:`~.operators.upsert.upsert_latest_wins`, preserving
  ``created_at`` for keys that already existed and refreshing
  ``updated_at`` for upserted keys (v3.py:164-175), then write-then-swap
  the merged table. At 100 TB this is the compaction-style merge every
  copy-on-write table format (Delta/Iceberg/Hudi COW) performs; the
  shuffle is one exchange on the PK. Partition the stored table on a
  key prefix so the rewrite touches only affected partitions.
* ``append_if_absent`` (S6) -- ON CONFLICT DO NOTHING: anti-join
  incoming against stored keys, then commit ONLY the new rows: a new
  version directory hard-links every existing part-file (zero data
  copy) plus the staged new files, and the pointer swap publishes both
  together. Existing data is never rewritten -- the append-only fast
  path (ingest_facts.py:119-143) -- and re-running the same batch is a
  byte-identical no-op (zero fresh rows publishes no new version,
  leaving even timestamps untouched).

Audit columns (F12): ``created_at`` is assigned once when a key first
enters the table; ``updated_at`` refreshes whenever an upsert overwrites
the key. Both are ``current_timestamp()`` -- evaluated once per query,
so every row of a batch gets the same timestamp, like the reference's
single-transaction ``now()``.

Pointer replacement is ``os.replace`` (atomic on POSIX); version
directories are immutable once published. This is the minimal form of
the manifest commit every table format (Delta/Iceberg/Hudi) performs --
on S3 the same pointer lives in a conditional-PUT object or a catalog
entry; the sink's contract (stage, validate, atomically publish,
retain the prior version for in-flight readers) is unchanged.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.upsert import upsert_latest_wins

CREATED_AT = "created_at"
UPDATED_AT = "updated_at"


_POINTER = "_CURRENT"


def current_data_dir(path: str) -> str | None:
    """Resolve the manifest pointer to the active version directory.

    Returns None if the table does not exist. A pre-manifest flat
    parquet directory (no ``_CURRENT`` inside) resolves to itself, so
    tables written by older versions of this sink stay readable.
    """
    pointer = os.path.join(path, _POINTER)
    if os.path.exists(pointer):
        with open(pointer, encoding="ascii") as f:
            version = f.read().strip()
        return os.path.join(path, version)
    if os.path.exists(path):
        return path  # legacy flat layout
    return None


class ConcurrentWriteError(RuntimeError):
    """Another writer published between this writer's read snapshot and
    its commit attempt. The table is untouched by the failed commit;
    re-read and retry (optimistic concurrency, the Delta/Iceberg commit
    protocol)."""


# sentinel for "I expect the table not to exist yet"
EXPECT_ABSENT = ""

# per-version commit-sequence file: the CONTENT-ADDRESSED version order.
# Directory mtime is only creation order while nothing outside the
# writer touches the tree -- an external cp/rsync of a table directory
# rewrites every mtime, silently reordering history (retain-prune
# would then count the wrong versions).
# Every publish writes a monotonic sequence number (max existing + 1,
# assigned INSIDE the commit lock) into the version directory instead;
# mtime remains only the legacy fallback for pre-_SEQ versions.
_SEQ_FILE = "_SEQ"
# grace window before an UNSTAMPED v_ dir may be reclaimed by the
# post-commit prune: long enough that no live commit (bounded by the
# commit-lock timeout) can still be between its move-in and its _SEQ
# stamp; old enough unstamped dirs are pre-_SEQ legacy debris
_STAGE_GRACE_SEC = 300.0


def _version_seq(path: str, name: str) -> int | None:
    """The commit sequence persisted in a version's manifest, or None
    for a pre-_SEQ (legacy) version."""
    try:
        with open(os.path.join(path, name, _SEQ_FILE),
                  encoding="ascii") as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _pointer_value(path: str) -> str | None:
    pointer = os.path.join(path, _POINTER)
    if not os.path.exists(pointer):
        return None
    with open(pointer, encoding="ascii") as f:
        return f.read().strip()


class _commit_lock:
    """Tiny mutual-exclusion window around check-pointer + swap-pointer
    (POSIX has no file CAS). O_CREAT|O_EXCL lock file, bounded retry;
    a lock older than ``stale_s`` is from a dead writer and is broken.
    The critical section is microseconds (one read + one rename), so
    contention is resolved in the first few retries."""

    def __init__(self, path: str, timeout_s: float = 5.0,
                 stale_s: float = 60.0):
        self.lock = os.path.join(path, "._COMMIT_LOCK")
        self.timeout_s = timeout_s
        self.stale_s = stale_s

    def __enter__(self):
        import time
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    import time as _t
                    if _t.time() - os.path.getmtime(self.lock) > self.stale_s:
                        os.unlink(self.lock)  # dead writer
                        continue
                except OSError:
                    continue
                if time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        f"commit lock {self.lock} held past {self.timeout_s}s"
                    ) from None
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.unlink(self.lock)
        except OSError:
            pass
        return False


def _publish_version(
    path: str,
    version_dir: str,
    retain: int = 2,
    expect_version: str | None = None,
    cleanup_staged_on_fail: bool = True,
) -> None:
    """Atomically repoint ``_CURRENT`` at ``version_dir`` (already moved
    inside ``path``), then prune all but the newest ``retain`` versions
    (current included). The default keeps current + previous: a reader
    that resolved the pointer an instant before the swap still finds
    every file it is scanning. A larger ``retain`` keeps a
    time-travel history (:func:`list_versions` / ``read_table(...,
    version=...)``) at the cost of storing the superseded copies —
    bounded and predictable, like a Delta/Iceberg retention window.

    ``expect_version`` enables optimistic concurrency: the commit goes
    through only if the pointer still names that version
    (:data:`EXPECT_ABSENT` = "the table must not exist yet"); on a
    mismatch the staged version directory is removed and
    :class:`ConcurrentWriteError` raised — the table keeps the other
    writer's commit. ``None`` preserves last-write-wins."""
    version = os.path.basename(version_dir)
    pointer = os.path.join(path, _POINTER)
    tmp_pointer = os.path.join(path, f".{_POINTER}.{uuid.uuid4().hex}")
    with open(tmp_pointer, "w", encoding="ascii") as f:
        f.write(version)
        f.flush()
        os.fsync(f.fileno())
    try:
        with _commit_lock(path):
            if expect_version is not None:
                now = _pointer_value(path)
                expected = None if expect_version == EXPECT_ABSENT \
                    else expect_version
                if now != expected:
                    raise ConcurrentWriteError(
                        f"{path}: expected current version "
                        f"{expected!r}, found {now!r}"
                    )
            # stamp the commit sequence INSIDE the lock: max over every
            # retained version (the staged dir itself may carry a stale
            # _SEQ copied forward by a linked publish -- it is <= max
            # and gets overwritten here), so the order is decided by
            # the serialized commits, never by filesystem timestamps
            seqs = [
                s for s in (
                    _version_seq(path, n)
                    for n in os.listdir(path)
                    if n.startswith("v_")
                    and os.path.isdir(os.path.join(path, n))
                )
                if s is not None
            ]
            seq_path = os.path.join(version_dir, _SEQ_FILE)
            with open(seq_path, "w", encoding="ascii") as f:
                f.write(str((max(seqs) if seqs else 0) + 1))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp_pointer, pointer)  # THE commit point (atomic on POSIX)
    except ConcurrentWriteError:
        # the commit did NOT happen (lock timeout or OCC mismatch):
        # remove the staged pointer AND the already-moved-in version
        # directory, or version enumeration would treat the orphan as
        # the newest version and the next publish's retain-prune could
        # delete the genuine previous version under in-flight readers.
        # ``cleanup_staged_on_fail=False`` is for callers whose
        # version_dir holds the ONLY copy of pre-existing data (the
        # legacy-flat migration) -- they restore it themselves
        try:
            os.unlink(tmp_pointer)
        except OSError:
            pass
        if cleanup_staged_on_fail:
            shutil.rmtree(version_dir, ignore_errors=True)
        raise
    # post-commit retain-prune is best-effort: the pointer swap above
    # already committed, so a prune failure must never propagate into a
    # caller's cleanup path (which would remove the committed version)
    try:
        keep = set(_versions_newest_first(path)[: max(retain, 1)])
        keep.add(version)
        now = time.time()
        for name in os.listdir(path):
            if not name.startswith("v_") or name in keep:
                continue
            if _version_seq(path, name) is None:
                # an UNSTAMPED v_ dir is either a concurrent writer's
                # staged version (it moves in and stamps its _SEQ while
                # holding the commit lock; this prune deliberately runs
                # outside it) or pre-_SEQ legacy debris. Under the _SEQ
                # ordering an unstamped dir sorts OLDEST, so pruning it
                # here would destroy an in-flight last-write-wins
                # publish mid-commit -- leave young unstamped dirs
                # alone and reclaim only ones old enough that no live
                # commit can still be stamping them.
                try:
                    age = now - os.path.getmtime(os.path.join(path, name))
                except OSError:
                    continue
                if age < _STAGE_GRACE_SEC:
                    continue
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    except OSError:
        pass


def _versions_newest_first(path: str) -> list[str]:
    """Version directory names under ``path``, newest first, ordered by
    the persisted ``_SEQ`` commit sequence -- content-addressed, so a
    cp/rsync of the table tree (which rewrites every mtime) cannot
    reorder history. Pre-_SEQ legacy versions sort BELOW every stamped
    version (they are older by construction: once a stamped publish
    exists, all later publishes stamp too) and amongst themselves by
    mtime, the best signal available for them."""
    if not os.path.exists(path):
        return []
    vs = [n for n in os.listdir(path) if n.startswith("v_")
          and os.path.isdir(os.path.join(path, n))]

    def key(n: str) -> tuple:
        seq = _version_seq(path, n)
        if seq is None:
            return (0, os.path.getmtime(os.path.join(path, n)))
        return (1, seq)

    return sorted(vs, key=key, reverse=True)


def list_versions(path: str) -> list[dict]:
    """Time-travel catalog: every retained version of a stored table,
    newest first, with its commit time and whether it is current."""
    cur = current_data_dir(path)
    cur_name = os.path.basename(cur) if cur else None
    return [
        {
            "version": name,
            "committed_at": os.path.getmtime(os.path.join(path, name)),
            "seq": _version_seq(path, name),
            "is_current": name == cur_name,
        }
        for name in _versions_newest_first(path)
    ]


def _write_manifest_extra(
    version_dir: str, manifest_extra: dict[str, str] | None
) -> None:
    """Write commit metadata files into an (unpublished) version
    directory. Names must start with ``_`` so parquet scans skip
    them."""
    for name, content in (manifest_extra or {}).items():
        if not name.startswith("_"):
            raise ValueError(f"manifest_extra name {name!r} must start with '_'")
        with open(os.path.join(version_dir, name), "w",
                  encoding="utf-8") as f:
            f.write(content)


def read_table(
    spark: SparkSession, path: str, version: str | None = None
) -> DataFrame | None:
    """Stored table or None if it does not exist yet. The pointer is
    resolved HERE, once -- the returned frame is pinned to one immutable
    version directory, unaffected by concurrent publishes.

    ``version`` (a name from :func:`list_versions`) time-travels to a
    retained superseded version -- the audit/debug read every table
    format offers. Raises if the named version is no longer retained."""
    if version is not None:
        vdir = os.path.join(path, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"version {version!r} not retained under {path}"
            )
        return spark.read.parquet(vdir)
    data_dir = current_data_dir(path)
    if data_dir is None:
        return None
    return spark.read.parquet(data_dir)


def with_audit_cols(df: DataFrame) -> DataFrame:
    """F12: stamp created_at/updated_at = current_timestamp() (one value
    per query, like the reference's single-transaction now())."""
    now = F.current_timestamp()
    return df.withColumn(CREATED_AT, now).withColumn(UPDATED_AT, now)


class ConstraintViolation(ValueError):
    """A staged publish failed its data-quality checks. The table was
    NOT modified: the previous version stays current and the staged
    files are removed. ``.counts`` maps check name -> violating rows."""

    def __init__(self, path: str, counts: dict[str, int]):
        self.counts = counts
        super().__init__(f"publish to {path} rejected: {counts}")


def _check_staged(
    spark: SparkSession,
    staged_dir: str,
    checks: Sequence[tuple[str, str]] | None,
    unique_key: Sequence[str] | None,
) -> dict[str, int]:
    """Validate a staged version from its own files (the data is
    already on disk — no recompute of the writer's plan). Row checks
    run as ONE aggregation pass; the unique-key check is one groupBy.
    Returns {check_name: n_violations} for failing checks only."""
    staged = spark.read.parquet(staged_dir)
    counts: dict[str, int] = {}
    if checks:
        aggs = [
            F.sum(F.when(~F.expr(cond), 1).otherwise(0)).alias(name)
            for name, cond in checks
        ]
        row = staged.agg(*aggs).first()
        for name, _ in checks:
            n = row[name]
            if n:
                counts[name] = int(n)
    if unique_key:
        dupes = (
            staged.groupBy(*unique_key).count()
            .filter(F.col("count") > 1)
            .agg(F.sum(F.col("count") - 1).alias("extra"))
            .first()["extra"]
        )
        if dupes:
            counts[f"unique({', '.join(unique_key)})"] = int(dupes)
    return counts


def write_replace(
    df: DataFrame,
    path: str,
    manifest_extra: dict[str, str] | None = None,
    retain: int = 2,
    expect_version: str | None = None,
    checks: Sequence[tuple[str, str]] | None = None,
    unique_key: Sequence[str] | None = None,
) -> None:
    """Full-table publish via manifest-pointer commit.

    The frame is written to a staging sibling (same filesystem, so the
    move into the table root cannot cross devices), moved in as an
    immutable ``v_<hex>`` version directory, and published by atomically
    replacing the ``_CURRENT`` pointer. A failure before the pointer
    swap leaves the previous version live and intact -- a failed publish
    never leaves the table missing or half-written. Readers overlapping
    the publish see the old version or the new one, never a mix; the
    superseded version's files are retained until the next publish so
    in-flight scans keep resolving.

    ``manifest_extra`` maps filenames (must start with ``_`` so parquet
    scans ignore them) to string contents written INSIDE the version
    directory before the pointer swap -- metadata that commits
    atomically with the data it describes (e.g. the facts version a
    mart refresh was built from). A version published without a given
    file simply has no such metadata.

    ``checks`` (Delta-constraint semantics: ``[(name, sql_condition)]``,
    every row must satisfy every condition) and ``unique_key`` gate the
    publish: validation runs on the STAGED files (one aggregation pass,
    no recompute of the writer's plan), and any violation removes the
    staging and raises :class:`ConstraintViolation` — bad data can
    never become the current version, readers keep the last good one.
    """
    tmp = f"{path}.__staging__{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    if checks or unique_key:
        bad = _check_staged(df.sparkSession, tmp, checks, unique_key)
        if bad:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ConstraintViolation(path, bad)
    _write_manifest_extra(tmp, manifest_extra)
    legacy_flat = os.path.exists(path) and not os.path.exists(
        os.path.join(path, _POINTER)
    )
    version_dir = os.path.join(path, f"v_{uuid.uuid4().hex}")
    try:
        if legacy_flat:
            # one-time migration: tuck the flat files into a version dir
            # so the pre-swap layout stays readable as "previous". The
            # moved files are the ONLY copy of the pre-migration table,
            # so a failed publish (commit-lock timeout, stale lock from
            # a crashed writer) must move them BACK, never delete them
            legacy_v = os.path.join(path, f"v_legacy_{uuid.uuid4().hex}")
            os.mkdir(legacy_v)
            moved = []
            for name in os.listdir(path):
                if not name.startswith(("v_", ".")):
                    os.rename(os.path.join(path, name),
                              os.path.join(legacy_v, name))
                    moved.append(name)
            try:
                _publish_version(path, legacy_v,
                                 cleanup_staged_on_fail=False)
            except Exception:
                for name in moved:
                    os.rename(os.path.join(legacy_v, name),
                              os.path.join(path, name))
                os.rmdir(legacy_v)
                raise
        os.makedirs(path, exist_ok=True)
        os.rename(tmp, version_dir)
        _publish_version(path, version_dir, retain=retain,
                         expect_version=expect_version)
    except Exception:
        # any pre-commit failure (OSError, ConcurrentWriteError, ...):
        # neither the staging dir nor the staged version dir may
        # survive — an orphaned v_<hex> would be enumerated as a real
        # version by retain-pruning and time travel
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(version_dir, ignore_errors=True)
        raise


def read_version_meta(
    path: str, name: str, version: str | None = None
) -> str | None:
    """Read a ``manifest_extra`` file committed with the CURRENT version
    (or with a retained ``version``, matching :func:`read_table`'s time
    travel); None if the table or the file does not exist. Because the
    file lives inside the version directory, the value observed is
    always the one committed atomically with the data being read."""
    if version is not None:
        data_dir = os.path.join(path, version)
        if not os.path.isdir(data_dir):
            raise FileNotFoundError(
                f"version {version!r} not retained under {path}"
            )
    else:
        data_dir = current_data_dir(path)
    if data_dir is None:
        return None
    meta = os.path.join(data_dir, name)
    if not os.path.exists(meta):
        return None
    with open(meta, encoding="utf-8") as f:
        return f.read()


def upsert(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    audit: bool = True,
    retain: int = 2,
    occ: bool = False,
    manifest_extra: dict[str, str] | None = None,
) -> None:
    """S5 as a stored-table write: ON CONFLICT (keys) DO UPDATE.

    Incoming rows overwrite stored rows on key collision; non-colliding
    rows of both survive. With ``audit``, surviving stored rows keep
    their timestamps, overwritten/new keys get ``updated_at = now`` and
    ``created_at`` carried over from the stored row when the key existed
    (db/schema.sql:61 + v3.py:175 semantics). Publishes via
    write-then-swap, so the read-modify-write of the SAME table is safe.
    """
    expect: str | None = None
    if occ:
        # resolve the snapshot ONCE: the merge reads this version and
        # the commit requires the pointer to still name it (read-
        # modify-write without lost updates; ConcurrentWriteError on
        # interleave -> caller re-reads and retries)
        data_dir = current_data_dir(path)
        if data_dir is None:
            expect = EXPECT_ABSENT
        elif data_dir != path:  # legacy flat layout has no version name
            expect = os.path.basename(data_dir)
        existing = (
            None if data_dir is None else spark.read.parquet(data_dir)
        )
    else:
        existing = read_table(spark, path)
    write_replace(
        _merge_with_audit(existing, incoming, keys, audit), path,
        retain=retain, expect_version=expect,
        manifest_extra=manifest_extra,
    )


def _merge_with_audit(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    audit: bool,
) -> DataFrame:
    """The upsert merge (latest wins on ``keys``) with the reference's
    audit semantics: created_at survives an overwrite, updated_at
    refreshes for upserted keys (db/schema.sql:61, v3.py:175)."""
    if not audit:
        return incoming if existing is None else upsert_latest_wins(
            existing, incoming, keys
        )
    now = F.current_timestamp()
    if existing is None:
        return with_audit_cols(incoming)
    # NULL-safe equi-join: the merge groups NULL keys together
    # (upsert_latest_wins windows NULL as a value), so the audit
    # carry-over must match them too -- a plain equi-join would reset
    # created_at on every upsert of a NULL-keyed row
    prior = existing.select(
        *[F.col(k).alias(f"__pk_{k}") for k in keys],
        F.col(CREATED_AT).alias("__prior_created"),
    )
    cond = functools.reduce(
        lambda a, b: a & b,
        [incoming[k].eqNullSafe(prior[f"__pk_{k}"]) for k in keys],
    )
    stamped = (
        incoming.join(prior, cond, "left")
        .withColumn(CREATED_AT, F.coalesce(F.col("__prior_created"), now))
        .withColumn(UPDATED_AT, now)
        .drop("__prior_created", *[f"__pk_{k}" for k in keys])
    )
    return upsert_latest_wins(existing, stamped.select(*existing.columns), keys)


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    audit: bool = True,
    manifest_extra: dict[str, str] | None = None,
    occ: bool | str = False,
) -> int:
    """Partition-pruned copy-on-write upsert: the table is stored
    hive-partitioned on ``partition_col`` (which must be a key prefix --
    every key's rows live in exactly one partition), and an upsert
    REWRITES ONLY THE PARTITIONS THE BATCH TOUCHES. Untouched
    partitions are HARD-LINKED into the new version (zero data copy,
    zero read), so the cost of an incremental upsert scales with the
    batch's partition footprint, not the table -- the Delta/Iceberg/
    Hudi COW behavior, on plain parquet + the manifest pointer. This is
    how the daily mart refresh stays cheap at 100 TB: the stored scan
    is partition-pruned to the touched values (only those directories
    are listed or read), the merge shuffles only touched-partition
    rows, and the pointer swap publishes the whole new version
    atomically. Returns the number of partitions rewritten.

    ``partition_col`` must be one of ``keys`` (otherwise a key could
    move between partitions and the untouched-partition reuse would
    leave a stale copy behind).

    ``occ=True`` turns the read-merge-publish into an optimistic
    read-modify-write (same contract as :func:`upsert`): the publish
    goes through only if the pointer still names the version this call
    read its stored side from, else :class:`ConcurrentWriteError`.
    Passing a version NAME instead of True pins the expectation to a
    version the CALLER already resolved -- the guard a caller needs
    when its merge DECISIONS (not just the merged rows) depend on what
    it read earlier: any publish racing in after the caller's read
    fails this commit instead of tearing it.
    """
    if partition_col not in keys:
        raise ValueError(
            f"partition_col {partition_col!r} must be one of keys {list(keys)}"
        )
    cur = current_data_dir(path)
    if isinstance(occ, str):
        expect = occ
    elif occ:
        expect = EXPECT_ABSENT if cur is None else os.path.basename(cur)
    else:
        expect = None
    if cur is None:
        tmp = f"{path}.__staging__{uuid.uuid4().hex}"
        _merge_with_audit(None, incoming, keys, audit).write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(tmp)
        version_dir = os.path.join(path, f"v_{uuid.uuid4().hex}")
        os.makedirs(path, exist_ok=True)
        try:
            os.rename(tmp, version_dir)
            _write_manifest_extra(version_dir, manifest_extra)
            _publish_version(path, version_dir, expect_version=expect)
        except Exception:
            # same no-orphan contract as write_replace: a failed publish
            # (OSError, manifest write, OCC) must not leave a v_<hex>
            # visible to retain-pruning/time travel; everything here is
            # staged output, recomputable
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(version_dir, ignore_errors=True)
            raise
        return len([n for n in os.listdir(version_dir)
                    if n.startswith(f"{partition_col}=")])
    # the untouched-partition hard-link pass below only preserves
    # `partition_col=` directories; a current version that is NOT laid
    # out hive-partitioned (e.g. written flat by write_replace) would
    # silently lose every stored row, so refuse it up front
    cur_names = [n for n in os.listdir(cur) if not n.startswith((".", "_"))]
    if cur_names and not any(
        n.startswith(f"{partition_col}=") for n in cur_names
    ):
        raise ValueError(
            f"{path}: current version is not hive-partitioned on "
            f"{partition_col!r} (no {partition_col}= directories); "
            "rewrite it with upsert_partitioned/partitionBy first"
        )
    # touched partition values: a partition-count-sized driver list,
    # the same metadata any table-format commit materializes
    touched = [
        r[0] for r in incoming.select(partition_col).distinct().collect()
    ]
    # NULL-safe membership: isin() never matches NULL (three-valued
    # logic), but a NULL partition value is stored under
    # __HIVE_DEFAULT_PARTITION__ and the staged rewrite DOES replace
    # that directory — without the isNull() arm the stored NULL rows
    # would be silently dropped
    non_null = [t for t in touched if t is not None]
    member = (
        F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    )
    if any(t is None for t in touched):
        member = member | F.col(partition_col).isNull()
    stored_touched = read_table(spark, path).filter(member)
    merged = _merge_with_audit(stored_touched, incoming, keys, audit)
    staging = f"{path}.__staging__{uuid.uuid4().hex}"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    try:
        rewritten = [n for n in os.listdir(staging)
                     if n.startswith(f"{partition_col}=")]
        version_dir = os.path.join(path, f"v_{uuid.uuid4().hex}")
        try:
            os.mkdir(version_dir)
            for name in os.listdir(cur):   # untouched partitions: link
                if name.startswith(f"{partition_col}=") \
                        and name not in rewritten:
                    src = os.path.join(cur, name)
                    dst = os.path.join(version_dir, name)
                    os.mkdir(dst)
                    for f in os.listdir(src):
                        if not f.startswith("."):
                            os.link(os.path.join(src, f),
                                    os.path.join(dst, f))
            for name in rewritten:         # touched partitions: move in
                os.rename(os.path.join(staging, name),
                          os.path.join(version_dir, name))
            _write_manifest_extra(version_dir, manifest_extra)
            _publish_version(path, version_dir, expect_version=expect)
        except Exception:
            # no-orphan contract (see write_replace): version_dir holds
            # only hard links + staged copies, safe to drop on ANY
            # publish failure, not just ConcurrentWriteError
            shutil.rmtree(version_dir, ignore_errors=True)
            raise
        return len(rewritten)
    finally:
        shutil.rmtree(staging, ignore_errors=True)

def commit_meta_only(path: str, manifest_extra: dict[str, str]) -> None:
    """Publish a new version with IDENTICAL data (hard links to the
    current part-files) and updated ``manifest_extra`` — the
    watermark-advance commit for incremental ingest: a run that found
    work to record but no new rows (e.g. a re-listed source chunk whose
    samples were all duplicates) must still move its watermark, or it
    re-scans the same chunk forever. Same atomicity as every publish:
    readers see the old version or the new one, never a mix; a failure
    removes the version directory (links only — data is never at
    risk).

    Both flat and hive-partitioned (``col=value/`` subdirectory)
    layouts are linked recursively — a partitioned table must not
    silently publish an empty version (the mirror image of
    upsert_partitioned's layout guard).

    Prior ``_`` metadata files (stream txn markers, watermarks) are
    COPIED forward, then overlaid with ``manifest_extra``. That
    carry-forward is safe precisely BECAUSE the data is identical.
    Data-changing publishes (append_if_absent, upsert) deliberately do
    NOT carry metadata forward: it may describe files the new version
    no longer holds."""
    cur = current_data_dir(path)
    if cur is None:
        raise FileNotFoundError(f"no table at {path}: nothing to commit")
    _publish_linked_version(path, cur, manifest_extra)


def _link_parquet_tree(src: str, dst: str) -> None:
    """Hard-link every part-file (flat or hive-partitioned layout)
    from ``src`` into ``dst`` -- the zero-copy data share behind
    meta-only commits and restores."""
    for name in os.listdir(src):
        sp = os.path.join(src, name)
        if os.path.isdir(sp):
            dp = os.path.join(dst, name)
            os.makedirs(dp, exist_ok=True)
            _link_parquet_tree(sp, dp)
        elif name.endswith(".parquet") and not name.startswith("."):
            os.link(sp, os.path.join(dst, name))


def _publish_linked_version(
    path: str, src_dir: str, manifest_extra: dict[str, str],
    retain: int = 2,
) -> str:
    """Publish a new version whose data is hard links to ``src_dir``'s
    part-files, carrying ``src_dir``'s ``_`` metadata forward and
    overlaying ``manifest_extra``. Returns the new version name."""
    version_dir = os.path.join(path, f"v_{uuid.uuid4().hex}")
    try:
        os.mkdir(version_dir)
        _link_parquet_tree(src_dir, version_dir)
        for name in os.listdir(src_dir):
            if name.startswith("_") and os.path.isfile(
                os.path.join(src_dir, name)
            ):
                # COPIED, not linked: the overlay below must never
                # write through a shared inode into the old version
                shutil.copyfile(os.path.join(src_dir, name),
                                os.path.join(version_dir, name))
        _write_manifest_extra(version_dir, manifest_extra)
        _publish_version(path, version_dir, retain=retain)
        return os.path.basename(version_dir)
    except Exception:
        # no-orphan contract (see write_replace): links + copies only,
        # safe to drop on ANY publish failure
        shutil.rmtree(version_dir, ignore_errors=True)
        raise


def append_if_absent(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    audit: bool = True,
    manifest_extra: dict[str, str] | None = None,
) -> int:
    """S6 as a stored-table write: ON CONFLICT (keys) DO NOTHING.

    Only rows whose key is absent from the stored table are committed,
    as NEW files -- existing data is never rewritten (the append-only
    fast path of ingest_facts.py:119-143). The fresh rows are staged to
    a side directory; the commit hard-links every current part-file
    (zero data copy, same filesystem) plus the staged new files into a
    new version directory and swaps the pointer, so the append is
    atomic too: overlapping readers see the table with or without the
    whole batch, never a partial batch. Returns the number of new
    part-files committed (0 => the batch was a pure duplicate, no new
    version is published, and the table is byte-identical -- the S6
    idempotence contract).

    Key comparison is NULL-SAFE -- a deliberate deviation from the
    reference's plain-UNIQUE Postgres constraint (db/schema.sql:39),
    under which NULLs compare distinct and a re-run of ingest_facts.py
    re-inserts every NULL-period_start stock fact forever. Delta/
    Iceberg MERGE key matching is null-safe for the same reason; the
    operator-level ``operators.upsert.insert_if_absent`` keeps plain
    equality for exact oracle parity with NOT EXISTS.
    """
    existing = read_table(spark, path)
    fresh = incoming.dropDuplicates(list(keys))
    if audit:
        fresh = with_audit_cols(fresh)
    if existing is None:
        write_replace(fresh, path, manifest_extra=manifest_extra)
        return 1
    # NULL-SAFE anti-join: a nullable key column (e.g. period_start on
    # stock facts) under plain equality NEVER matches its stored twin
    # (NULL = NULL is NULL), so every re-ingest would re-append those
    # rows forever -- breaking the idempotence contract above.
    # dropDuplicates is already null-safe (groupBy semantics); the
    # absence probe must be too.
    f = fresh.select(*existing.columns).alias("f")
    e = existing.select(*keys).alias("e")
    cond = None
    for k in keys:
        c = F.col(f"f.{k}").eqNullSafe(F.col(f"e.{k}"))
        cond = c if cond is None else (cond & c)
    fresh = f.join(e, cond, "left_anti")
    staging = f"{path}.__staging__{uuid.uuid4().hex}"
    fresh.write.mode("overwrite").parquet(staging)
    try:
        new_parts = [
            name
            for name in os.listdir(staging)
            if name.startswith("part-")
            and not name.endswith(".crc")
            and _parquet_num_rows(os.path.join(staging, name)) > 0
        ]
        if not new_parts:
            return 0  # pure duplicate: publish nothing
        cur = current_data_dir(path)
        version_dir = os.path.join(path, f"v_{uuid.uuid4().hex}")
        try:
            os.mkdir(version_dir)
            for name in os.listdir(cur):
                if name.endswith(".parquet") and not name.startswith("."):
                    os.link(os.path.join(cur, name),
                            os.path.join(version_dir, name))
            for name in new_parts:
                os.rename(
                    os.path.join(staging, name),
                    os.path.join(version_dir,
                                 f"append-{uuid.uuid4().hex}-{name}"),
                )
            _write_manifest_extra(version_dir, manifest_extra)
            _publish_version(path, version_dir)
        except Exception:
            # no-orphan contract (see write_replace): hard links +
            # staged copies only, safe to drop on ANY publish failure
            shutil.rmtree(version_dir, ignore_errors=True)
            raise
        return len(new_parts)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _parquet_num_rows(part_path: str) -> int:
    """Row count from the parquet footer (driver-side metadata read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(part_path).metadata.num_rows


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    keys: Sequence[str],
    buckets: int = 32,
) -> None:
    """Persist ``df`` hash-bucketed (and per-bucket sorted) on ``keys``
    so recurring joins and aggregations on those keys run with ZERO
    shuffle.

    Bucketing trades one layout-time shuffle for every future one: the
    writer hash-partitions rows into ``buckets`` files per partition
    and records the layout in the catalog; a later equi-join between
    two tables bucketed the same way (same keys, same count) is planned
    as a SortMergeJoin with NO Exchange on either side, and a
    ``groupBy`` on the bucket keys aggregates in place. At 100 TB this
    is the difference between re-shuffling the fact table on every
    nightly mart build and never shuffling it again — the same reason
    the reference keys its Postgres facts table on (cik, fy, tag)
    (db/schema.sql:30-38): the storage layout IS the join strategy.

    Equality filters on the first bucket key also prune at the FILE
    level (the scan reads only the one matching bucket —
    ``SelectedBucketsCount`` in the plan), independent of parquet
    row-group stats.

    Sizing: pick ``buckets`` so one bucket of the LARGEST co-bucketed
    table fits an executor core's working set (~128-512 MB compressed);
    all tables joined together must share the same count. The table is
    registered in the session catalog as ``name`` with files at
    ``path`` (query via ``spark.table(name)`` — a plain
    ``read.parquet`` sees the same rows but not the bucket metadata,
    so it plans shuffles again).
    """
    key_list = list(keys)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, key_list[0], *key_list[1:])
        .sortBy(key_list[0], *key_list[1:])
        .saveAsTable(name)
    )


