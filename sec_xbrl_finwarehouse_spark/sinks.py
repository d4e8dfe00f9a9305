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
  new version is written to its own immutable directory, then published
  by atomically replacing the ``_CURRENT`` pointer file. Readers resolve
  the pointer once at read time and scan ONE version directory, so a
  reader overlapping a publish sees the old version or the new one,
  never a half-swapped mix -- and because the previous version's files
  are retained until the NEXT publish, a reader that resolved just
  before the swap still finds every file it listed. A query that READS
  the table it is rebuilding (the self-overwrite trap Spark errors on
  or, worse, truncates with) is safe for the same reason: the scan's
  file list points at the old version directory throughout.
* ``upsert`` (S5) -- ON CONFLICT DO UPDATE: merge incoming over stored
  with :func:`~.operators.upsert.upsert_latest_wins`, preserving
  ``created_at`` for keys that already existed and refreshing
  ``updated_at`` for upserted keys (v3.py:164-175), then publish the
  merged table. At 100 TB this is the compaction-style merge every
  copy-on-write table format (Delta/Iceberg/Hudi COW) performs; the
  shuffle is one exchange on the PK.
* ``append_if_absent`` (S6) -- ON CONFLICT DO NOTHING: anti-join
  incoming against stored keys, then commit ONLY the new rows: a new
  version directory hard-links every existing part-file (zero data
  copy) plus the staged new files, and the pointer swap publishes both
  together. Existing data is never rewritten -- the append-only fast
  path (ingest_facts.py:119-143) -- and re-running the same batch is a
  byte-identical no-op (zero fresh rows publishes no new version,
  leaving even timestamps untouched).

Every publish goes through ONE commit path. The writer builds the
complete version directory in a staging sibling OUTSIDE the table root
(:func:`_staging`); :func:`_commit` then, under the table's commit lock,
checks ``_CURRENT`` against the version the writer read, stamps the
``_SEQ`` commit sequence, renames the staged directory into the root as
``v_<hex>`` and ``os.replace``-s the pointer. So the root only ever
holds committed, stamped versions. The read-modify-write publishes
(``upsert``, ``append_if_absent``) always commit against the version
they read: a publish that lands in between makes them raise
:class:`ConcurrentWriteError` instead of losing its update.

Audit columns (F12): ``created_at`` is assigned once when a key first
enters the table; ``updated_at`` refreshes whenever an upsert overwrites
the key. Both are ``current_timestamp()`` -- evaluated once per query,
so every row of a batch gets the same timestamp, like the reference's
single-transaction ``now()``.

Pointer replacement is ``os.replace`` (atomic on POSIX); version
directories are immutable once published. This is the minimal form of
the manifest commit every table format (Delta/Iceberg/Hudi) performs --
on S3 the same pointer lives in a conditional-PUT object or a catalog
entry; the sink's contract (stage, atomically publish, retain the prior
version for in-flight readers) is unchanged. A directory without
``_CURRENT`` is not a table.
"""

from __future__ import annotations

import contextlib
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

# per-version commit-sequence file: the CONTENT-ADDRESSED version order.
# Directory mtime is only creation order while nothing outside the
# writer touches the tree -- an external cp/rsync of a table directory
# rewrites every mtime, silently reordering history (retain-prune
# would then count the wrong versions). Every publish writes a
# monotonic sequence number (max existing + 1, assigned INSIDE the
# commit lock) into the version directory instead.
_SEQ_FILE = "_SEQ"


def _pointer_value(path: str) -> str | None:
    try:
        with open(os.path.join(path, _POINTER), encoding="ascii") as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def current_data_dir(path: str) -> str | None:
    """Resolve the manifest pointer to the active version directory;
    None if the table does not exist."""
    version = _pointer_value(path)
    return None if version is None else os.path.join(path, version)


class ConcurrentWriteError(RuntimeError):
    """Another writer published between this writer's read snapshot and
    its commit attempt. The table is untouched by the failed commit;
    re-read and retry (optimistic concurrency, the Delta/Iceberg commit
    protocol)."""


# sentinel for "I expect the table not to exist yet"
EXPECT_ABSENT = ""


def _version_seq(path: str, name: str) -> int | None:
    """The commit sequence persisted in a version's manifest, or None
    if ``name`` is not a committed version (or vanished under a
    concurrent prune)."""
    try:
        with open(os.path.join(path, name, _SEQ_FILE),
                  encoding="ascii") as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _write_synced(file_path: str, text: str) -> None:
    with open(file_path, "w", encoding="ascii") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


class _commit_lock:
    """Tiny mutual-exclusion window around check-pointer + swap-pointer
    (POSIX has no file CAS). O_CREAT|O_EXCL lock file, bounded retry;
    a lock older than ``stale_s`` is from a dead writer and is broken.
    The critical section is a few metadata operations (one read, one
    stamp, two renames), so contention is resolved in the first few
    retries."""

    def __init__(self, path: str, timeout_s: float = 5.0,
                 stale_s: float = 60.0):
        self.lock = os.path.join(path, "._COMMIT_LOCK")
        self.timeout_s = timeout_s
        self.stale_s = stale_s

    def __enter__(self):
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(self.lock) > self.stale_s:
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


@contextlib.contextmanager
def _staging(path: str):
    """A fresh staging directory name beside the table root (same
    filesystem, so the commit's rename cannot cross devices, but outside
    the root, so no reader or prune ever lists it). Removed on exit:
    after a commit it has been renamed away, after any failure it goes
    with whatever it held."""
    staged = f"{path}.__staging__{uuid.uuid4().hex}"
    try:
        yield staged
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def _commit(
    path: str,
    staged: str,
    expect_version: str | None = None,
    retain: int = 2,
    manifest_extra: dict[str, str] | None = None,
) -> str:
    """THE commit: publish the complete version directory ``staged``
    (built by the caller inside :func:`_staging`) as the table's current
    version, and return its name.

    Under the commit lock: check that the pointer still names
    ``expect_version`` (:data:`EXPECT_ABSENT` = "the table must not
    exist yet"; None = last write wins) or raise
    :class:`ConcurrentWriteError`; stamp ``_SEQ``; rename ``staged``
    into the root as ``v_<hex>``; atomically replace the pointer. Then
    prune all but the newest ``retain`` versions (current included).
    The default keeps current + previous: a reader that resolved the
    pointer an instant before the swap still finds every file it is
    scanning. A larger ``retain`` keeps a time-travel history
    (:func:`list_versions` / ``read_table(..., version=...)``) at the
    cost of storing the superseded copies -- bounded and predictable,
    like a Delta/Iceberg retention window."""
    _write_manifest_extra(staged, manifest_extra)
    os.makedirs(path, exist_ok=True)
    version = f"v_{uuid.uuid4().hex}"
    tmp_pointer = os.path.join(path, f".{_POINTER}.{uuid.uuid4().hex}")
    try:
        _write_synced(tmp_pointer, version)
        with _commit_lock(path):
            found = _pointer_value(path)
            if expect_version is not None and found != (expect_version or None):
                raise ConcurrentWriteError(
                    f"{path}: expected current version "
                    f"{expect_version or None!r}, found {found!r}"
                )
            # the order is decided by the serialized commits, never by
            # filesystem timestamps
            seq = max(_committed_versions(path).values(), default=0) + 1
            _write_synced(os.path.join(staged, _SEQ_FILE), str(seq))
            os.rename(staged, os.path.join(path, version))
            try:
                os.replace(tmp_pointer, os.path.join(path, _POINTER))
            except OSError:
                # not committed: an unreferenced v_ dir would be counted
                # as the newest version by retain-prune and time travel
                shutil.rmtree(os.path.join(path, version), ignore_errors=True)
                raise
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp_pointer)
    # post-commit retain-prune is best-effort: the pointer swap above
    # already committed. It runs outside the lock over ONE listing, so a
    # version committed after that listing is never a prune candidate.
    try:
        for name in _versions_newest_first(path)[max(retain, 1):]:
            if name != version:
                shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    except OSError:
        pass
    return version


def _committed_versions(path: str) -> dict[str, int]:
    """Version directory name -> ``_SEQ`` for every committed version
    under ``path``."""
    if not os.path.isdir(path):
        return {}
    seqs = {n: _version_seq(path, n) for n in os.listdir(path)
            if n.startswith("v_")}
    return {n: s for n, s in seqs.items() if s is not None}


def _versions_newest_first(path: str) -> list[str]:
    """Committed version directory names under ``path``, newest first,
    ordered by the persisted ``_SEQ`` commit sequence -- content-
    addressed, so a cp/rsync of the table tree (which rewrites every
    mtime) cannot reorder history."""
    seqs = _committed_versions(path)
    return sorted(seqs, key=seqs.__getitem__, reverse=True)


def list_versions(path: str) -> list[dict]:
    """Time-travel catalog: every retained version of a stored table,
    newest first, with its commit time and whether it is current."""
    cur = _pointer_value(path)
    return [
        {
            "version": name,
            "committed_at": os.path.getmtime(os.path.join(path, name)),
            "seq": _version_seq(path, name),
            "is_current": name == cur,
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


def _version_dir(path: str, version: str | None) -> str | None:
    """The current version directory, or the retained ``version``
    (raises if it is no longer retained)."""
    if version is None:
        return current_data_dir(path)
    vdir = os.path.join(path, version)
    if not os.path.isdir(vdir):
        raise FileNotFoundError(f"version {version!r} not retained under {path}")
    return vdir


def read_table(
    spark: SparkSession, path: str, version: str | None = None
) -> DataFrame | None:
    """Stored table or None if it does not exist yet. The pointer is
    resolved HERE, once -- the returned frame is pinned to one immutable
    version directory, unaffected by concurrent publishes.

    ``version`` (a name from :func:`list_versions`) time-travels to a
    retained superseded version -- the audit/debug read every table
    format offers. Raises if the named version is no longer retained."""
    data_dir = _version_dir(path, version)
    return None if data_dir is None else spark.read.parquet(data_dir)


def _snapshot(spark: SparkSession, path: str) -> tuple[DataFrame | None, str]:
    """The current version as a frame (None: no table yet) and the
    ``expect_version`` that commits against exactly that version -- the
    read half of every read-modify-write publish."""
    data_dir = current_data_dir(path)
    if data_dir is None:
        return None, EXPECT_ABSENT
    return spark.read.parquet(data_dir), os.path.basename(data_dir)


def with_audit_cols(df: DataFrame) -> DataFrame:
    """F12: stamp created_at/updated_at = current_timestamp() (one value
    per query, like the reference's single-transaction now())."""
    now = F.current_timestamp()
    return df.withColumn(CREATED_AT, now).withColumn(UPDATED_AT, now)


def write_replace(
    df: DataFrame,
    path: str,
    manifest_extra: dict[str, str] | None = None,
    retain: int = 2,
    expect_version: str | None = None,
) -> None:
    """Full-table publish via manifest-pointer commit.

    The frame is written to a staging sibling and committed as a new
    immutable ``v_<hex>`` version (:func:`_commit`). A failure before
    the pointer swap leaves the previous version live and intact -- a
    failed publish never leaves the table missing or half-written.
    Readers overlapping the publish see the old version or the new one,
    never a mix; the superseded version's files are retained until the
    next publish so in-flight scans keep resolving.

    ``manifest_extra`` maps filenames (must start with ``_`` so parquet
    scans ignore them) to string contents written INSIDE the version
    directory before the pointer swap -- metadata that commits
    atomically with the data it describes (e.g. the facts version a
    mart refresh was built from). A version published without a given
    file simply has no such metadata.

    ``expect_version`` makes the publish conditional on the pointer
    still naming that version (see :func:`_commit`); None is last
    write wins.
    """
    with _staging(path) as staged:
        df.write.parquet(staged)
        _commit(path, staged, expect_version, retain, manifest_extra)


def read_version_meta(
    path: str, name: str, version: str | None = None
) -> str | None:
    """Read a ``manifest_extra`` file committed with the CURRENT version
    (or with a retained ``version``, matching :func:`read_table`'s time
    travel); None if the table or the file does not exist. Because the
    file lives inside the version directory, the value observed is
    always the one committed atomically with the data being read."""
    data_dir = _version_dir(path, version)
    if data_dir is None:
        return None
    try:
        with open(os.path.join(data_dir, name), encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return None


def upsert(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
    retain: int = 2,
    manifest_extra: dict[str, str] | None = None,
) -> None:
    """S5 as a stored-table write: ON CONFLICT (keys) DO UPDATE.

    Incoming rows overwrite stored rows on key collision; non-colliding
    rows of both survive. Surviving stored rows keep their timestamps;
    overwritten/new keys get ``updated_at = now`` and ``created_at``
    carried over from the stored row when the key existed
    (db/schema.sql:61 + v3.py:175 semantics). The merge reads one
    version and commits only if that version is still current, so a
    publish that lands in between raises :class:`ConcurrentWriteError`
    (re-read and retry) instead of being lost.
    """
    existing, expect = _snapshot(spark, path)
    write_replace(
        _merge_with_audit(existing, incoming, keys), path,
        manifest_extra=manifest_extra, retain=retain, expect_version=expect,
    )


def _stamp_audit(
    existing: DataFrame | None, incoming: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """``incoming`` with the audit columns of a write over ``existing``:
    ``updated_at = now``, and ``created_at`` carried over from the stored
    row of the same key (else now), in ``existing``'s column order."""
    if existing is None:
        return with_audit_cols(incoming)
    now = F.current_timestamp()
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
    return (
        incoming.join(prior, cond, "left")
        .withColumn(CREATED_AT, F.coalesce(F.col("__prior_created"), now))
        .withColumn(UPDATED_AT, now)
        .select(*existing.columns)
    )


def _merge_with_audit(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """The upsert merge (latest wins on ``keys``) with the reference's
    audit semantics: created_at survives an overwrite, updated_at
    refreshes for upserted keys (db/schema.sql:61, v3.py:175)."""
    incoming = _stamp_audit(existing, incoming, keys)
    if existing is None:
        return incoming
    return upsert_latest_wins(existing, incoming, keys)


def _link_parts(src: str, dst: str) -> None:
    """Hard-link every part-file of the flat version directory ``src``
    into ``dst`` -- the zero-copy data share of appends."""
    for name in os.listdir(src):
        if name.endswith(".parquet") and not name.startswith("."):
            os.link(os.path.join(src, name), os.path.join(dst, name))


def append_if_absent(
    spark: SparkSession,
    path: str,
    incoming: DataFrame,
    keys: Sequence[str],
) -> int:
    """S6 as a stored-table write: ON CONFLICT (keys) DO NOTHING.

    Only rows whose key is absent from the stored table are committed,
    as NEW files -- existing data is never rewritten (the append-only
    fast path of ingest_facts.py:119-143). The fresh rows are staged; the
    commit hard-links every part-file of the version the anti-join read
    (zero data copy, same filesystem) beside them and swaps the pointer,
    so the append is atomic too: overlapping readers see the table with
    or without the whole batch, never a partial batch. The commit is
    conditional on that version still being current, so a concurrent
    append can never make this one publish a key twice
    (:class:`ConcurrentWriteError`; the retry's anti-join sees the other
    rows). Returns the number of new part-files committed (0 => the
    batch was a pure duplicate, no new version is published, and the
    table is byte-identical -- the S6 idempotence contract).

    Key comparison is NULL-SAFE -- a deliberate deviation from the
    reference's plain-UNIQUE Postgres constraint (db/schema.sql:39),
    under which NULLs compare distinct and a re-run of ingest_facts.py
    re-inserts every NULL-period_start stock fact forever. Delta/
    Iceberg MERGE key matching is null-safe for the same reason; the
    operator-level ``operators.upsert.insert_if_absent`` keeps plain
    equality for exact oracle parity with NOT EXISTS.
    """
    existing, expect = _snapshot(spark, path)
    fresh = with_audit_cols(incoming.dropDuplicates(list(keys)))
    if existing is None:
        write_replace(fresh, path, expect_version=expect)
        return 1
    # NULL-SAFE anti-join: a nullable key column (e.g. period_start on
    # stock facts) under plain equality NEVER matches its stored twin
    # (NULL = NULL is NULL), so every re-ingest would re-append those
    # rows forever -- breaking the idempotence contract above.
    # dropDuplicates is already null-safe (groupBy semantics); the
    # absence probe must be too.
    f = fresh.select(*existing.columns).alias("f")
    e = existing.select(*keys).alias("e")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"f.{k}").eqNullSafe(F.col(f"e.{k}")) for k in keys],
    )
    with _staging(path) as staged:
        f.join(e, cond, "left_anti").write.parquet(staged)
        new_parts = 0
        for name in os.listdir(staged):
            if name.startswith("part-") and not name.endswith(".crc"):
                if _parquet_num_rows(os.path.join(staged, name)) > 0:
                    new_parts += 1
                else:
                    os.unlink(os.path.join(staged, name))
        if not new_parts:
            return 0  # pure duplicate: publish nothing
        _link_parts(os.path.join(path, expect), staged)
        _commit(path, staged, expect)
    return new_parts


def _parquet_num_rows(part_path: str) -> int:
    """Row count from the parquet footer (driver-side metadata read)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(part_path).metadata.num_rows
