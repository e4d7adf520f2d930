"""Versioned table with snapshot isolation via an atomic commit log.

The reference's loads are transactional DELETE+INSERT inside one DuckDB
txn (`/root/reference/warehouse/duckdb_client.py:100-111`): a reader
never observes a half-replaced subject, and two writers serialize.  On
a filesystem/object-store warehouse the equivalent contract is the
commit-log (snapshot) table — the protocol under Delta/Iceberg,
reproduced here without either dependency (``delta-spark`` is not
installable in this environment — no package installs — so the
protocol is implemented directly; on a cluster with Delta available,
``writers/atomic.py``'s ``replaceWhere`` note applies unchanged):

* Data lives in immutable, uniquely-named directories (``d_<uuid>``) —
  a writer never mutates a published directory, and two concurrent
  writers can never collide on a data path.
* The commit log is a set of one-line marker files ``_commit_v000001``
  … each naming its snapshot's data directory.  The current version is
  simply the highest marker; an unmarked data directory is invisible.
* Commit = stage the data dir, then **atomically** create the next
  marker with ``os.link(tmp, _commit_vN)``: ``link(2)`` fails with
  EEXIST if the marker exists, making it a filesystem compare-and-swap
  — the "nobody else committed vN" check and the commit are ONE
  syscall, no check-then-write race.  The loser removes its staged
  directory and retries against the fresh snapshot (optimistic
  concurrency, exactly Delta's log-file protocol).  A crash before the
  link leaves only unreferenced garbage, never a torn table.
* Readers of version N keep working after N+1 commits (snapshot
  isolation / time travel); old versions are reclaimed by an explicit
  ``vacuum``.

Scale: markers are one tiny file per commit regardless of data size;
data writes are ordinary partitioned parquet jobs.  On S3-like stores
without ``link(2)``, the marker becomes a conditional PUT
(If-None-Match) — same protocol, same one-object commit point.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..tables import read_parquet

_MARKER = "_commit_v{:06d}"
_MARKER_PREFIX = "_commit_v"


class CommitConflictError(RuntimeError):
    """Another writer committed this version first; retry on a fresh
    snapshot."""


def _marker_version(name: str) -> int:
    return int(name[len(_MARKER_PREFIX):])


def current_version(path: str) -> int | None:
    """Highest committed version, or None for an empty table."""
    try:
        versions = [
            _marker_version(n)
            for n in os.listdir(path)
            if n.startswith(_MARKER_PREFIX)
        ]
    except FileNotFoundError:
        return None
    return max(versions, default=None)


def snapshot_dir(path: str, version: int | None = None) -> str | None:
    """Data directory of the given (default: current) version."""
    v = current_version(path) if version is None else version
    if v is None:
        return None
    with open(os.path.join(path, _MARKER.format(v))) as f:
        return os.path.join(path, f.read().strip())


def history(path: str) -> list[dict]:
    """Commit log, newest first: the audit `DESCRIBE HISTORY` serves.

    Each entry: version, its data directory, commit wall time (marker
    mtime), file count and byte size of the snapshot — enough for a
    retention job (pair with :func:`vacuum`) or an incident timeline.
    Vacuumed versions (marker removed) disappear from the history, the
    same contract as Delta's log retention.
    """
    try:
        versions = sorted(
            (
                _marker_version(n)
                for n in os.listdir(path)
                if n.startswith(_MARKER_PREFIX)
            ),
            reverse=True,
        )
    except FileNotFoundError:
        return []
    out = []
    for v in versions:
        marker = os.path.join(path, _MARKER.format(v))
        ddir = snapshot_dir(path, v)
        files = [
            os.path.join(ddir, f)
            for f in os.listdir(ddir)
            if f.endswith(".parquet")
        ] if ddir and os.path.isdir(ddir) else []
        out.append(
            {
                "version": v,
                "data_dir": ddir,
                "committed_at": os.path.getmtime(marker),
                "n_files": len(files),
                "bytes": sum(os.path.getsize(f) for f in files),
            }
        )
    return out


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the table at the latest (or a pinned) version.

    The log resolves ONCE here; the returned frame is bound to that
    immutable directory, so a concurrent commit cannot change or tear
    this reader's rows (snapshot isolation / time travel).
    """
    d = snapshot_dir(path, version)
    if d is None:
        raise FileNotFoundError(f"versioned table {path} has no committed version")
    return read_parquet(spark, d)


def commit_versioned(
    df: DataFrame, path: str, expected_version: int | None
) -> int:
    """Publish ``df`` as the next version; optimistic-concurrency commit.

    ``expected_version`` is the snapshot the writer based its work on
    (None for a table it believes empty).  If another writer committed
    in between, the CAS fails, the staged directory is removed, and
    nothing was published — the caller re-reads and retries, same as a
    Delta/Iceberg conflict.

    Returns the committed version number.
    """
    os.makedirs(path, exist_ok=True)
    dname = f"d_{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(os.path.join(path, dname))

    base = current_version(path)
    if base != expected_version:
        shutil.rmtree(os.path.join(path, dname), ignore_errors=True)
        raise CommitConflictError(
            f"table {path} at v{base}, writer expected v{expected_version}"
        )
    new_v = 1 if base is None else base + 1

    # CAS commit point: link(2) atomically creates the marker and fails
    # with EEXIST if a competing writer took slot new_v — the conflict
    # check IS the commit, one syscall, no TOCTOU window.
    tmp = os.path.join(path, f"_stage_{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        f.write(dname + "\n")
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(path, _MARKER.format(new_v)))
    except FileExistsError:
        shutil.rmtree(os.path.join(path, dname), ignore_errors=True)
        raise CommitConflictError(
            f"concurrent writer committed v{new_v} to {path} first"
        ) from None
    finally:
        os.remove(tmp)
    return new_v


def overwrite_where(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    predicate: str,
    max_retries: int = 5,
) -> int:
    """Transactional DELETE+INSERT (the reference's load contract).

    Replaces all rows matching ``predicate`` with ``df`` in one commit:
    new version = (old rows NOT matching) ∪ df.  Readers never see the
    in-between state; concurrent writers serialize via CAS retry.
    Delta's ``replaceWhere`` with the same optimistic semantics.
    """
    for _ in range(max_retries):
        base = current_version(path)
        if base is None:
            merged = df
        else:
            keep = read_versioned(spark, path, base).filter(f"NOT ({predicate})")
            merged = keep.unionByName(df)
        try:
            return commit_versioned(merged, path, base)
        except CommitConflictError:
            continue
    raise CommitConflictError(f"gave up after {max_retries} conflicts on {path}")


def vacuum(path: str, keep_last: int = 1) -> list[int]:
    """Drop snapshots older than the newest ``keep_last``.

    Only safe once readers pinned to old versions are done — the same
    contract as Delta VACUUM.  Also sweeps unreferenced (crashed-
    commit) data directories.  Returns the removed version numbers.
    """
    latest = current_version(path)
    if latest is None:
        return []
    removed = []
    referenced = set()
    for name in sorted(os.listdir(path)):
        if name.startswith(_MARKER_PREFIX):
            v = _marker_version(name)
            marker = os.path.join(path, name)
            with open(marker) as f:
                dname = f.read().strip()
            if v <= latest - keep_last:
                shutil.rmtree(os.path.join(path, dname), ignore_errors=True)
                os.remove(marker)
                removed.append(v)
            else:
                referenced.add(dname)
    for name in os.listdir(path):
        if name.startswith("d_") and name not in referenced:
            shutil.rmtree(os.path.join(path, name), ignore_errors=True)
    return removed


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    delete_condition: str | None = None,
    max_retries: int = 5,
) -> int:
    """MERGE INTO semantics on a versioned table (last-write-wins).

    * matched rows are replaced by their update row (WHEN MATCHED THEN
      UPDATE SET *),
    * unmatched update rows are inserted (WHEN NOT MATCHED THEN INSERT *),
    * target rows matching ``delete_condition`` (and not re-asserted by
      an update) are dropped (WHEN MATCHED AND cond THEN DELETE).

    Plan shape: one left-anti join of the target against the (typically
    much smaller) update set — Spark broadcasts it under AQE — plus a
    union.  The commit inherits the CAS protocol, so concurrent merges
    serialize instead of losing writes (the lost-update anomaly a
    non-transactional read-modify-write would have).
    """
    for _ in range(max_retries):
        base = current_version(path)
        if base is None:
            merged = updates
        else:
            target = read_versioned(spark, path, base)
            if delete_condition is not None:
                target = target.filter(f"NOT ({delete_condition})")
            keep = target.join(updates.select(*keys), keys, "left_anti")
            merged = keep.unionByName(updates)
        try:
            return commit_versioned(merged, path, base)
        except CommitConflictError:
            continue
    raise CommitConflictError(f"gave up after {max_retries} conflicts on {path}")


def compact(
    spark: SparkSession, path: str, target_files: int = 1, max_retries: int = 5
) -> int:
    """Small-file compaction: rewrite the current snapshot into
    ``target_files`` files as a new version.

    The maintenance job every high-frequency-ingest table needs — many
    tiny commits degrade scan parallelism bookkeeping and open-file
    overhead until a compactor folds them.  Runs under the same CAS:
    a concurrent ingest wins the slot and the compactor retries on the
    fresh snapshot, so no data is ever lost to the rewrite.
    """
    for _ in range(max_retries):
        base = current_version(path)
        if base is None:
            raise FileNotFoundError(f"nothing to compact at {path}")
        snapshot = read_versioned(spark, path, base).coalesce(target_files)
        try:
            return commit_versioned(snapshot, path, base)
        except CommitConflictError:
            continue
    raise CommitConflictError(f"gave up after {max_retries} conflicts on {path}")
