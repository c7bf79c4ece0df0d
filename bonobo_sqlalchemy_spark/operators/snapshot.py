"""Versioned snapshot tables: atomic reader-visible commits on plain
parquet — the transactional upgrade for the parquet-directory MERGE
emulation's documented weakness.

:func:`publish` is the one place a rewritten parquet table is published
(the upsert and SCD2 sinks, compaction and :func:`snapshot_merge` all go
through it). In place it swaps the table directory (rename-aside + move),
which is crash-recoverable but NOT atomic for concurrent readers: a reader
listing the directory mid-swap can see a half-state (the "Known
divergences" note in COVERAGE.md since round 5).
The real fix on a cluster is Delta/Iceberg ``MERGE INTO`` — both still
ImportError in this container (probe log in COVERAGE.md) — but the core
mechanism those formats use is PUBLIC and small: immutable data files
plus an atomically-swapped pointer to the current snapshot (Delta's
``_last_checkpoint`` / Iceberg's ``version-hint.text`` play). This module
implements that mechanism directly:

    table_root/
      _VERSION            # tiny text file: name of the current snapshot
      v00001-<uuid8>/     # immutable parquet snapshot directories
      v00002-<uuid8>/

- **Reader atomicity**: :func:`snapshot_read` resolves ``_VERSION`` once,
  then scans an IMMUTABLE directory — a concurrent commit can never
  change or half-replace the files under an in-flight query. POSIX
  ``rename`` gives pointer readers either the old or the new content,
  never a torn write.
- **Crash safety**: a writer dying after materializing its snapshot dir
  but before the pointer rename leaves the table exactly as it was (the
  orphan dir is invisible and vacuumable).
- **Optimistic concurrency**: :func:`snapshot_commit` takes
  ``expect_version``; a concurrent commit in between raises
  :class:`SnapshotConflict` instead of silently clobbering
  (read-modify-write callers retry through :func:`publish`).
- **Time travel**: every committed snapshot stays readable by name until
  :func:`snapshot_vacuum` removes it.

Scale note: the pointer file is O(bytes) and the commit cost is one
rename regardless of table size; data-file volume equals what the merge
itself writes. On object stores without atomic rename the pointer swap
maps to a conditional PUT (the same adaptation Delta/Iceberg make); the
single-pointer design keeps that the ONLY primitive needing atomicity.

Reference scope note: the reference engine delegates upserts to an RDBMS
transaction (`/root/reference/bonobo_sqlalchemy/writers.py:113-126`);
this module is the Spark-side equivalent durability story for file-backed
targets.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

POINTER = "_VERSION"
LOCKFILE = "_LOCK"


@contextmanager
def _commit_lock(root: str):
    """Exclusive advisory lock held across the check-version→publish
    critical section. Without it, two concurrent committers can BOTH pass
    the ``expect_version`` check and both rename — last writer silently
    clobbers the other (a TOCTOU the optimistic protocol must not have).
    Data materialization stays OUTSIDE the lock (it's the expensive part
    and touches only a private staging dir); only sequence assignment,
    the version check, and the pointer swap serialize. On object stores
    the equivalent primitive is a conditional PUT of the pointer."""
    fd = os.open(os.path.join(root, LOCKFILE), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _seq_of(name: str) -> int:
    """Sequence number of a snapshot name — digits between 'v' and the
    first '-'. Width-agnostic: 'v100000-…' parses as 100000 and sorts
    after 'v99999-…' (lexical sort would misorder them)."""
    return int(name.split("-", 1)[0][1:])


class SnapshotConflict(RuntimeError):
    """Raised when ``expect_version`` no longer matches the pointer — a
    concurrent writer committed first. Retry the read-modify-write."""


def _pointer_path(root: str) -> str:
    return os.path.join(root, POINTER)


def snapshot_current(root: str) -> str | None:
    """Name of the current snapshot, or None for an empty table."""
    try:
        with open(_pointer_path(root)) as f:
            return f.read().strip() or None
    except FileNotFoundError:
        return None


def snapshot_versions(root: str) -> list[str]:
    """All snapshot names on disk, commit order (sorted by integer
    sequence, not lexically — survives the 5→6 digit rollover)."""
    if not os.path.isdir(root):
        return []
    return sorted(
        (d for d in os.listdir(root) if d.startswith("v")), key=_seq_of
    )


def snapshot_read(
    spark: SparkSession, root: str, version: str | None = None
) -> DataFrame:
    """Read the current snapshot (or a named one — time travel). The
    pointer is resolved ONCE; everything after scans an immutable
    directory, so a concurrent commit cannot tear this read."""
    name = version or snapshot_current(root)
    if name is None:
        raise FileNotFoundError(f"snapshot table at {root} is empty")
    return spark.read.parquet(os.path.join(root, name))


def snapshot_commit(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    expect_version: str | None = "__unset__",
) -> str:
    """Materialize ``df`` as a new immutable snapshot and atomically swap
    the pointer to it; returns the new snapshot name.

    ``expect_version`` is the optimistic-concurrency guard: pass the
    version your read-modify-write started from (or None for "table must
    be empty"); a mismatch at publish time raises :class:`SnapshotConflict`
    and leaves the table untouched. Omit it for last-writer-wins.

    Protocol order is what makes a crash at ANY point safe: (1) write the
    data to a private staging dir (expensive, unlocked, invisible to
    readers and to ``snapshot_versions``), (2) under the commit lock:
    re-check ``expect_version``, claim the next sequence, rename staging
    to its final ``vNNNNN-…`` name, (3) still under the lock, write the
    pointer CONTENT to a unique temp file and atomically rename it onto
    ``_VERSION``. Readers never take the lock — the pointer rename alone
    gives them old-or-new, never torn. The lock exists so two concurrent
    committers cannot BOTH pass the version check (check and publish were
    previously separate steps — a TOCTOU)."""
    os.makedirs(root, exist_ok=True)
    staging = os.path.join(root, f".staged-{uuid.uuid4().hex[:12]}")
    try:
        df.write.mode("overwrite").parquet(staging)
        with _commit_lock(root):
            if (
                expect_version != "__unset__"
                and snapshot_current(root) != expect_version
            ):
                raise SnapshotConflict(
                    f"expected version {expect_version!r}, found "
                    f"{snapshot_current(root)!r} — a concurrent commit won"
                )
            versions = snapshot_versions(root)
            seq = _seq_of(versions[-1]) + 1 if versions else 1
            name = f"v{seq:05d}-{uuid.uuid4().hex[:8]}"
            os.rename(staging, os.path.join(root, name))
            tmp = _pointer_path(root) + f".tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(name)
                f.flush()
                os.fsync(f.fileno())
            # readers see either the previous version or `name`, never both
            os.rename(tmp, _pointer_path(root))
        return name
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def publish(
    spark: SparkSession,
    path: str,
    build: Callable[[DataFrame | None], DataFrame | None],
    snapshot: bool,
    max_retries: int = 3,
) -> str | None:
    """Rewrite the parquet table at ``path``: read it (``None`` when it does
    not exist yet), call ``build`` on it and publish what ``build`` returns.
    Returns the directory it published, or None when ``build`` returned
    None (nothing is written).

    In place (``snapshot=False``) a create writes straight to ``path``; a
    rewrite stages under a dot-prefixed sibling and swaps it in. A dot
    prefix keeps the staged copy out of Spark's file listing, so a crash
    leftover next to a Hive partition dir (``lang=en``) is never read as a
    partition value. The old table is renamed aside before the move, so a
    crash between the two renames leaves it aside, and the next call
    renames it back before reading.
    The swap is single-writer and not atomic for concurrent readers.

    As a snapshot table the base is the version at :func:`snapshot_current`
    and the result is committed with ``expect_version=base``; on
    :class:`SnapshotConflict` the read, build and commit run again, up to
    ``max_retries`` times, so ``build`` must start each attempt afresh."""
    if not snapshot:
        parent, base = os.path.split(os.path.abspath(path))
        tmp = os.path.join(parent, f".{base}.__publish_tmp")
        old = os.path.join(parent, f".{base}.__publish_old")
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)  # a crash between the two renames below
        current = spark.read.parquet(path) if os.path.exists(path) else None
        out = build(current)
        if out is None:
            return None
        if current is None:
            out.write.mode("overwrite").parquet(path)
            return path
        out.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        shutil.move(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return path
    for _ in range(max(1, max_retries)):
        base = snapshot_current(path)
        out = build(None if base is None else snapshot_read(spark, path, base))
        if out is None:
            return None
        try:
            return os.path.join(
                path, snapshot_commit(spark, path, out, expect_version=base)
            )
        except SnapshotConflict:
            continue
    raise SnapshotConflict(
        f"rewrite of {path} lost {max_retries} optimistic rounds"
    )


def snapshot_merge(
    spark: SparkSession,
    root: str,
    incoming: DataFrame,
    keys: list[str],
    max_retries: int = 3,
) -> str:
    """Keyed MERGE as an atomic snapshot commit: rows whose ``keys`` match
    an existing row are replaced, new keys append — and a reader at any
    instant sees either the whole pre-merge table or the whole post-merge
    table, never the in-between (the property the in-place swap path
    cannot give). Optimistic read-modify-write through :func:`publish`:
    concurrent mergers serialize instead of losing updates. Returns the
    committed snapshot's name."""

    def merge(base: DataFrame | None) -> DataFrame:
        if base is None:
            return incoming
        return base.join(
            incoming.select(*keys).distinct(), keys, "left_anti"
        ).unionByName(incoming)

    return os.path.basename(
        publish(spark, root, merge, snapshot=True, max_retries=max_retries)
    )


def snapshot_vacuum(root: str, keep: int = 2) -> list[str]:
    """Delete snapshot dirs older than the newest ``keep`` (the current
    pointer target is always kept); returns the removed names. Run it
    OUTSIDE any reader's resolved-snapshot lifetime window, the same
    contract as Delta's VACUUM retention."""
    current = snapshot_current(root)
    names = snapshot_versions(root)
    victims = [n for n in names[: max(0, len(names) - keep)] if n != current]
    for n in victims:
        shutil.rmtree(os.path.join(root, n), ignore_errors=True)
    return victims
