"""Snapshot-table protocol tests (operators/snapshot.py): atomic
reader-visible commits, crash safety, optimistic concurrency, time
travel, vacuum — the transactional upgrade over the in-place merge swap."""

from __future__ import annotations

import os

import pytest

from bonobo_sqlalchemy_spark.operators.snapshot import (
    POINTER,
    SnapshotConflict,
    snapshot_commit,
    snapshot_current,
    snapshot_merge,
    snapshot_read,
    snapshot_vacuum,
    snapshot_versions,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def _rows(df):
    return sorted((int(r.k), r.v) for r in df.collect())


def test_commit_read_roundtrip_and_sequencing(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = snapshot_commit(spark, root, _df(spark, [(1, "a"), (2, "b")]))
    assert snapshot_current(root) == v1 and v1.startswith("v00001-")
    assert _rows(snapshot_read(spark, root)) == [(1, "a"), (2, "b")]
    v2 = snapshot_commit(spark, root, _df(spark, [(1, "a2")]))
    assert v2.startswith("v00002-")
    assert _rows(snapshot_read(spark, root)) == [(1, "a2")]


def test_reader_resolved_snapshot_survives_concurrent_commit(spark, tmp_path):
    """The atomicity property itself: a reader that resolved the pointer
    keeps a fully-intact immutable snapshot even after a later commit —
    no mid-swap half-state is ever observable."""
    root = str(tmp_path / "t")
    snapshot_commit(spark, root, _df(spark, [(1, "old")]))
    resolved = snapshot_current(root)
    old_df = snapshot_read(spark, root, resolved)  # reader in flight
    snapshot_commit(spark, root, _df(spark, [(1, "new"), (2, "x")]))
    # the in-flight reader's files are untouched
    assert _rows(old_df) == [(1, "old")]
    # a fresh reader sees the whole new state
    assert _rows(snapshot_read(spark, root)) == [(1, "new"), (2, "x")]


def test_crash_before_pointer_swap_leaves_table_unchanged(spark, tmp_path):
    """Simulated writer crash: a fully-written snapshot dir without the
    pointer rename is invisible (and vacuumable) — the table still reads
    as the previous version."""
    root = str(tmp_path / "t")
    snapshot_commit(spark, root, _df(spark, [(1, "keep")]))
    # orphan dir: what a writer leaves if it dies between data write and
    # pointer rename
    _df(spark, [(9, "orphan")]).write.parquet(
        os.path.join(root, "v00002-deadbeef")
    )
    assert _rows(snapshot_read(spark, root)) == [(1, "keep")]
    # orphans eventually vacuum (newest `keep` retained, pointer protected)
    snapshot_commit(spark, root, _df(spark, [(1, "v3")]))
    removed = snapshot_vacuum(root, keep=1)
    assert "v00002-deadbeef" in removed
    assert _rows(snapshot_read(spark, root)) == [(1, "v3")]


def test_optimistic_conflict_detected_and_harmless(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = snapshot_commit(spark, root, _df(spark, [(1, "a")]))
    # a concurrent writer lands first
    snapshot_commit(spark, root, _df(spark, [(1, "b")]))
    with pytest.raises(SnapshotConflict):
        snapshot_commit(
            spark, root, _df(spark, [(1, "stale")]), expect_version=v1
        )
    # the conflicting attempt changed nothing and left no extra snapshot
    assert _rows(snapshot_read(spark, root)) == [(1, "b")]
    assert len(snapshot_versions(root)) == 2


def test_merge_semantics_and_retry(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_merge(spark, root, _df(spark, [(1, "a"), (2, "b")]), ["k"])
    snapshot_merge(spark, root, _df(spark, [(2, "B"), (3, "c")]), ["k"])
    assert _rows(snapshot_read(spark, root)) == [(1, "a"), (2, "B"), (3, "c")]
    # empty-table merge = plain insert
    assert snapshot_current(root).startswith("v00002-")


def test_time_travel_reads_old_versions(spark, tmp_path):
    root = str(tmp_path / "t")
    v1 = snapshot_commit(spark, root, _df(spark, [(1, "one")]))
    v2 = snapshot_commit(spark, root, _df(spark, [(1, "two")]))
    assert _rows(snapshot_read(spark, root, v1)) == [(1, "one")]
    assert _rows(snapshot_read(spark, root, v2)) == [(1, "two")]


def test_empty_table_read_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, str(tmp_path / "missing"))


def test_pointer_file_is_tiny_and_atomic_target(spark, tmp_path):
    root = str(tmp_path / "t")
    snapshot_commit(spark, root, _df(spark, [(1, "a")]))
    p = os.path.join(root, POINTER)
    assert os.path.getsize(p) < 64  # O(bytes): the only atomicity-bearing file
    # no stale tmp pointer files linger after a successful commit
    assert not [f for f in os.listdir(root) if f.startswith(POINTER + ".tmp")]


def test_scd2_history_composes_with_snapshot_commits(spark, tmp_path):
    """The two durability pieces compose: an SCD2 history maintained as a
    snapshot table gets atomic reader-visible publishes of each batch's
    merged history, with every prior history state time-travelable."""
    from bonobo_sqlalchemy_spark.operators.scd2 import scd2_merge

    root = str(tmp_path / "hist")
    b1 = spark.createDataFrame([(1, "alice"), (2, "bob")], "k bigint, name string")
    v1 = snapshot_commit(
        spark, root, scd2_merge(None, b1, ["k"], "2024-01-01 00:00:00")
    )
    b2 = spark.createDataFrame([(1, "ALICE")], "k bigint, name string")
    current = snapshot_read(spark, root)
    snapshot_commit(
        spark,
        root,
        scd2_merge(current, b2, ["k"], "2024-02-01 00:00:00"),
        expect_version=v1,
    )
    hist = snapshot_read(spark, root)
    rows = sorted(
        (int(r.k), r.name, bool(r.is_current)) for r in hist.collect()
    )
    assert rows == [
        (1, "ALICE", True),
        (1, "alice", False),
        (2, "bob", True),
    ]
    # time travel: the pre-update history is intact under v1
    old = snapshot_read(spark, root, v1)
    assert sorted((int(r.k), bool(r.is_current)) for r in old.collect()) == [
        (1, True),
        (2, True),
    ]


def test_streaming_foreachbatch_lands_atomic_snapshots(spark, tmp_path):
    """Streaming ingest into a snapshot table: each micro-batch's keyed
    merge publishes atomically via the version pointer, so a downstream
    reader polling the table between micro-batches only ever sees whole
    committed states — and the version history records one snapshot per
    non-empty batch."""
    src = str(tmp_path / "src")
    root = str(tmp_path / "tbl")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    b1.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema("k bigint, v string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: snapshot_merge(spark, root, bdf, ["k"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert _rows(snapshot_read(spark, root)) == [(1, "a"), (2, "b")]

    spark.createDataFrame(
        [(2, "B"), (3, "c")], "k bigint, v string"
    ).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k bigint, v string").parquet(src)
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, bid: snapshot_merge(spark, root, bdf, ["k"])
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    assert _rows(snapshot_read(spark, root)) == [(1, "a"), (2, "B"), (3, "c")]
    # one committed snapshot per (non-empty) micro-batch; the first is
    # still time-travelable
    names = snapshot_versions(root)
    assert len(names) == 2
    assert _rows(snapshot_read(spark, root, names[0])) == [(1, "a"), (2, "b")]


def test_version_sequence_rollover_past_five_digits(spark, tmp_path):
    """Names are width-agnostic: after v99999 the next commit is v100000
    and both parsing and ordering use the integer sequence, not lexical
    sort (lexically 'v100000-' would sort BEFORE 'v99999-')."""
    from bonobo_sqlalchemy_spark.operators.snapshot import _seq_of

    root = tmp_path / "t"
    root.mkdir()
    (root / "v99999-aaaaaaaa").mkdir()
    (root / "v100000-bbbbbbbb").mkdir()
    assert _seq_of("v100000-bbbbbbbb") == 100000
    assert snapshot_versions(str(root)) == [
        "v99999-aaaaaaaa",
        "v100000-bbbbbbbb",
    ]
    (root / POINTER).write_text("v100000-bbbbbbbb")
    v = snapshot_commit(spark, str(root), _df(spark, [(1, "a")]))
    assert _seq_of(v) == 100001


def test_concurrent_commits_serialize_no_lost_update(spark, tmp_path):
    """TOCTOU regression (ADVICE r12): two committers that both read the
    same base version must NOT both publish — the commit lock makes the
    check+publish a critical section, so exactly one wins and the other
    raises SnapshotConflict. snapshot_merge's retry then preserves both
    writers' rows (no lost update)."""
    import threading

    root = str(tmp_path / "t")
    snapshot_commit(spark, root, _df(spark, [(0, "base")]))

    errors = []

    def merge(rows):
        try:
            snapshot_merge(spark, root, _df(spark, rows), ["k"], max_retries=8)
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [
        threading.Thread(target=merge, args=([(i, f"w{i}")],))
        for i in (1, 2, 3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert _rows(snapshot_read(spark, root)) == [
        (0, "base"),
        (1, "w1"),
        (2, "w2"),
        (3, "w3"),
    ]
    # every merge landed as its own serialized snapshot
    assert len(snapshot_versions(root)) == 4


def test_conflict_leaves_no_staging_orphan(spark, tmp_path):
    """A losing committer cleans up its staged data dir — repeated
    conflicts must not accumulate invisible partial builds."""
    root = str(tmp_path / "t")
    v1 = snapshot_commit(spark, root, _df(spark, [(1, "a")]))
    snapshot_commit(spark, root, _df(spark, [(1, "b")]))  # moves pointer
    with pytest.raises(SnapshotConflict):
        snapshot_commit(spark, root, _df(spark, [(1, "c")]), expect_version=v1)
    leftovers = [d for d in os.listdir(root) if d.startswith(".staged-")]
    assert leftovers == []


def _upsert(spark, root, rows, as_of):
    """Upsert ``rows`` into the snapshot table ``root`` (``<dir>/t.parquet``)."""
    from bonobo_sqlalchemy_spark import Graph, InsertOrUpdate, PathService, run

    sink = InsertOrUpdate("t", snapshot=True)
    svc = {"sqlalchemy.engine": PathService(os.path.dirname(root))}
    run(Graph(spark.createDataFrame(rows, "id int, value string"), sink), spark, services=svc)
    return sink


def _scd2(spark, root, rows, as_of):
    from bonobo_sqlalchemy_spark.operators.scd2 import Scd2Sink

    sink = Scd2Sink(keys=["id"], snapshot=True)
    sink.write(spark.createDataFrame(rows, "id int, value string"), spark, root, as_of)
    return sink


@pytest.mark.parametrize("write", [_upsert, _scd2], ids=["upsert", "scd2"])
def test_sink_retries_after_a_competing_commit(spark, tmp_path, monkeypatch, write):
    """A snapshot sink whose first commit loses to a competing writer
    re-reads, rebuilds and commits again: the table ends as the competitor
    followed by a conflict-free run of the sink would leave it, the sink's
    stats are those of that run alone, and the losing attempt's staged data
    is gone."""
    from pyspark.sql import functions as F

    from bonobo_sqlalchemy_spark.operators import snapshot as snap

    seed = [(i, f"v{i}") for i in range(10)]
    batch = [(5, "changed"), (20, "new")]
    real_commit = snap.snapshot_commit

    def compete(root):  # the rival copies row 1 to a new key 50
        cur = snapshot_read(spark, root)
        real_commit(spark, root, cur.unionByName(cur.where("id = 1").withColumn("id", F.lit(50))))

    serial = str(tmp_path / "serial" / "t.parquet")
    write(spark, serial, seed, "2024-01-01")
    compete(serial)
    want = write(spark, serial, batch, "2024-02-01")

    raced = str(tmp_path / "raced" / "t.parquet")
    write(spark, raced, seed, "2024-01-01")
    conflicts = []

    def racing_commit(spark_, root, df, expect_version="__unset__"):
        if not conflicts:
            compete(root)
        try:
            return real_commit(spark_, root, df, expect_version=expect_version)
        except SnapshotConflict:
            conflicts.append(expect_version)
            raise

    monkeypatch.setattr(snap, "snapshot_commit", racing_commit)
    got = write(spark, raced, batch, "2024-02-01")
    assert len(conflicts) == 1
    assert got.last_stats == want.last_stats
    assert sorted(snapshot_read(spark, raced).collect()) == sorted(
        snapshot_read(spark, serial).collect()
    )
    assert not [d for d in os.listdir(raced) if d.startswith(".staged-")]
