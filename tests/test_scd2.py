"""SCD2 history sink: merge semantics, idempotence, point-in-time reads.

Reference context: the reference's InsertOrUpdate is Type-1 (overwrite in
place, /root/reference/bonobo_sqlalchemy/writers.py:21-100); SCD2 is the
history-preserving extension. These tests pin the version algebra:
every (key, valid_from) is unique, intervals never overlap, exactly one
open version per live key, and re-merging a batch is a no-op.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark.metrics import trace
from bonobo_sqlalchemy_spark.operators.scd2 import (
    OPEN_END,
    Scd2Sink,
    scd2_merge,
    snapshot_as_of,
)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id bigint, name string, balance double")


def test_initial_load_opens_all(spark):
    b = _batch(spark, [(1, "a", 10.0), (2, "b", 20.0)])
    out = scd2_merge(None, b, ["id"], "2024-01-01 00:00:00")
    rows = {r.id: r for r in out.collect()}
    assert len(rows) == 2
    assert all(r.is_current and r.valid_to == OPEN_END for r in rows.values())
    assert rows[1].valid_from == "2024-01-01 00:00:00"


def test_change_closes_and_opens(spark):
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    h0 = scd2_merge(None, _batch(spark, [(1, "a", 10.0), (2, "b", 20.0)]), ["id"], t0)
    h1 = scd2_merge(h0, _batch(spark, [(1, "a", 99.0), (3, "c", 30.0)]), ["id"], t1)
    rows = sorted(h1.collect(), key=lambda r: (r.id, r.valid_from))
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r)
    # id=1 changed: closed old + open new
    assert [(r.balance, r.valid_to, r.is_current) for r in by_id[1]] == [
        (10.0, t1, False),
        (99.0, OPEN_END, True),
    ]
    # id=2 absent from batch: untouched open version
    assert [(r.balance, r.is_current) for r in by_id[2]] == [(20.0, True)]
    # id=3 new key: one open version
    assert [(r.valid_from, r.is_current) for r in by_id[3]] == [(t1, True)]


def test_idempotent_remerge(spark):
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    b = _batch(spark, [(1, "a", 10.0)])
    h0 = scd2_merge(None, b, ["id"], t0)
    h1 = scd2_merge(h0, b, ["id"], t1)  # same data, later as_of
    rows = h1.collect()
    assert len(rows) == 1
    assert rows[0].is_current and rows[0].valid_from == t0


def test_null_handling_in_change_hash(spark):
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    h0 = scd2_merge(None, _batch(spark, [(1, None, 10.0)]), ["id"], t0)
    # NULL -> 'None'-like string must register as a change, not a collision
    h1 = scd2_merge(h0, _batch(spark, [(1, "None", 10.0)]), ["id"], t1)
    assert h1.count() == 2
    assert h1.where(F.col("is_current")).collect()[0].name == "None"


def test_invariants_after_three_generations(spark):
    ts = ["2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"]
    batches = [
        [(1, "a", 1.0), (2, "b", 1.0)],
        [(1, "a", 2.0), (2, "b", 1.0)],
        [(1, "a", 3.0), (2, "x", 9.0)],
    ]
    h = None
    for t, rows in zip(ts, batches):
        h = scd2_merge(h, _batch(spark, rows), ["id"], t)
    # exactly one open version per key
    open_counts = (
        h.where("is_current").groupBy("id").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in open_counts] == [1]
    # (key, valid_from) unique
    assert h.select("id", "valid_from").distinct().count() == h.count()
    # intervals chain: each closed valid_to equals the next valid_from
    rows = sorted(h.where("id = 1").collect(), key=lambda r: r.valid_from)
    assert [r.balance for r in rows] == [1.0, 2.0, 3.0]
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.valid_to == nxt.valid_from
    # point-in-time reads
    assert snapshot_as_of(h, "2024-02-15 00:00:00").where("id = 1").collect()[
        0
    ].balance == 2.0
    assert snapshot_as_of(h, ts[0]).where("id = 1").collect()[0].balance == 1.0


def test_sink_roundtrip_and_crash_recoverable_swap(spark, tmp_path):
    path = str(tmp_path / "dim_customer.parquet")
    sink = Scd2Sink(keys=["id"])
    sink.write(_batch(spark, [(1, "a", 10.0)]), spark, path, "2024-01-01 00:00:00")
    assert sink.last_stats == {"rows": 1, "open": 1}
    out = sink.write(
        _batch(spark, [(1, "a", 20.0)]), spark, path, "2024-02-01 00:00:00"
    )
    assert sink.last_stats == {"rows": 2, "open": 1}
    reread = spark.read.parquet(path)
    assert reread.count() == 2
    assert reread.where("is_current").collect()[0].balance == 20.0
    assert out.columns == reread.columns


@pytest.mark.parametrize("snapshot", [False, True], ids=["in_place", "snapshot"])
def test_sink_merge_pins_spark_job_count(spark, tmp_path, snapshot):
    """One monotonic sink merge is one keyed join and one write: the
    row/open counts are observed inside the write job and the validation
    scan is skipped, in both publish modes. Job counts do not depend on
    timing, so a change that brings back a count action or a second join
    fails here without benchmark noise."""
    path = str(tmp_path / "dim")
    sink = Scd2Sink(keys=["id"], snapshot=snapshot)
    first = [(i, f"n{i}", float(i)) for i in range(100)]
    sink.write(_batch(spark, first), spark, path, "2024-01-01 00:00:00")
    # ids 25-49 unchanged, 50-99 changed, 100-124 new
    batch = _batch(spark, [(i, f"n{i}", float(i) + (i >= 50)) for i in range(25, 125)])
    with trace(spark, "scd2 merge") as span:
        sink.write(batch, spark, path, "2024-02-01 00:00:00")
    assert sink.last_stats == {"rows": 175, "open": 125}
    assert span.jobs <= 8


def test_streaming_foreachbatch_lands_in_scd2(spark, tmp_path):
    """A stream of dimension updates lands through the SCD2 sink via
    foreachBatch — the same composition the upsert sink supports
    (streaming/windows.py::stream_to_upsert). Each micro-batch closes
    changed versions and opens new ones; history survives across batches."""
    src_dir = tmp_path / "updates"
    src_dir.mkdir()
    target = str(tmp_path / "dim.parquet")
    sink = Scd2Sink(keys=["id"])

    # two source files = two micro-batches (maxFilesPerTrigger=1)
    _batch(spark, [(1, "a", 10.0), (2, "b", 5.0)]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src_dir / "f0.parquet"))
    _batch(spark, [(1, "a", 20.0)]).coalesce(1).write.mode("overwrite").parquet(
        str(src_dir / "f1.parquet")
    )

    stream = spark.readStream.schema("id bigint, name string, balance double").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src_dir) + "/*")

    batch_no = {"n": 0}

    def land(batch_df, batch_id):
        # event-time effective stamps (deterministic), one per micro-batch
        batch_no["n"] += 1
        sink.write(batch_df, spark, target, f"2024-0{batch_no['n']}-01 00:00:00")

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    hist = spark.read.parquet(target)
    one = sorted(hist.where("id = 1").collect(), key=lambda r: r.valid_from)
    # id=1 either changed across two batches (2 versions) or, if both files
    # landed in one micro-batch, kept the keep-last row; with
    # maxFilesPerTrigger=1 we expect the full history.
    assert [r.balance for r in one] == [10.0, 20.0]
    assert [r.is_current for r in one] == [False, True]
    assert hist.where("id = 2 AND is_current").count() == 1


def test_tracked_subset_ignores_untracked_churn(spark):
    t0, t1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"
    b0 = _batch(spark, [(1, "a", 10.0)])
    b1 = _batch(spark, [(1, "a", 11.0)])  # balance churns, name tracked only
    h0 = scd2_merge(None, b0, ["id"], t0, tracked=["name"])
    h1 = scd2_merge(h0, b1, ["id"], t1, tracked=["name"])
    assert h1.count() == 1  # untracked change -> no new version


def test_duplicate_keys_in_batch_keep_last(spark):
    """A batch with duplicate keys must not open two current versions —
    keep-last dedup (same policy as the Type-1 upsert sink)."""
    t0 = "2024-01-01 00:00:00"
    b = _batch(spark, [(1, "a", 10.0), (1, "a", 99.0), (2, "b", 5.0)])
    h = scd2_merge(None, b, ["id"], t0)
    assert h.count() == 2
    assert h.where("id = 1 AND is_current").count() == 1


def test_as_of_normalization_iso_variants(spark):
    """ISO 'T' separators, date-only, and unpadded fields normalize to the
    zero-padded lexically-comparable layout; garbage raises."""
    b = _batch(spark, [(1, "a", 10.0)])
    rows = scd2_merge(None, b, ["id"], "2024-01-01T06:30:00").collect()
    assert rows[0].valid_from == "2024-01-01 06:30:00"
    rows = scd2_merge(None, b, ["id"], "2024-1-2").collect()
    assert rows[0].valid_from == "2024-01-02 00:00:00"
    rows = scd2_merge(None, b, ["id"], "2024-01-01 06:30:00.250").collect()
    assert rows[0].valid_from == "2024-01-01 06:30:00"
    with pytest.raises(ValueError, match="as_of"):
        scd2_merge(None, b, ["id"], "January 1st")


def test_out_of_order_as_of_rejected(spark):
    """An as_of earlier than the newest open version's valid_from would
    write inverted validity intervals — must raise, not corrupt."""
    t0 = "2024-06-01 00:00:00"
    h0 = scd2_merge(None, _batch(spark, [(1, "a", 10.0)]), ["id"], t0)
    with pytest.raises(ValueError, match="precedes"):
        scd2_merge(h0, _batch(spark, [(1, "a", 99.0)]), ["id"], "2024-01-01 00:00:00")
    # equal timestamp stays allowed: the idempotent re-merge path
    assert scd2_merge(h0, _batch(spark, [(1, "a", 10.0)]), ["id"], t0).count() == 1


def test_snapshot_as_of_normalizes_ts(spark):
    t0 = "2024-01-01 00:00:00"
    h = scd2_merge(None, _batch(spark, [(1, "a", 10.0)]), ["id"], t0)
    assert snapshot_as_of(h, "2024-06-01T00:00:00").count() == 1


def test_sink_rejects_out_of_order_as_of_even_after_monotonic_runs(spark, tmp_path):
    """The sink's monotonic fast path (skip the validation scan when as_of
    >= its high-water mark) must NOT weaken the out-of-order rejection: a
    merge with an earlier as_of still raises."""
    import pytest

    from bonobo_sqlalchemy_spark.operators.scd2 import Scd2Sink

    path = str(tmp_path / "hist")
    sink = Scd2Sink(keys=["id"])
    df1 = spark.createDataFrame([(1, "a")], "id int, v string")
    sink.write(df1, spark, path, "2024-01-01 00:00:00")
    df2 = spark.createDataFrame([(1, "b")], "id int, v string")
    sink.write(df2, spark, path, "2024-02-01 00:00:00")  # monotonic: no scan
    with pytest.raises(ValueError, match="precedes"):
        sink.write(
            spark.createDataFrame([(1, "c")], "id int, v string"),
            spark,
            path,
            "2024-01-15 00:00:00",
        )
    # A FRESH sink (no high-water mark, e.g. after restart) also rejects —
    # via the scan-validation path.
    with pytest.raises(ValueError, match="precedes"):
        Scd2Sink(keys=["id"]).write(
            spark.createDataFrame([(1, "c")], "id int, v string"),
            spark,
            path,
            "2024-01-15 00:00:00",
        )


def test_hwm_sidecar_detects_out_of_band_writer(spark, tmp_path):
    """The monotonic fast path trusts the PERSISTED high-water mark, not
    in-process state (VERDICT r5 advice): a table advanced by another sink
    instance between writes still validates/merges correctly, and a table
    with no sidecar (foreign lineage) never takes the fast path."""
    import os

    from bonobo_sqlalchemy_spark.operators.scd2 import Scd2Sink, snapshot_as_of

    path = str(tmp_path / "scd2_oob")
    a = Scd2Sink(keys=["k"])
    b = Scd2Sink(keys=["k"])  # separate in-process state, same table

    df = lambda v: spark.createDataFrame([(1, v)], "k int, v string")  # noqa: E731
    a.write(df("v1"), spark, path, as_of="2024-01-01 00:00:00")
    # out-of-band: sink B advances the table; A's in-memory mark is now stale
    b.write(df("v2"), spark, path, as_of="2024-03-01 00:00:00")
    # A writes an as_of AFTER its own (stale, in-memory) mark but BEFORE
    # B's persisted mark. Pre-fix this fast-pathed past validation and
    # silently wrote inverted intervals; now the persisted mark forces
    # validation, which DETECTS the out-of-order merge and refuses.
    with pytest.raises(ValueError, match="out-of-order"):
        a.write(df("v3"), spark, path, as_of="2024-02-01 00:00:00")
    # the refused write corrupted nothing: B's state is intact
    hist = spark.read.parquet(path)
    for r in hist.select("valid_from", "valid_to").collect():
        assert str(r.valid_from) < str(r.valid_to)
    assert snapshot_as_of(hist, "2024-04-01 00:00:00").collect()[0].v == "v2"
    # and a genuinely-monotonic write from A (past B's mark) still lands
    hist = a.write(df("v3"), spark, path, as_of="2024-04-15 00:00:00")
    assert snapshot_as_of(hist, "2024-04-16 00:00:00").collect()[0].v == "v3"

    # foreign lineage: delete the sidecar -> fast path must not trigger
    os.remove(path + ".__scd2_hwm")
    c = Scd2Sink(keys=["k"])
    hist2 = c.write(df("v4"), spark, path, as_of="2024-06-01 00:00:00")
    assert snapshot_as_of(hist2, "2024-06-02 00:00:00").collect()[0].v == "v4"
    assert os.path.exists(path + ".__scd2_hwm")  # sidecar re-established


def test_scd2_snapshot_sink_roundtrip_and_time_travel(spark, tmp_path):
    """Scd2Sink(snapshot=True): the identical SCD2 merge published as
    atomic snapshot commits — each merge is one version, the history
    table's own history is time-travelable, and the HWM sidecar contract
    survives the backend switch (round-13 first-class sink wiring)."""
    from bonobo_sqlalchemy_spark.operators.snapshot import (
        snapshot_read,
        snapshot_versions,
    )

    root = str(tmp_path / "dim_customer")
    sink = Scd2Sink(keys=["id"], snapshot=True)
    sink.write(_batch(spark, [(1, "a", 10.0)]), spark, root, "2024-01-01 00:00:00")
    assert sink.last_stats == {"rows": 1, "open": 1}
    out = sink.write(
        _batch(spark, [(1, "a", 20.0)]), spark, root, "2024-02-01 00:00:00"
    )
    assert sink.last_stats == {"rows": 2, "open": 1}
    reread = snapshot_read(spark, root)
    assert reread.count() == 2
    assert reread.where("is_current").collect()[0].balance == 20.0
    assert out.columns == reread.columns
    # time travel: the pre-second-merge history (one open version @10.0)
    names = snapshot_versions(root)
    assert len(names) == 2
    v1 = snapshot_read(spark, root, names[0])
    assert v1.count() == 1 and v1.collect()[0].balance == 10.0
    # out-of-order as_of still rejected through the snapshot path
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink.write(
            _batch(spark, [(1, "a", 30.0)]), spark, root, "2023-01-01 00:00:00"
        )
