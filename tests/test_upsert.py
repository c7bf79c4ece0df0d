"""Upsert sink tests — mirrors the reference's integration round-trips
(`tests/test_integration.py:173-207`, FIXTURES.md A1/A2) against SQLite
(single-writer DBAPI backend) and a parquet-directory target (lakehouse
MERGE emulation)."""

from __future__ import annotations

import datetime
import sqlite3
from functools import partial

import pytest
from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark import (
    DbapiService,
    Graph,
    InsertOrUpdate,
    PathService,
    run,
)
from bonobo_sqlalchemy_spark.constants import INSERT, UPDATE
from bonobo_sqlalchemy_spark.metrics import trace


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "t.db")
    con = sqlite3.connect(path)
    con.executescript(
        """
        CREATE TABLE table_1 (id INTEGER PRIMARY KEY, value VARCHAR(255));
        CREATE TABLE table_2 (id INTEGER PRIMARY KEY, value VARCHAR(255));
        CREATE TABLE audited (
            id INTEGER PRIMARY KEY AUTOINCREMENT,
            ext_key VARCHAR, value VARCHAR, src VARCHAR,
            created_at TIMESTAMP, updated_at TIMESTAMP);
        """
    )
    con.commit()
    con.close()
    return path


def _svc(path: str) -> dict:
    return {"sqlalchemy.engine": DbapiService(partial(sqlite3.connect, path))}


def _golden(spark):
    # Reference golden input: 10 rows (i, 'value for {i}').
    return spark.createDataFrame(
        [(i, f"value for {i}") for i in range(10)], "id int, value string"
    )


def _read(path, sql):
    con = sqlite3.connect(path)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_roundtrip_golden_rows(spark, db):
    sink = InsertOrUpdate("table_1", discriminant=("id",))
    [out] = run(Graph(_golden(spark), sink), spark, services=_svc(db))
    assert out.count() == 10  # written rows re-emitted downstream (O2c)
    rows = _read(db, "SELECT id, value FROM table_1 ORDER BY id")
    assert rows == [(i, f"value for {i}") for i in range(10)]
    assert sink.last_stats == {"insert": 10, "update": 0}
    assert sink.last_errors == []


def test_copy_table_preserves_content(spark, db):
    run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=_svc(db))
    src = spark.createDataFrame(
        _read(db, "SELECT id, value FROM table_1"), "id int, value string"
    )
    run(Graph(src, InsertOrUpdate("table_2")), spark, services=_svc(db))
    assert _read(db, "SELECT id, value FROM table_2 ORDER BY id") == [
        (i, f"value for {i}") for i in range(10)
    ]


def test_update_existing_rows(spark, db):
    run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=_svc(db))
    updated = _golden(spark).withColumn("value", F.concat(F.lit("v2 "), "value"))
    sink = InsertOrUpdate("table_1")
    run(Graph(updated, sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 0, "update": 10}
    rows = _read(db, "SELECT id, value FROM table_1 ORDER BY id")
    assert rows == [(i, f"v2 value for {i}") for i in range(10)]


def test_mixed_insert_update(spark, db):
    run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=_svc(db))
    mixed = spark.createDataFrame(
        [(5, "changed"), (20, "new row")], "id int, value string"
    )
    sink = InsertOrUpdate("table_1")
    run(Graph(mixed, sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 1, "update": 1}
    assert _read(db, "SELECT value FROM table_1 WHERE id = 5") == [("changed",)]
    assert _read(db, "SELECT value FROM table_1 WHERE id = 20") == [("new row",)]
    assert _read(db, "SELECT count(*) FROM table_1") == [(11,)]


def test_operation_gating_insert_only(spark, db):
    """O2h: UPDATE prohibited -> existing-key rows land in the dead-letter
    channel (reference raises ProhibitedOperationError per row and yields
    it downstream, writers.py:92-95,113-126)."""
    run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=_svc(db))
    sink = InsertOrUpdate("table_1", allowed_operations=(INSERT,))
    mixed = spark.createDataFrame(
        [(5, "should not update"), (30, "new")], "id int, value string"
    )
    run(Graph(mixed, sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 1, "update": 0}
    assert len(sink.last_errors) == 1 and sink.last_errors[0]["op"] == "UPDATE"
    assert _read(db, "SELECT value FROM table_1 WHERE id = 5") == [("value for 5",)]
    assert _read(db, "SELECT value FROM table_1 WHERE id = 30") == [("new",)]


def test_operation_gating_update_only(spark, db):
    run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=_svc(db))
    sink = InsertOrUpdate("table_1", allowed_operations=(UPDATE,))
    mixed = spark.createDataFrame(
        [(5, "updated"), (40, "rejected insert")], "id int, value string"
    )
    run(Graph(mixed, sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 0, "update": 1}
    assert len(sink.last_errors) == 1 and sink.last_errors[0]["op"] == "INSERT"
    assert _read(db, "SELECT count(*) FROM table_1 WHERE id = 40") == [(0,)]


def test_audit_timestamps_and_insert_only_fields(spark, db):
    """O2f: created_at only on INSERT, updated_at on every write;
    insert_only_fields never change on UPDATE (writers.py:105-132,171-172)."""
    first = spark.createDataFrame(
        [("k1", "v1", "origin-a")], "ext_key string, value string, src string"
    )
    sink = InsertOrUpdate(
        "audited", discriminant=("ext_key",), insert_only_fields=("src",)
    )
    run(Graph(first, sink), spark, services=_svc(db))
    [(created1, updated1, src1)] = _read(
        db, "SELECT created_at, updated_at, src FROM audited WHERE ext_key='k1'"
    )
    assert created1 is not None and updated1 is not None and src1 == "origin-a"

    second = spark.createDataFrame(
        [("k1", "v2", "origin-b")], "ext_key string, value string, src string"
    )
    run(Graph(second, sink), spark, services=_svc(db))
    [(created2, updated2, src2, value2)] = _read(
        db,
        "SELECT created_at, updated_at, src, value FROM audited WHERE ext_key='k1'",
    )
    assert value2 == "v2"
    assert src2 == "origin-a"  # insert-only field preserved
    assert created2 == created1  # created_at preserved on update
    assert updated2 >= updated1


def test_sqlite_decimal_column_round_trip(spark, db):
    """DECIMAL(18,2), the engine's money type, reaches SQLite (whose
    sqlite3 module has no Decimal adapter) on insert and on update, with no
    dead letters — also through a decimal(20,0) key, the type DuckDB's
    JDBC driver gives BIGINT columns."""
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE money (id INTEGER PRIMARY KEY, amount NUMERIC)")
    con.commit()
    con.close()

    def batch(cents_per_id):
        return spark.range(6).select(
            F.col("id").cast("decimal(20,0)").alias("id"),
            (F.col("id") * cents_per_id / 100).cast("decimal(18,2)").alias("amount"),
        )

    sink = InsertOrUpdate("money", discriminant=("id",))
    run(Graph(batch(125), sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 6, "update": 0}
    assert sink.last_errors == []
    run(Graph(batch(250), sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 0, "update": 6}
    assert sink.last_errors == []
    rows = _read(db, "SELECT id, CAST(amount * 100 AS INTEGER) FROM money ORDER BY id")
    assert rows == [(i, i * 250) for i in range(6)]


def test_fetch_columns_generated_id(spark, db):
    """O2i: DB-generated id fetched back into the outgoing stream."""
    rows = spark.createDataFrame(
        [("a", "v-a", "s"), ("b", "v-b", "s")], "ext_key string, value string, src string"
    )
    sink = InsertOrUpdate(
        "audited", discriminant=("ext_key",), fetch_columns=("id",)
    )
    [out] = run(Graph(rows, sink), spark, services=_svc(db))
    got = {(r.ext_key, r.id is not None) for r in out.collect()}
    assert got == {("a", True), ("b", True)}
    db_ids = dict(_read(db, "SELECT ext_key, id FROM audited"))
    out_ids = {r.ext_key: r.id for r in out.collect()}
    assert out_ids == db_ids


def test_fetch_back_is_keyed_not_full_table(spark, db, monkeypatch):
    """O2i at scale: fetch-back must issue keyed SELECTs for only the
    written keys — never materialize the whole target on the driver. The
    target here holds 5k pre-existing rows; a full-table read path
    (pandas.read_sql_query) is poisoned to fail, and the driver-side probe
    is the only permitted unkeyed statement (LIMIT-bounded)."""
    import pandas as pd

    con = sqlite3.connect(db)
    con.executemany(
        "INSERT INTO audited (ext_key, value, src) VALUES (?, ?, ?)",
        [(f"pre-{i}", f"v{i}", "seed") for i in range(5000)],
    )
    con.commit()
    con.close()

    def _boom(*a, **k):
        raise AssertionError("full-table pandas.read_sql_query on the driver")

    monkeypatch.setattr(pd, "read_sql_query", _boom)

    rows = spark.createDataFrame(
        [("a", "v-a", "s"), ("b", "v-b", "s")], "ext_key string, value string, src string"
    )
    sink = InsertOrUpdate("audited", discriminant=("ext_key",), fetch_columns=("id",))
    [out] = run(Graph(rows, sink), spark, services=_svc(db))
    got = {r.ext_key: r.id for r in out.collect()}
    db_ids = dict(_read(db, "SELECT ext_key, id FROM audited WHERE ext_key IN ('a','b')"))
    assert got == db_ids and all(v is not None for v in got.values())


def test_worker_connection_is_closed_when_find_query_fails(spark, db, tmp_path):
    """A partition whose find query raises still closes its connection.
    The connect factory logs every open and close to a file, and its
    cursors fail any SELECT (the find query), while the driver's PRAGMA
    column probe still works."""
    log = str(tmp_path / "connections.log")

    class FailingFindCursor:
        def __init__(self, cur):
            self.cur = cur

        def execute(self, sql, *args):
            if sql.startswith("SELECT"):
                raise sqlite3.OperationalError("find query failed")
            return self.cur.execute(sql, *args)

        def __getattr__(self, name):
            return getattr(self.cur, name)

    class LoggedConnection:
        def __init__(self):
            self.con = sqlite3.connect(db)
            with open(log, "a") as f:
                f.write("open\n")

        def cursor(self):
            return FailingFindCursor(self.con.cursor())

        def close(self):
            self.con.close()
            with open(log, "a") as f:
                f.write("close\n")

        def __getattr__(self, name):
            return getattr(self.con, name)

    svc = {"sqlalchemy.engine": DbapiService(LoggedConnection)}
    with pytest.raises(Exception, match="find query failed"):
        run(Graph(_golden(spark), InsertOrUpdate("table_1")), spark, services=svc)
    with open(log) as f:
        events = f.read().split()
    assert events.count("open") >= 2  # the driver's probe and a worker
    assert events.count("close") == events.count("open")


def test_duplicate_keys_in_one_batch_keep_last(spark, db):
    """Set-based divergence (§4.2.3): same key twice in one batch ->
    exactly one final row; last occurrence wins."""
    dup = spark.createDataFrame(
        [(1, "first"), (1, "second"), (1, "third")], "id int, value string"
    ).coalesce(1)
    sink = InsertOrUpdate("table_1")
    run(Graph(dup, sink), spark, services=_svc(db))
    assert _read(db, "SELECT value FROM table_1 WHERE id = 1") == [("third",)]


def test_postgres_paramstyle_branch_round_trip(spark, db):
    """The postgresql dialect branches ('%s' paramstyle, information_schema
    reflection, postgres-flavored find/insert/update SQL) executed end-to-end
    against the in-process shim (`bonobo_sqlalchemy_spark.testing`) — the
    documented stand-in while no server database ships in this build."""
    from bonobo_sqlalchemy_spark.testing import postgres_shim_connect

    svc = {
        "sqlalchemy.engine": DbapiService(
            partial(postgres_shim_connect, db), paramstyle="format", dialect="postgresql"
        )
    }
    sink = InsertOrUpdate("audited", discriminant=("ext_key",), fetch_columns=("id",))
    rows = spark.createDataFrame(
        [("pg-a", "v1", "s"), ("pg-b", "v2", "s")],
        "ext_key string, value string, src string",
    )
    [out] = run(Graph(rows, sink), spark, services=svc)
    assert {r.ext_key for r in out.collect()} == {"pg-a", "pg-b"}
    assert sink.last_stats == {"insert": 2, "update": 0}
    # second pass updates through the %s-parameterized UPDATE branch
    rows2 = spark.createDataFrame(
        [("pg-a", "v1-updated", "s")], "ext_key string, value string, src string"
    )
    [out2] = run(Graph(rows2, sink), spark, services=svc)
    assert sink.last_stats == {"insert": 0, "update": 1}
    assert _read(db, "SELECT value FROM audited WHERE ext_key = 'pg-a'") == [
        ("v1-updated",)
    ]
    assert all(r.id is not None for r in out2.collect())


def test_update_noop_when_all_columns_insert_only_is_channelled(spark, db):
    """When every non-key column is insert-only there is nothing to SET:
    matched rows must surface in the dead-letter channel (reference
    behavior: the per-row UPDATE error is yielded downstream), not vanish
    silently from both stats and errors."""
    sink = InsertOrUpdate(
        "table_1", discriminant=("id",), insert_only_fields=("value",)
    )
    run(Graph(_golden(spark), sink), spark, services=_svc(db))
    assert sink.last_stats == {"insert": 10, "update": 0}
    sink2 = InsertOrUpdate(
        "table_1", discriminant=("id",), insert_only_fields=("value",)
    )
    run(Graph(_golden(spark), sink2), spark, services=_svc(db))
    assert sink2.last_stats == {"insert": 0, "update": 0}
    assert sum(e["n"] for e in sink2.last_errors if e["op"] == "UPDATE-noop") == 10


def test_missing_table_is_fatal(spark, db):
    from bonobo_sqlalchemy_spark.errors import UnrecoverableOperationalError

    sink = InsertOrUpdate("nonexistent_table")
    with pytest.raises(UnrecoverableOperationalError):
        run(Graph(_golden(spark), sink), spark, services=_svc(db))


# ---------------------------------------------------------------------------
# Parquet-directory target (lakehouse MERGE emulation)
# ---------------------------------------------------------------------------

def test_path_target_create_then_merge(spark, tmp_path):
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    sink = InsertOrUpdate("t", discriminant=("id",))
    run(Graph(_golden(spark), sink), spark, services=svc)
    assert sink.last_stats["insert"] == 10

    mixed = spark.createDataFrame(
        [(5, "changed"), (20, "new row")], "id int, value string"
    )
    sink2 = InsertOrUpdate("t", discriminant=("id",))
    run(Graph(mixed, sink2), spark, services=svc)
    assert sink2.last_stats == {"insert": 1, "update": 1}
    final = spark.read.parquet(str(tmp_path / "t.parquet"))
    assert final.count() == 11
    assert final.where("id = 5").collect()[0].value == "changed"
    assert final.where("id = 20").collect()[0].value == "new row"


def _check_gated_merge(sink, final, allowed):
    """The MERGE of (3, 'upd'), (99, 'new') into the 10-row golden table
    under one prohibited operation: the prohibited row is one dead letter
    and leaves the table as it was; the allowed row lands."""
    if allowed == (UPDATE,):
        assert sink.last_errors == [{"op": "INSERT", "key": "*", "n": 1}]
        assert sink.last_stats == {"insert": 0, "update": 1}
        assert final.count() == 10
        assert final.where("id = 3").collect()[0].value == "upd"
    else:
        assert sink.last_errors == [{"op": "UPDATE", "key": "*", "n": 1}]
        assert sink.last_stats == {"insert": 1, "update": 0}
        assert final.count() == 11
        assert final.where("id = 3").collect()[0].value == "value for 3"
        assert final.where("id = 99").collect()[0].value == "new"


@pytest.mark.parametrize("allowed", [(UPDATE,), (INSERT,)], ids=["update_only", "insert_only"])
def test_path_target_update_only_gating(spark, tmp_path, allowed):
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    run(Graph(_golden(spark), InsertOrUpdate("t")), spark, services=svc)
    sink = InsertOrUpdate("t", allowed_operations=allowed)
    mixed = spark.createDataFrame(
        [(3, "upd"), (99, "new")], "id int, value string"
    )
    run(Graph(mixed, sink), spark, services=svc)
    _check_gated_merge(sink, spark.read.parquet(str(tmp_path / "t.parquet")), allowed)


def test_path_merge_pins_spark_job_count(spark, tmp_path):
    """One path MERGE is one keyed join and one write: the target's schema
    read, the two shuffle stages of the join (the incoming side's is the
    keep-last window's) and the write, with the insert/update counts
    observed inside the write job. Job counts do not depend on timing, so
    a change that brings back a count action or a second join fails here
    without benchmark noise."""
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    run(Graph(_golden(spark), InsertOrUpdate("t")), spark, services=svc)
    mixed = spark.createDataFrame(
        [(5, "changed"), (20, "new row")], "id int, value string"
    )
    sink = InsertOrUpdate("t")
    with trace(spark, "path merge") as span:
        run(Graph(mixed, sink), spark, services=svc)
    assert sink.last_stats == {"insert": 1, "update": 1}
    assert span.jobs <= 6


def test_path_merge_recovers_a_table_left_aside_by_a_crash(spark, tmp_path):
    """An in-place rewrite renames the old table aside before it moves the
    new one in. A crash between the two renames leaves the table path
    missing; the next write must put the old rows back and merge into
    them, not create a table holding only its own batch."""
    import os

    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    run(Graph(_golden(spark), InsertOrUpdate("t")), spark, services=svc)
    path = svc["sqlalchemy.engine"].table_path("t")
    parent, base = os.path.split(os.path.abspath(path))
    os.rename(path, os.path.join(parent, f".{base}.__publish_old"))
    new = spark.createDataFrame([(20, "new row")], "id int, value string")
    run(Graph(new, InsertOrUpdate("t")), spark, services=svc)
    assert spark.read.parquet(path).count() == 10 + 1


@pytest.mark.parametrize("snapshot", [False, True], ids=["in_place", "snapshot"])
def test_path_fetch_back_of_a_written_column(spark, tmp_path, snapshot):
    """O2i on a path target, on create and on merge: a fetch column that
    the sink also writes is read back from the table, under its alias."""
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    for rows in ([(1, "a"), (2, "b")], [(2, "B"), (3, "c")]):
        sink = InsertOrUpdate("t", fetch_columns={"stored": "value"}, snapshot=snapshot)
        [out] = run(
            Graph(spark.createDataFrame(rows, "id int, value string"), sink),
            spark,
            services=svc,
        )
        assert sorted(tuple(r) for r in out.collect()) == [(i, v, v) for i, v in rows]


def test_order_col_keep_last_is_shuffle_invariant(spark, tmp_path):
    """With order_col, 'last row wins' is defined by the declared column —
    identical results regardless of input partitioning (the default
    monotonic-id tie-break is only source-order within a partition)."""
    import sqlite3
    from functools import partial

    from bonobo_sqlalchemy_spark import DbapiService, InsertOrUpdate

    rows = [
        (1, "old", 10),
        (1, "mid", 20),
        (1, "new", 30),
        (2, "only", 5),
    ]
    df = spark.createDataFrame(rows, "id int, val string, version int")
    for reshuffle in (lambda d: d, lambda d: d.repartition(7, "val")):
        dbfile = str(tmp_path / f"oc_{reshuffle.__code__.co_consts}.db".replace("(", "").replace(")", "").replace(",", "").replace(" ", ""))
        with sqlite3.connect(dbfile) as con:
            con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, val TEXT, version INTEGER)")
        sink = InsertOrUpdate("t", discriminant=("id",), order_col="version", engine="db")
        sink.write(reshuffle(df), spark, {"db": DbapiService(partial(sqlite3.connect, dbfile))})
        with sqlite3.connect(dbfile) as con:
            got = sorted(con.execute("SELECT id, val, version FROM t").fetchall())
        assert got == [(1, "new", 30), (2, "only", 5)]


def test_order_col_missing_raises(spark):
    from bonobo_sqlalchemy_spark import InsertOrUpdate

    df = spark.createDataFrame([(1, "a")], "id int, val string")
    sink = InsertOrUpdate("t", discriminant=("id",), order_col="nope")
    import pytest

    with pytest.raises(ValueError, match="order_col"):
        sink._prepare(df, ["id", "val"])


def test_order_col_may_be_input_only_and_ties_are_stable(spark, tmp_path):
    """order_col need not be a target column (version/timestamp often is
    not persisted), and rows with EQUAL order_col values resolve
    deterministically (monotonic-id tiebreak), not by partition luck."""
    import sqlite3
    from functools import partial

    from bonobo_sqlalchemy_spark import DbapiService, InsertOrUpdate

    dbfile = str(tmp_path / "oc_inputonly.db")
    with sqlite3.connect(dbfile) as con:
        con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, val TEXT)")  # no version col
    df = spark.createDataFrame(
        [(1, "a", 5), (1, "b", 9), (1, "c", 9), (2, "x", 1)],
        "id int, val string, version int",
    ).coalesce(1)
    sink = InsertOrUpdate("t", discriminant=("id",), order_col="version", engine="db")
    out = sink.write(df, spark, {"db": DbapiService(partial(sqlite3.connect, dbfile))})
    assert "version" not in out.columns  # projected to target schema
    with sqlite3.connect(dbfile) as con:
        got = sorted(con.execute("SELECT id, val FROM t").fetchall())
    # tie at version=9: later source row ('c') wins via the monotonic-id
    # tiebreak — deterministic on the single-partition input
    assert got == [(1, "c"), (2, "x")]


def test_path_target_snapshot_create_then_merge(spark, tmp_path):
    """snapshot=True: the same MERGE semantics land as atomic snapshot
    commits (operators/snapshot.py) — round-13 first-class sink wiring.
    The pre-merge state stays time-travelable and each write is one
    version."""
    from bonobo_sqlalchemy_spark.operators.snapshot import (
        snapshot_read,
        snapshot_versions,
    )

    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    sink = InsertOrUpdate("t", discriminant=("id",), snapshot=True)
    run(Graph(_golden(spark), sink), spark, services=svc)
    assert sink.last_stats["insert"] == 10

    mixed = spark.createDataFrame(
        [(5, "changed"), (20, "new row")], "id int, value string"
    )
    sink2 = InsertOrUpdate("t", discriminant=("id",), snapshot=True)
    run(Graph(mixed, sink2), spark, services=svc)
    assert sink2.last_stats == {"insert": 1, "update": 1}

    root = str(tmp_path / "t.parquet")
    final = snapshot_read(spark, root)
    assert final.count() == 11
    assert final.where("id = 5").collect()[0].value == "changed"
    assert final.where("id = 20").collect()[0].value == "new row"
    # one snapshot per write; the pre-merge table is still readable
    names = snapshot_versions(root)
    assert len(names) == 2
    v1 = snapshot_read(spark, root, names[0])
    assert v1.count() == 10
    assert v1.where("id = 5").collect()[0].value != "changed"


@pytest.mark.parametrize("allowed", [(UPDATE,), (INSERT,)], ids=["update_only", "insert_only"])
def test_path_target_snapshot_update_only_gating(spark, tmp_path, allowed):
    from bonobo_sqlalchemy_spark.operators.snapshot import snapshot_read

    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    run(
        Graph(_golden(spark), InsertOrUpdate("t", snapshot=True)),
        spark,
        services=svc,
    )
    sink = InsertOrUpdate("t", allowed_operations=allowed, snapshot=True)
    mixed = spark.createDataFrame(
        [(3, "upd"), (99, "new")], "id int, value string"
    )
    run(Graph(mixed, sink), spark, services=svc)
    final = snapshot_read(spark, str(tmp_path / "t.parquet"))
    _check_gated_merge(sink, final, allowed)
