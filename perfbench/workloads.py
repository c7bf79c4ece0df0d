"""The workloads: which operations a pass runs, and how each is checked.

``graph_loops`` runs registry rows (``REGISTRY[name]
.spark(spark, data_dir)`` then ``collect``) and compare every result with
its DuckDB expectation (``oracles.py``). ``etl_upsert`` runs two
Select -> transform -> ``InsertOrUpdate`` graphs through
``plans.graph.run`` and compares both targets with the state recomputed
from the inputs and the seed; each pass then runs ``decimal_batch``,
untimed (see README.md).
"""

from __future__ import annotations

import datetime as dt
import functools
import random
import shutil
import sqlite3
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: timestamp the seeded target rows were "created" at; an upsert must keep
#: it on every row it updates
SEED_CREATED = "2000-01-01 00:00:00"


def cache_dir() -> Path:
    return ROOT / ".bench_build" / "perfbench"


@dataclass(frozen=True)
class Workload:
    name: str
    #: passes run after the first and before the measured ones
    warmup: int
    rows: tuple[str, ...] = ()
    etl: bool = False


#: Warm-up passes follow the pass-by-pass curves in README.md: the second
#: pass still spends CPU on JIT compilation, the third is near steady.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "graph_loops",
            1,
            ("z_graph_pagerank", "z_graph_ppr_trade", "z_graph_labelprop", "z_graph_audit_saved"),
        ),
        Workload("etl_upsert", 1, etl=True),
    )
}
#: input scale of the measured runs, and of the smoke self-test
SF, SMOKE_SF = 0.01, 0.001


def oracle_rows() -> list[str]:
    """Registry rows with an expectation."""
    return [r for w in WORKLOADS.values() for r in w.rows]


# ---------------------------------------------------------------------------
# etl_upsert: seed-dependent target state, built without Spark
# ---------------------------------------------------------------------------
ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
LINE_COLS = (
    "l_orderkey",
    "l_linenumber",
    "l_partkey",
    "l_quantity",
    "l_revenue_cents",
    "l_returnflag",
)
#: the engine-independent statement of both legs' transforms
ORDERS_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
FROM read_parquet(?)"""
LINE_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, CAST(l_quantity AS INTEGER) AS l_quantity,
       CAST(round(l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS l_revenue_cents,
       l_returnflag
FROM read_parquet(?)"""


def _expected_tables(data_dir: Path) -> tuple[list[tuple], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        orders = con.execute(ORDERS_SQL, [str(data_dir / "orders.parquet")]).fetchall()
        lines = con.execute(LINE_SQL, [str(data_dir / "lineitem.parquet")]).fetchall()
    finally:
        con.close()
    return sorted(orders), sorted(lines)


def _seeded_half(rows: list[tuple], seed: int) -> list[tuple]:
    """Exactly half of ``rows``, chosen by ``seed``."""
    pick = list(range(len(rows)))
    random.Random(seed).shuffle(pick)
    return [rows[i] for i in sorted(pick[: len(rows) // 2])]


def seed_targets(data_dir: Path, pristine: Path, seed: int) -> dict:
    """Write the seed state of both targets under ``pristine`` and return
    the expected post-upsert state. Seeded rows carry stale values, so an
    update is visible; their ``created_at`` must survive the upsert."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    orders, lines = _expected_tables(data_dir)
    seeded_o = _seeded_half(orders, seed)
    seeded_l = _seeded_half(lines, seed + 1)
    pristine.mkdir(parents=True, exist_ok=True)

    con = sqlite3.connect(pristine / "target.sqlite")
    try:
        con.execute(
            "CREATE TABLE orders_tgt (o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER, "
            "o_orderstatus TEXT, o_totalprice REAL, o_orderdate TEXT, "
            "o_orderpriority TEXT, created_at TEXT, updated_at TEXT)"
        )
        con.executemany(
            "INSERT INTO orders_tgt VALUES (?, ?, 'X', 0.0, ?, '0-STALE', ?, ?)",
            [(r[0], r[1], r[4], SEED_CREATED, SEED_CREATED) for r in seeded_o],
        )
        con.execute(
            "CREATE TABLE money (id INTEGER PRIMARY KEY, amount NUMERIC, "
            "created_at TEXT, updated_at TEXT)"
        )
        con.commit()
    finally:
        con.close()

    created = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
    n = len(seeded_l)
    wh = pristine / "warehouse"
    wh.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in seeded_l], pa.int64()),
                "l_linenumber": pa.array([r[1] for r in seeded_l], pa.int32()),
                "l_partkey": pa.array([r[2] for r in seeded_l], pa.int64()),
                "l_quantity": pa.array([0] * n, pa.int32()),
                "l_revenue_cents": pa.array([0] * n, pa.int64()),
                "l_returnflag": ["X"] * n,
                "created_at": pa.array([created] * n, pa.timestamp("us", tz="UTC")),
                "updated_at": pa.array([created] * n, pa.timestamp("us", tz="UTC")),
            }
        ),
        wh / "lineitem_wh.parquet",
    )
    return {
        "orders": orders,
        "orders_seeded": [r[0] for r in seeded_o],
        "lines": lines,
        "lines_seeded": [[r[0], r[1]] for r in seeded_l],
    }


# ---------------------------------------------------------------------------
# Operations. ``run`` is the timed engine call; ``check`` runs after it,
# untimed, and returns a list of problems (empty when the output is right).
# ---------------------------------------------------------------------------
class RowOp:
    def __init__(self, name: str, data_dir: Path, expected: dict) -> None:
        self.name, self.data_dir, self.expected = name, str(data_dir), expected
        self.result = None

    def run(self, spark, tracer) -> None:
        from bonobo_sqlalchemy_spark.queries import REGISTRY

        with tracer.span("queries.build"):
            df = REGISTRY[self.name].spark(spark, self.data_dir)
        with tracer.span("queries.exec"):
            self.result = (list(df.columns), df.collect())

    def check(self) -> list[str]:
        from perfbench.oracles import multiset

        columns, rows = self.result
        self.result = None
        got = multiset(columns, rows)
        if got == self.expected:
            return []
        if got["columns"] != self.expected["columns"]:
            return [f"{self.name}: columns {got['columns']} != {self.expected['columns']}"]
        return [
            f"{self.name}: {len(got['rows'])} rows differ from the "
            f"{len(self.expected['rows'])} expected"
        ]


class EtlContext:
    """Paths and services of one run's ``etl_upsert`` targets."""

    def __init__(self, run_root: Path, data_dir: Path, expected: dict, counting: bool):
        from bonobo_sqlalchemy_spark.registry import DbapiService, PathService

        self.pristine = run_root / "pristine"
        self.live = run_root / "targets"
        self.data_dir = data_dir
        self.expected = expected
        self.count_dir = str(run_root / "dbapi_counts")
        db = str(self.live / "target.sqlite")
        if counting:
            from perfbench import dbcount

            connect = functools.partial(dbcount.connect, db, self.count_dir)
        else:
            connect = functools.partial(sqlite3.connect, db)
        self.services = {
            "sqlalchemy.engine": DbapiService(connect=connect),
            "warehouse": PathService(str(self.live / "warehouse")),
            "inputs": PathService(str(data_dir)),
        }
        self.n_orders = len(expected["orders"])

    def restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)


class OrdersToSqlite:
    """Leg (a): partitioned JDBC extract of ``orders`` from a DuckDB file,
    keys cast to BIGINT, upserted into SQLite through the DBAPI sink."""

    name = "orders_to_sqlite"

    def __init__(self, ctx: EtlContext) -> None:
        self.ctx = ctx
        self.sink = None

    def _source(self, spark, services):
        from bonobo_sqlalchemy_spark.sources.jdbc import duckdb_jdbc_service, read_jdbc

        svc = duckdb_jdbc_service(str(self.ctx.data_dir / "source.duckdb"))
        return read_jdbc(
            spark,
            svc,
            "orders",
            partition_column="o_orderkey",
            lower_bound=0,
            upper_bound=self.ctx.n_orders,
            num_partitions=4,
        )

    @staticmethod
    def _transform(df):
        from pyspark.sql import functions as F

        # DuckDB's JDBC driver hands BIGINT over as decimal(20,0), which
        # the SQLite sink cannot bind; the keys go out as BIGINT.
        return df.select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("o_custkey").cast("bigint").alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )

    def run(self, spark, tracer) -> None:
        from bonobo_sqlalchemy_spark import plans
        from bonobo_sqlalchemy_spark.operators.upsert import InsertOrUpdate
        from bonobo_sqlalchemy_spark.plans.graph import Graph

        def source(spark, services):
            with tracer.span("sources.select"):
                return self._source(spark, services)

        self.sink = InsertOrUpdate("orders_tgt", discriminant=("o_orderkey",))
        with tracer.span("queries.build"):
            plans.graph.run(Graph(source, self._transform, self.sink), spark, self.ctx.services)

    def check(self) -> list[str]:
        exp = self.ctx.expected
        con = sqlite3.connect(self.ctx.live / "target.sqlite")
        try:
            got = con.execute(
                f"SELECT {', '.join(ORDERS_COLS)}, created_at, updated_at FROM orders_tgt"
            ).fetchall()
        finally:
            con.close()
        problems = []
        if sorted(tuple(r[:6]) for r in got) != [tuple(r) for r in exp["orders"]]:
            problems.append(f"{self.name}: target rows differ from the recomputed state")
        seeded = set(exp["orders_seeded"])
        kept = sum(1 for r in got if r[0] in seeded and r[6] == SEED_CREATED)
        fresh = sum(1 for r in got if r[0] not in seeded and r[6] not in (None, SEED_CREATED))
        if kept != len(seeded) or fresh != len(got) - len(seeded):
            problems.append(f"{self.name}: created_at not kept on updated rows")
        problems += _counts(self.name, self.sink, len(exp["orders"]) - len(seeded), len(seeded))
        return problems


class LinesToParquet:
    """Leg (b): ``lineitem`` through Select over the input catalog,
    MERGE-upserted on (l_orderkey, l_linenumber) into a parquet table."""

    name = "lines_to_parquet"

    def __init__(self, ctx: EtlContext) -> None:
        self.ctx = ctx
        self.sink = None

    @staticmethod
    def _transform(df):
        from pyspark.sql import functions as F

        cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
        off = F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint")
        return df.select(
            "l_orderkey",
            "l_linenumber",
            "l_partkey",
            F.col("l_quantity").cast("int").alias("l_quantity"),
            (cents * off).alias("l_revenue_cents"),
            "l_returnflag",
        )

    def run(self, spark, tracer) -> None:
        from bonobo_sqlalchemy_spark import plans
        from bonobo_sqlalchemy_spark.operators.upsert import InsertOrUpdate
        from bonobo_sqlalchemy_spark.plans.graph import Graph
        from bonobo_sqlalchemy_spark.sources.select import Select

        select = Select("SELECT * FROM lineitem", engine="inputs")

        def source(spark, services):
            with tracer.span("sources.select"):
                return select(spark, services)

        self.sink = InsertOrUpdate(
            "lineitem_wh", discriminant=("l_orderkey", "l_linenumber"), engine="warehouse"
        )
        with tracer.span("queries.build"):
            plans.graph.run(Graph(source, self._transform, self.sink), spark, self.ctx.services)

    def check(self) -> list[str]:
        import duckdb

        exp = self.ctx.expected
        path = self.ctx.live / "warehouse" / "lineitem_wh.parquet"
        con = duckdb.connect()
        try:
            got = con.execute(
                f"SELECT {', '.join(LINE_COLS)}, "
                "CAST(created_at AS TIMESTAMP) = TIMESTAMP '2000-01-01' FROM read_parquet(?)",
                [str(path / "*.parquet")],
            ).fetchall()
        finally:
            con.close()
        problems = []
        if sorted(tuple(r[:6]) for r in got) != [tuple(r) for r in exp["lines"]]:
            problems.append(f"{self.name}: target rows differ from the recomputed state")
        seeded = {tuple(k) for k in exp["lines_seeded"]}
        kept = sum(1 for r in got if (r[0], r[1]) in seeded and r[6])
        fresh = sum(1 for r in got if (r[0], r[1]) not in seeded and r[6] is False)
        if kept != len(seeded) or fresh != len(got) - len(seeded):
            problems.append(f"{self.name}: created_at not kept on updated rows")
        problems += _counts(self.name, self.sink, len(exp["lines"]) - len(seeded), len(seeded))
        return problems


def _counts(name: str, sink, inserts: int, updates: int) -> list[str]:
    stats = sink.last_stats
    if stats.get("insert") != inserts or stats.get("update") != updates or sink.last_errors:
        return [
            f"{name}: {stats} and {len(sink.last_errors)} dead letters, "
            f"expected {inserts} inserts and {updates} updates"
        ]
    return []


class DecimalBatch:
    """1,000 rows with a DECIMAL(18,2) money column, the engine's own money
    type, upserted into SQLite. Inputs do not depend on the seed."""

    name = "decimal_batch"
    ROWS = 1000

    def __init__(self, ctx: EtlContext) -> None:
        self.ctx = ctx
        self.sink = None

    def run(self, spark, tracer) -> None:
        from pyspark.sql import functions as F

        from bonobo_sqlalchemy_spark import plans
        from bonobo_sqlalchemy_spark.operators.upsert import InsertOrUpdate
        from bonobo_sqlalchemy_spark.plans.graph import Graph

        src = spark.range(self.ROWS).select(
            F.col("id"), (F.col("id") * 125 / 100).cast("decimal(18,2)").alias("amount")
        )
        self.sink = InsertOrUpdate("money", discriminant=("id",))
        plans.graph.run(Graph(src, self.sink), spark, self.ctx.services)

    def check(self) -> list[str]:
        """Failure here is the known fault; a wrong table after a clean
        write is a wrong output."""
        if self.sink.last_errors or self.sink.last_stats.get("insert") != self.ROWS:
            raise RuntimeError(
                f"{self.sink.last_stats}, dead letters "
                f"{sum(e['n'] for e in self.sink.last_errors)}"
            )
        con = sqlite3.connect(self.ctx.live / "target.sqlite")
        try:
            got = con.execute("SELECT id, CAST(amount * 100 AS INTEGER) FROM money").fetchall()
        finally:
            con.close()
        if sorted(got) != [(i, i * 125) for i in range(self.ROWS)]:
            return [f"{self.name}: money table differs from its input"]
        return []


def operations(w: Workload, data_dir: Path, expected: dict, etl: EtlContext | None):
    """The timed operations of one pass, and the untimed ones after them."""
    if w.etl:
        return [OrdersToSqlite(etl), LinesToParquet(etl)], [DecimalBatch(etl)]
    return [RowOp(n, data_dir, expected[n]) for n in w.rows], []
