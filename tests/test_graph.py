"""Pipeline-composition API tests (SURVEY §3.1 round-trip style).

Mirrors the reference's integration pattern
(`tests/test_integration.py:173-207`): generator source -> sink -> select
back -> exact golden rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bonobo_sqlalchemy_spark import Graph, Select, run
from bonobo_sqlalchemy_spark.sources.files import register_views


def _extract():
    # Parity with the reference's golden generator
    # (`tests/test_integration.py:130-134`): 10 rows (i, 'value for {i}').
    for i in range(10):
        yield i, f"value for {i}"


def test_generator_source_golden_rows(spark):
    [df] = run(Graph(_extract), spark)
    rows = sorted((r[0], r[1]) for r in df.collect())
    assert rows == [(i, f"value for {i}") for i in range(10)]


def test_chain_source_transform(spark, sf_small):
    register_views(spark, sf_small, ("nation",))
    g = Graph(
        Select("SELECT n_nationkey, n_name FROM nation"),
        lambda df: df.where(F.col("n_nationkey") < 5),
        lambda df: df.select("n_name"),
    )
    [df] = run(g, spark)
    assert df.count() == 5
    assert df.columns == ["n_name"]


def test_multiple_chains(spark, sf_small):
    register_views(spark, sf_small, ("region", "nation"))
    g = Graph()
    g.add_chain(Select("SELECT * FROM region"))
    g.add_chain(Select("SELECT * FROM nation"), lambda df: df.limit(3))
    [r1, r2] = run(g, spark)
    assert r1.count() == 5
    assert r2.count() == 3


def test_select_limit_and_semicolon_strip(spark, sf_small):
    register_views(spark, sf_small, ("customer",))
    node = Select("SELECT c_custkey FROM customer ORDER BY c_custkey ;\n", limit=7)
    [df] = run(Graph(node), spark)
    assert df.count() == 7


def test_dataframe_as_source(spark):
    src = spark.range(5).withColumn("v", F.col("id") * 2)
    [df] = run(Graph(src, lambda d: d.where(F.col("id") > 1)), spark)
    assert df.count() == 3


def test_select_offset_page(spark, sf_small):
    # Reference pagination parity (readers.py:60-65): LIMIT n OFFSET m.
    register_views(spark, sf_small, ("nation",))
    node = Select(
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey", limit=5, offset=10
    )
    [df] = run(Graph(node), spark)
    assert [r[0] for r in df.collect()] == [10, 11, 12, 13, 14]


def test_fork_one_select_feeds_two_sinks(spark, sf_small, tmp_path):
    """bonobo fork semantics (`add_chain(..., _input=node)`): one producer's
    OUTPUT feeds two downstream chains — both sinks land the same stream."""
    import sqlite3
    from functools import partial

    from bonobo_sqlalchemy_spark import DbapiService, InsertOrUpdate

    register_views(spark, sf_small, ("region",))
    db_a, db_b = str(tmp_path / "a.db"), str(tmp_path / "b.db")
    for db in (db_a, db_b):
        with sqlite3.connect(db) as con:
            con.execute("CREATE TABLE landed (r_regionkey INTEGER PRIMARY KEY, r_name TEXT)")

    sel = Select("SELECT r_regionkey, r_name FROM region")
    g = Graph(sel, InsertOrUpdate("landed", discriminant=("r_regionkey",), engine="db_a"))
    # fork OFF sel's output (not a fresh re-run of the source)
    g.add_chain(
        lambda df: df.where(F.col("r_regionkey") < 3),
        InsertOrUpdate("landed", discriminant=("r_regionkey",), engine="db_b"),
        _input=sel,
    )
    services = {
        "db_a": DbapiService(connect=partial(sqlite3.connect, db_a)),
        "db_b": DbapiService(connect=partial(sqlite3.connect, db_b)),
    }
    [out_a, out_b] = run(g, spark, services)
    assert out_a.count() == 5 and out_b.count() == 3
    with sqlite3.connect(db_a) as con:
        assert con.execute("SELECT COUNT(*) FROM landed").fetchone()[0] == 5
    with sqlite3.connect(db_b) as con:
        assert sorted(
            k for (k,) in con.execute("SELECT r_regionkey FROM landed")
        ) == [0, 1, 2]


def test_fork_mid_chain_node(spark, sf_small):
    """Forks may reference any node, not just the head: the new chain sees
    the stream AS OF that node (transform applied)."""
    register_views(spark, sf_small, ("nation",))
    sel = Select("SELECT n_nationkey, n_regionkey FROM nation")
    half = lambda df: df.where(F.col("n_nationkey") < 10)  # noqa: E731
    g = Graph(sel, half, lambda df: df.select("n_nationkey"))
    g.add_chain(lambda df: df.groupBy("n_regionkey").count(), _input=half)
    [full, by_region] = run(g, spark)
    assert full.count() == 10
    assert by_region.agg(F.sum("count")).collect()[0][0] == 10


def test_fork_unknown_input_still_prepends(spark, sf_small):
    """Pre-fork compatibility: `_input` that is not part of any existing
    chain is prepended as the new chain's source."""
    register_views(spark, sf_small, ("region",))
    g = Graph()
    g.add_chain(lambda df: df.limit(2), _input=Select("SELECT * FROM region"))
    [df] = run(g, spark)
    assert df.count() == 2


def test_fork_before_producer_errors(spark):
    src = spark.range(3)
    g = Graph()
    tail = lambda df: df  # noqa: E731
    g.add_chain(src, tail)
    bad = Graph()
    bad.chains = [[tail]]
    bad._inputs = [src]  # src never produced in `bad`
    import pytest

    with pytest.raises(ValueError, match="fork input"):
        run(bad, spark)


def test_select_label_columns_disambiguates_join(spark, sf_small):
    """Reference `use_labels=True` parity (readers.py:66): SELECT * over a
    join of registered views yields table_column names, collision-free."""
    register_views(spark, sf_small, ("region", "nation"))
    node = Select(
        "SELECT * FROM nation JOIN region ON n_regionkey = r_regionkey",
        label_columns=True,
    )
    [df] = run(Graph(node), spark)
    assert df.columns == [
        "nation_n_nationkey",
        "nation_n_name",
        "nation_n_regionkey",
        "region_r_regionkey",
        "region_r_name",
    ]
    assert len(set(df.columns)) == len(df.columns)
    assert df.count() == 25

    # aliases become the prefix; computed columns keep their own names
    node2 = Select(
        "SELECT a.n_name, b.n_name, a.n_nationkey + 1 AS next_key "
        "FROM nation a JOIN nation b ON a.n_regionkey = b.n_regionkey",
        label_columns=True,
    )
    [df2] = run(Graph(node2), spark)
    assert df2.columns == ["a_n_name", "b_n_name", "next_key"]


def test_select_unlabeled_join_duplicate_names(spark, sf_small):
    """Documented divergence check: without label_columns, SELECT * over a
    self-join carries duplicate column names (Spark allows them in output;
    selecting one by name then errors with AMBIGUOUS_REFERENCE)."""
    register_views(spark, sf_small, ("nation",))
    node = Select(
        "SELECT * FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey"
    )
    [df] = run(Graph(node), spark)
    assert df.columns.count("n_name") == 2
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        df.select("n_name").collect()


def test_run_observed_node_counters(spark, sf_small, tmp_path):
    """bonobo's per-node in/out counters, Spark-first: CollectMetrics rides
    the chain's own job — one action resolves every node's exact row count,
    including through a sink."""
    import sqlite3
    from functools import partial

    from bonobo_sqlalchemy_spark import DbapiService, InsertOrUpdate
    from bonobo_sqlalchemy_spark.plans.graph import run_observed

    register_views(spark, sf_small, ("nation",))
    db = str(tmp_path / "obs.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE landed (n_nationkey INTEGER PRIMARY KEY, n_name TEXT)")

    g = Graph(
        Select("SELECT n_nationkey, n_name FROM nation"),
        lambda df: df.where(F.col("n_nationkey") < 10),
        InsertOrUpdate("landed", discriminant=("n_nationkey",), engine="db"),
    )
    [out], stats = run_observed(
        g, spark, {"db": DbapiService(connect=partial(sqlite3.connect, db))}
    )
    assert out.count() == 10  # one action resolves the whole chain
    by_node = {k.split(":")[0]: v.get["rows"] for k, v in stats.items()}
    assert by_node == {"c0/n0": 25, "c0/n1": 10, "c0/n2": 10}
    labels = sorted(stats)
    assert labels[0].endswith(":Select") and labels[2].endswith(":InsertOrUpdate")


def test_run_executes_directly_appended_chains(spark):
    """bonobo-style direct .chains manipulation must still execute every
    chain (zip over a shorter _inputs must not silently skip work)."""
    g = Graph()
    g.chains.append([spark.range(4), lambda df: df.where(F.col("id") > 0)])
    [df] = run(g, spark)
    assert df.count() == 3


def test_fork_of_node_reused_across_chains_is_ambiguous(spark):
    """A node OBJECT appearing in several chains used to have its recorded
    output silently overwritten by the last occurrence; forking off it now
    raises instead of guessing which occurrence the caller meant."""
    import pytest

    double = lambda df: df.withColumn("x", F.col("id") * 2)  # noqa: E731
    g = Graph(spark.range(3), double)
    g.add_chain(double, _input=spark.range(5))  # same object, second chain
    g.add_chain(lambda df: df.select("x"), _input=double)
    with pytest.raises(ValueError, match="multiple chains"):
        run(g, spark)


def test_fork_resolves_first_occurrence_when_unambiguous(spark):
    """With a single occurrence, forks still consume that node's output —
    the first-occurrence bookkeeping must not change the working case."""
    double = lambda df: df.withColumn("x", F.col("id") * 2)  # noqa: E731
    g = Graph(spark.range(4), double)
    g.add_chain(lambda df: df.agg(F.sum("x").alias("s")), _input=double)
    [_, agg] = run(g, spark)
    assert agg.collect()[0]["s"] == 12


def test_path_select_registers_only_the_tables_it_names(spark, tmp_path):
    """A PathService-backed Select reads the schema of the tables its query
    names and of no other catalog table, so a stray unreadable file in the
    catalog does not break it; names match case-insensitively, as Spark
    resolves views."""
    from bonobo_sqlalchemy_spark import PathService

    spark.createDataFrame([(1, "x"), (2, "y")], "id int, v string").write.parquet(
        str(tmp_path / "sel_named.parquet")
    )
    (tmp_path / "junk.parquet").write_bytes(b"not a parquet file")
    svc = {"sqlalchemy.engine": PathService(str(tmp_path))}
    [df] = run(Graph(Select("SELECT * FROM SEL_Named ORDER BY id")), spark, services=svc)
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, "y")]
