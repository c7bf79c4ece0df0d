"""File-backed catalog: load testdata parquet tables and register SQL views.

The driver's corpus (``/root/testdata/sf*/``) is the engine's standing test
catalog (schemas in ``FIXTURES.md §B``). At 100 TB these would be
partitioned/bucketed parquet or Iceberg tables; the read path is identical —
``spark.read.parquet`` gives Catalyst full predicate pushdown, column
pruning, and partition pruning for free.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import DataFrame, SparkSession

#: The full driver corpus (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables — always broadcast-eligible in joins. At TPC-H
#: scale these stay tiny (region=5, nation=25) or grow slowly relative to
#: the fact tables; Spark's broadcast threshold handles them automatically,
#: and query code may also hint `F.broadcast` explicitly.
DIMENSIONS = ("region", "nation", "supplier", "customer", "part")


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The driver regenerates testdata between rounds and the physical type
        # of events.ts has changed across regenerations (TIMESTAMP(NANOS) in
        # r1/r2, TZ-naive timestamp[us] in r3). Be defensive: accept every
        # layout seen so far and normalize to TimestampType (exact under the
        # UTC session TZ pinned in session.py, so values and oracle parity are
        # unaffected).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        return _normalize_event_ts(df)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "documents" and "n_chars" not in df.columns:
        # same data-contract defense as events.ts: the driver regenerates
        # testdata between rounds; n_chars is derivable, so synthesize it
        # rather than letting every consumer break on a dropped column
        from pyspark.sql import functions as F

        df = df.withColumn("n_chars", F.length("text").cast("bigint"))
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an events DataFrame's ``ts`` to TimestampType.

    The driver regenerates testdata between rounds and the physical type
    has already changed once (FIXTURES.md data-contract note), so this
    accepts every plausible layout:

    - ``bigint``: legacy nanosAsLong read of TIMESTAMP(NANOS) parquet —
      exact long ``div`` to micros;
    - ``timestamp_ntz``: TZ-naive timestamp[us]/[ms] — cast is
      value-preserving under the pinned-UTC session;
    - ``string``/``date``: cast (ISO strings parse; dates midnight-extend);
    - ``timestamp``: already normalized.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype is None or dtype == "timestamp":
        return df
    from pyspark.sql import functions as F

    if dtype == "bigint":
        # raw nanos -> microsecond-precision timestamp; `div` stays in longs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(
    spark: SparkSession,
    sf_dir: str | None = None,
    tables: tuple[str, ...] | None = TABLES,
) -> dict[str, DataFrame]:
    """Register each corpus table as a temp view; returns name -> DataFrame.

    Idempotent: re-registering against a different sf_dir replaces the views.
    ``tables=None`` discovers every ``<name>.parquet`` in the directory (an
    arbitrary warehouse catalog); named tables without a file are skipped.
    Staging leftovers of a table rewrite (``.<name>.parquet.__publish_tmp``,
    see ``operators/snapshot.py::publish``) are excluded: dot-prefixed
    entries are hidden staging by convention, and only an exact
    ``.parquet`` suffix names a table. Discovered names must be
    word-character-only (``createOrReplaceTempView`` rejects names with
    punctuation/spaces, e.g. ``my-table.parquet``; digit-leading names ARE
    accepted and kept); offending files are skipped with a warning so one
    stray file cannot break every Select against the warehouse.
    """
    sf_dir = sf_dir or default_sf_dir()
    if tables is None:
        found = sorted(
            f[: -len(".parquet")]
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        bad = [n for n in found if not re.fullmatch(r"[A-Za-z0-9_]+", n)]
        if bad:
            warnings.warn(
                f"skipping non-identifier table files in {sf_dir}: {bad} "
                "(temp view names must be valid SQL identifiers)",
                stacklevel=2,
            )
        tables = tuple(n for n in found if n not in set(bad))
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)  # handles events' nanos timestamps
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
