"""``Select`` — the engine's source operator (reference O1).

Reference semantics (``bonobo_sqlalchemy/readers.py:6-77``): run arbitrary
SQL against a backend, stream result rows with field names, support a total
row cap (``limit``) and a page size (``pack_size``). The reference paginates
with ``LIMIT n OFFSET m`` round-trips (with a documented
inconsistency-under-concurrent-writes caveat, ``readers.py:17-28``).

Spark-first redesign:

- The query text is evaluated by Spark SQL over registered views (file
  catalog) or pushed to an RDBMS via the JDBC source — no page loop. A
  partitioned JDBC read (``partitionColumn/lowerBound/upperBound/
  numPartitions``) replaces LIMIT/OFFSET pagination and is both faster and
  snapshot-consistent per partition; ``pack_size`` maps to JDBC
  ``fetchsize`` (rows per network round-trip), ``limit`` maps to
  ``df.limit(n)`` which Catalyst folds into the scan (CollectLimit /
  pushed LIMIT for JDBC).
- Field names come from plan analysis instead of first-row inference
  (``readers.py:73-74``); the schema is known before execution.

The operator is a callable node usable in a :class:`~..plans.graph.Graph`:
it takes the session context and yields a DataFrame.
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..registry import DEFAULT_ENGINE_SERVICE, JdbcService, PathService, ServiceRegistry


def _apply_table_labels(df: DataFrame) -> DataFrame:
    """Rename table-sourced output columns to ``table_column``.

    SQLAlchemy's ``use_labels`` label style, re-expressed over Catalyst: the
    analyzed plan's output attributes carry their source qualifier (view
    name or alias), which becomes the prefix. Computed/aggregate columns
    have no qualifier and keep their names — same as SQLAlchemy, which only
    labels table columns.

    Classic-mode only: the qualifier lives on the JVM-side analyzed plan,
    which Spark Connect does not expose (no ``_jdf``). Under Connect the
    opt-in degrades soft to unlabeled columns rather than crashing.
    """
    if not hasattr(df, "_jdf"):  # Spark Connect / future API drift
        from ..logging import logger

        logger.warning(
            "label_columns=True needs the classic JVM plan (no _jdf on this "
            "DataFrame); returning unlabeled columns"
        )
        return df
    attrs = df._jdf.queryExecution().analyzed().output()
    names: list[str] = []
    for i in range(attrs.length()):
        a = attrs.apply(i)
        q = a.qualifier()
        # last qualifier part is the view/alias (earlier parts are
        # catalog/database when present)
        prefix = q.apply(q.size() - 1) if q.size() > 0 else None
        names.append(f"{prefix}_{a.name()}" if prefix else a.name())
    return df.toDF(*names)


class Select:
    """Source node: SQL text -> DataFrame.

    Parameters mirror the reference (``readers.py:45-49``):

    - ``query``: arbitrary SQL (default ``SELECT 1``). Trailing whitespace
      and ``;`` are stripped (parity with ``readers.py:52``).
    - ``pack_size``: rows per fetch round-trip — only meaningful for JDBC
      backends, where it becomes ``fetchsize``. Ignored for Spark-native
      catalogs (columnar scans have no row round-trips).
    - ``limit``: total row cap (``df.limit``).
    - ``engine``: service name resolved from the run's services
      (``'sqlalchemy.engine'`` by default, as in ``readers.py:49``).
    - ``label_columns``: reference ``use_labels=True`` parity
      (``readers.py:66``) — output columns that originate from a table are
      renamed ``table_column``, so ``SELECT *`` over a join of registered
      views yields collision-free names instead of duplicates. Off by
      default (the reference always labels; here it is opt-in because
      unlabeled single-table names are what every other query in the
      registry expects). Applies to Spark-evaluated queries; a JDBC backend
      resolves names server-side.
    """

    def __init__(
        self,
        query: str = "SELECT 1",
        *,
        pack_size: int = 1000,
        limit: int | None = None,
        offset: int | None = None,
        engine: str = DEFAULT_ENGINE_SERVICE,
        label_columns: bool = False,
    ) -> None:
        self.query = query
        self.pack_size = pack_size
        self.limit = limit
        #: Row skip before the cap — the reference only uses OFFSET
        #: internally for its page loop (``readers.py:60-65``); exposed here
        #: because ``df.offset`` makes single-page extraction declarative
        #: (SQL ``LIMIT n OFFSET m`` semantics: skip, then cap).
        self.offset = offset
        self.engine = engine
        self.label_columns = label_columns

    def _normalized_query(self) -> str:
        return self.query.strip(" \n;")

    def __call__(
        self, spark: SparkSession, services: ServiceRegistry | dict[str, Any] | None = None
    ) -> DataFrame:
        services = (
            services
            if isinstance(services, ServiceRegistry)
            else ServiceRegistry(services or {})
        )
        query = self._normalized_query()
        service = services.resolve(self.engine) if self.engine in services else None

        if isinstance(service, JdbcService):
            reader = (
                spark.read.format("jdbc")
                .option("url", service.url)
                .option("query", query)
                .option("fetchsize", str(self.pack_size))
            )
            for k, v in service.properties.items():
                reader = reader.option(k, v)
            df = reader.load()
        elif isinstance(service, PathService):
            # Register the catalog tables the query names, then evaluate
            # with Spark SQL. Any ``<name>.parquet`` in the catalog directory
            # whose name is a word of the query (case-insensitive, as Spark
            # resolves views) qualifies, so warehouse tables created by
            # sinks are queryable too; no other table's schema is read, and
            # an unreadable stray file cannot break the query.
            from .files import register_views

            words = {w.lower() for w in re.findall(r"\w+", query)}
            named = tuple(
                name
                for name, ext in map(os.path.splitext, sorted(os.listdir(service.root)))
                if ext == ".parquet" and name.lower() in words
            )
            register_views(spark, service.root, tables=named)
            df = spark.sql(query)
        else:
            # Spark-native: evaluate over whatever views are registered.
            df = spark.sql(query)

        if self.label_columns and not isinstance(service, JdbcService):
            df = _apply_table_labels(df)
        if self.offset is not None:
            df = df.offset(self.offset)
        if self.limit is not None:
            df = df.limit(self.limit)
        return df

    def __repr__(self) -> str:
        return f"Select({self.query!r}, limit={self.limit}, offset={self.offset})"
