"""``InsertOrUpdate`` — the engine's upsert sink (reference O2, O2a-O2j).

Reference semantics (``bonobo_sqlalchemy/writers.py:15-185``): buffered
UPSERT into a reflected table — per row, find the existing row by
discriminant key(s); found -> UPDATE (unless prohibited), else -> INSERT
(unless prohibited); maintain ``created_at``/``updated_at`` audit columns;
optionally fetch back DB-generated columns; channel per-row failures into
the output stream instead of aborting the flush.

Spark-first decomposition (SURVEY.md §2.2):

- **schema-align projection** (O2g): written columns = target columns ∩
  incoming columns; UPDATE additionally excludes ``insert_only_fields``.
- **audit timestamps** (O2f): ``updated_at`` set on every write,
  ``created_at`` only on INSERT; silently dropped if the target lacks them.
- **per-key dedup**: the reference streams rows one-at-a-time, so two rows
  with one key become insert-then-update; a set-based writer keeps the
  *last* row per key (documented divergence: intermediate states are not
  reproduced, final state matches).
- **find-by-discriminant** (O2e): batched ``SELECT keys WHERE key IN
  (chunk)`` per flush chunk — the set-based version of the reference's
  per-row ``SELECT ... LIMIT 1``. No unique index required on the target
  (unlike ``ON CONFLICT``-based upserts).
- **operation gating** (O2h): prohibited rows become error records in the
  dead-letter channel (the reference yields the exception downstream,
  ``writers.py:92-95``).
- **buffering** (O2c): chunked ``executemany`` + one transaction per chunk
  of ``buffer_size`` rows.
- **fetch-back** (O2i): post-write join against the target on the
  discriminant, copying requested (aliasable) generated columns.

Backends:

- :class:`~..registry.DbapiService` — per-partition DBAPI connections
  (sqlite / postgres / duckdb paramstyles). SQLite is single-writer, so the
  plan coalesces to one partition for that dialect; server databases write
  partition-parallel. At cluster scale this is the JDBC-executor pattern;
  connection failure raises ``UnrecoverableOperationalError`` (fatal, O2a).
- :class:`~..registry.PathService` — parquet-directory "table": MERGE
  emulation by one keyed full-outer join of the target with the incoming
  rows and one rewrite, published in place or as a snapshot commit. On a
  real lakehouse target this is ``MERGE INTO`` (Delta/Iceberg); the
  parquet emulation keeps the exact same observable semantics for tests
  and local pipelines.
"""

from __future__ import annotations

import decimal
from typing import Any, Iterable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..constants import INSERT, UPDATE
from ..errors import (
    FetchBackError,
    UnrecoverableOperationalError,
)
from ..registry import (
    DEFAULT_ENGINE_SERVICE,
    DbapiService,
    PathService,
    ServiceRegistry,
)
from .snapshot import publish

_ERROR_SCHEMA = "op string, key string, error string, n bigint"


def _placeholder(paramstyle: str) -> str:
    return "?" if paramstyle == "qmark" else "%s"


def _quote(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _table_columns(conn, dialect: str, table: str) -> list[str]:
    cur = conn.cursor() if hasattr(conn, "cursor") else conn
    if dialect == "sqlite":
        rows = cur.execute(f"PRAGMA table_info({_quote(table)})").fetchall()
        return [r[1] for r in rows]
    if dialect == "postgresql":
        cur.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = %s ORDER BY ordinal_position",
            (table,),
        )
    else:  # duckdb and other qmark information_schema dialects
        cur.execute(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = ? ORDER BY ordinal_position",
            (table,),
        )
    return [r[0] for r in cur.fetchall()]


def _chunked(seq: list, size: int) -> Iterable[list]:
    for i in range(0, len(seq), size):
        yield seq[i : i + size]


class InsertOrUpdate:
    """Upsert sink node; options mirror ``writers.py:23-37``."""

    def __init__(
        self,
        table_name: str,
        *,
        fetch_columns: tuple | dict = (),
        insert_only_fields: tuple = (),
        discriminant: tuple = ("id",),
        created_at_field: str = "created_at",
        updated_at_field: str = "updated_at",
        allowed_operations: tuple = (INSERT, UPDATE),
        buffer_size: int = 1000,
        engine: str = DEFAULT_ENGINE_SERVICE,
        order_col: str | None = None,
        snapshot: bool = False,
    ) -> None:
        self.table_name = table_name
        self.fetch_columns: dict[str, str] = {}
        self.add_fetch_columns(
            *(fetch_columns if not isinstance(fetch_columns, dict) else ()),
            **(fetch_columns if isinstance(fetch_columns, dict) else {}),
        )
        self.insert_only_fields = tuple(insert_only_fields)
        self.discriminant = tuple(discriminant)
        self.created_at_field = created_at_field
        self.updated_at_field = updated_at_field
        self.allowed_operations = tuple(allowed_operations)
        self.buffer_size = int(buffer_size)
        self.engine = engine
        #: Keep-last tie-break for duplicate discriminant keys within one
        #: batch. The reference's sequential insert-then-update makes "last
        #: row wins" mean arrival order (writers.py:66-95); a DataFrame has
        #: no arrival order after a shuffle, so by default the engine uses
        #: monotonically_increasing_id (source order within each input
        #: partition — documented divergence, COVERAGE.md). Passing a real
        #: column (e.g. an event timestamp or version) makes "last" well-
        #: defined under ANY partitioning — the recommended production form.
        self.order_col = order_col
        #: Route path-backed MERGEs through operators/snapshot.py instead
        #: of the in-place directory swap: the table root becomes a
        #: versioned snapshot table (immutable data dirs + atomically-
        #: renamed `_VERSION` pointer), so concurrent readers get whole
        #: pre- or post-merge states — never the in-place swap's mid-swap
        #: half-state — and concurrent writers serialize optimistically
        #: (round-13 verdict item #4). Ignored for DBAPI targets, whose
        #: RDBMS transaction already provides this.
        self.snapshot = bool(snapshot)
        #: dead-letter channel: list of dicts after the last write (O2d)
        self.last_errors: list[dict] = []
        self.last_stats: dict[str, int] = {}

    # Parity: ``writers.py:149-157`` (mutable alias -> column mapping).
    def add_fetch_columns(self, *columns: str, **aliased_columns: str) -> "InsertOrUpdate":
        self.fetch_columns.update({c: c for c in columns})
        self.fetch_columns.update(aliased_columns)
        return self

    # ------------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        spark: SparkSession,
        services: ServiceRegistry | dict[str, Any] | None = None,
    ) -> DataFrame:
        services = (
            services
            if isinstance(services, ServiceRegistry)
            else ServiceRegistry(services or {})
        )
        service = services.resolve(self.engine)
        if isinstance(service, PathService):
            return self._write_path(df, spark, service)
        if isinstance(service, DbapiService):
            return self._write_dbapi(df, spark, service)
        raise TypeError(
            f"service {self.engine!r} must be a DbapiService or PathService, got {type(service).__name__}"
        )

    # ------------------------------------------------------------------
    # Shared set-based preparation (O2f, O2g, per-key dedup)
    # ------------------------------------------------------------------
    def _prepare(self, df: DataFrame, target_cols: list[str]) -> DataFrame:
        missing = [k for k in self.discriminant if k not in df.columns]
        if missing:
            raise ValueError(f"discriminant columns {missing} not in input {df.columns}")

        now = F.current_timestamp()
        # O2f: updated_at on every write if the target has the column.
        if self.updated_at_field in target_cols:
            df = df.withColumn(self.updated_at_field, now)
        # created_at participates only via INSERT; add it if the target has
        # it and the row doesn't carry one (drop later if target lacks it —
        # the intersection below handles that, parity writers.py:128-132).
        if self.created_at_field in target_cols and self.created_at_field not in df.columns:
            df = df.withColumn(self.created_at_field, now)

        # Capture the keep-last ordering column BEFORE the target
        # projection: order_col may be an input-only column (a version or
        # event timestamp that is not persisted to the target).
        if self.order_col is not None:
            if self.order_col not in df.columns:
                raise ValueError(
                    f"order_col {self.order_col!r} not in input columns {df.columns}"
                )
            df = df.withColumn("__seq_oc", F.col(self.order_col))

        # O2g: name-intersection projection, target column order.
        write_cols = [c for c in target_cols if c in df.columns]
        extra = ["__seq_oc"] if self.order_col is not None else []
        df = df.select(*write_cols, *extra)

        # Keep-last per discriminant key: order by the user-declared
        # order_col when given (shuffle-invariant "last"), else by
        # monotonically_increasing_id (source order within each input
        # partition — the closest deterministic analog of the reference's
        # arrival-order semantics; see order_col docstring). The monotonic
        # id also tie-breaks EQUAL order_col values — without it, two rows
        # with the same version/timestamp would pick a partitioning-
        # dependent winner, the exact nondeterminism order_col exists to
        # remove.
        from pyspark.sql import Window as W

        df = df.withColumn("__seq", F.monotonically_increasing_id())
        if self.order_col is not None:
            order = [F.col("__seq_oc").desc(), F.col("__seq").desc()]
            drop = ["__rn", "__seq", "__seq_oc"]
        else:
            order = [F.col("__seq").desc()]
            drop = ["__rn", "__seq"]
        w = W.partitionBy(*self.discriminant).orderBy(*order)
        df = (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop(*drop)
        )
        return df

    # ------------------------------------------------------------------
    # DBAPI backend (sqlite / postgres / duckdb)
    # ------------------------------------------------------------------
    def _write_dbapi(
        self, df: DataFrame, spark: SparkSession, service: DbapiService
    ) -> DataFrame:
        try:
            conn = service.connect()
        except Exception as e:  # O2a: cannot connect -> fatal
            raise UnrecoverableOperationalError(str(e)) from e
        try:
            target_cols = _table_columns(conn, service.dialect, self.table_name)
        finally:
            conn.close()
        if not target_cols:
            raise UnrecoverableOperationalError(
                f"table {self.table_name!r} not found or has no columns"
            )

        prepared = self._prepare(df, target_cols)
        write_cols = prepared.columns

        if service.dialect == "sqlite":
            # Single-writer database: one partition, one connection.
            prepared = prepared.coalesce(1)

        params = dict(
            table=self.table_name,
            write_cols=write_cols,
            discriminant=self.discriminant,
            insert_only=set(self.insert_only_fields) | {self.created_at_field},
            allow_insert=INSERT in self.allowed_operations,
            allow_update=UPDATE in self.allowed_operations,
            buffer_size=self.buffer_size,
            paramstyle=service.paramstyle,
            dialect=service.dialect,
        )
        connect = service.connect

        def upsert_partition(batches):
            import pandas as pd

            try:
                conn = connect()
            except Exception as e:
                raise UnrecoverableOperationalError(str(e)) from e
            ph = _placeholder(params["paramstyle"])
            cols = params["write_cols"]
            keys = list(params["discriminant"])
            key_idx = [cols.index(k) for k in keys]
            upd_cols = [
                c for c in cols if c not in keys and c not in params["insert_only"]
            ]
            q_table = _quote(params["table"])
            insert_sql = (
                f"INSERT INTO {q_table} ({', '.join(_quote(c) for c in cols)}) "
                f"VALUES ({', '.join([ph] * len(cols))})"
            )
            update_sql = (
                f"UPDATE {q_table} SET {', '.join(f'{_quote(c)} = {ph}' for c in upd_cols)} "
                f"WHERE {' AND '.join(f'{_quote(k)} = {ph}' for k in keys)}"
                if upd_cols
                else None
            )
            errors: dict[tuple, int] = {}
            n_ins = n_upd = 0
            # Postgres bulk path: COPY ... FROM STDIN when the connection
            # exposes copy-in (pgwire.Connection.copy_rows) — one round trip
            # per chunk instead of one INSERT statement per row. Chunk
            # failure falls back to per-row INSERTs below, which also
            # identifies the offending rows for the dead-letter channel.
            copy_rows = (
                getattr(conn, "copy_rows", None)
                if params["dialect"] == "postgresql"
                else None
            )

            def rows_of(pdf: "pd.DataFrame"):
                iso_ts = params["dialect"] == "sqlite"  # py3.12 sqlite3 has no datetime adapter

                def conv(v):
                    if v is None or (isinstance(v, float) and pd.isna(v)) or v is pd.NaT:
                        return None
                    if isinstance(v, pd.Timestamp):
                        v = v.to_pydatetime()  # DBAPI drivers adapt datetime, not pandas.Timestamp
                    import datetime as _dt

                    if iso_ts and isinstance(v, _dt.datetime):
                        return v.isoformat(sep=" ")
                    if iso_ts and isinstance(v, decimal.Decimal):
                        # sqlite3 has no Decimal adapter either. A NUMERIC
                        # column stores INTEGER or REAL anyway, and a key
                        # bound as int/float equals what the find query
                        # returns (int keeps decimal(20,0) keys exact).
                        return int(v) if v == v.to_integral_value() else float(v)
                    return v

                for row in pdf.itertuples(index=False, name=None):
                    yield tuple(conv(v) for v in row)

            try:
                cur = conn.cursor()
                for pdf in batches:
                    all_rows = list(rows_of(pdf))
                    for chunk in _chunked(all_rows, params["buffer_size"]):
                        # O2e batched find: which keys already exist?
                        chunk_keys = [tuple(r[i] for i in key_idx) for r in chunk]
                        existing: set[tuple] = set()
                        for kchunk in _chunked(chunk_keys, 500):
                            if len(keys) == 1:
                                phs = ", ".join([ph] * len(kchunk))
                                find_sql = (
                                    f"SELECT {_quote(keys[0])} FROM {q_table} "
                                    f"WHERE {_quote(keys[0])} IN ({phs})"
                                )
                                cur.execute(find_sql, [k[0] for k in kchunk])
                            else:
                                cond = " OR ".join(
                                    ["(" + " AND ".join(f"{_quote(k)} = {ph}" for k in keys) + ")"]
                                    * len(kchunk)
                                )
                                find_sql = f"SELECT {', '.join(_quote(k) for k in keys)} FROM {q_table} WHERE {cond}"
                                cur.execute(find_sql, [v for k in kchunk for v in k])
                            existing.update(tuple(r) for r in cur.fetchall())

                        ins_rows, upd_rows = [], []
                        for r, k in zip(chunk, chunk_keys):
                            if k in existing:
                                if not params["allow_update"]:  # O2h
                                    errors["UPDATE:" + repr(k)] = (
                                        errors.get("UPDATE:" + repr(k), 0) + 1
                                    )
                                    continue
                                if update_sql is None:
                                    # Every non-key column is insert-only: there
                                    # is nothing to SET. The reference's UPDATE
                                    # would fail per-row and be channelled
                                    # downstream (writers.py:92-95) — surface a
                                    # dead-letter record instead of silence.
                                    ek = "UPDATE-noop:" + repr(k)
                                    errors[ek] = errors.get(ek, 0) + 1
                                    continue
                                upd_rows.append(
                                    tuple(r[cols.index(c)] for c in upd_cols)
                                    + tuple(r[i] for i in key_idx)
                                )
                            else:
                                if not params["allow_insert"]:
                                    errors["INSERT:" + repr(k)] = (
                                        errors.get("INSERT:" + repr(k), 0) + 1
                                    )
                                    continue
                                ins_rows.append(r)

                        # O2c: one transaction per chunk; O2d: per-row fallback.
                        try:
                            if ins_rows:
                                if copy_rows is not None:
                                    copy_rows(q_table, [_quote(c) for c in cols], ins_rows)
                                else:
                                    cur.executemany(insert_sql, ins_rows)
                            if upd_rows and update_sql:
                                cur.executemany(update_sql, upd_rows)
                            conn.commit()
                            n_ins += len(ins_rows)
                            n_upd += len(upd_rows) if update_sql else 0
                        except Exception:
                            conn.rollback()
                            for r in ins_rows:
                                try:
                                    cur.execute(insert_sql, r)
                                    conn.commit()
                                    n_ins += 1
                                except Exception as ex:
                                    conn.rollback()
                                    errors[f"INSERT-row:{type(ex).__name__}:{ex}"] = (
                                        errors.get(f"INSERT-row:{type(ex).__name__}:{ex}", 0) + 1
                                    )
                            for r in upd_rows:
                                try:
                                    cur.execute(update_sql, r)
                                    conn.commit()
                                    n_upd += 1
                                except Exception as ex:
                                    conn.rollback()
                                    errors[f"UPDATE-row:{type(ex).__name__}:{ex}"] = (
                                        errors.get(f"UPDATE-row:{type(ex).__name__}:{ex}", 0) + 1
                                    )
            finally:
                conn.close()
            out = [("insert", "", "", n_ins), ("update", "", "", n_upd)] + [
                ("error", key.split(":", 1)[1], key.split(":", 1)[0], n)
                for key, n in errors.items()
            ]
            yield pd.DataFrame(out, columns=["op", "key", "error", "n"])

        status = prepared.mapInPandas(upsert_partition, schema=_ERROR_SCHEMA).collect()
        self.last_stats = {
            "insert": sum(r.n for r in status if r.op == "insert"),
            "update": sum(r.n for r in status if r.op == "update"),
        }
        self.last_errors = [
            {"op": r.error, "key": r.key, "n": r.n} for r in status if r.op == "error"
        ]

        out = prepared
        if self.fetch_columns:
            out = self._fetch_back_dbapi(out, spark, service)
        return out

    def _fetch_back_dbapi(
        self, df: DataFrame, spark: SparkSession, service: DbapiService
    ) -> DataFrame:
        """O2i: join written rows back to the target for generated columns.

        Distributed: every partition issues chunked keyed ``SELECT ...
        WHERE key IN (...)`` against the target, reading only the
        discriminant + fetch columns for its own keys — the target table is
        never materialized on the driver (a scale-killer for big targets).
        A LIMIT-100 driver probe supplies the fetched columns' Spark types;
        if the target has duplicate discriminant values the first match
        wins (the reference's per-row ``SELECT ... LIMIT 1`` semantics,
        ``writers.py:166-171``).
        """
        import pandas as pd
        from pyspark.sql.types import StructType

        keys = list(self.discriminant)
        want = sorted({*self.fetch_columns.values()} | set(keys))
        cols_sql = ", ".join(_quote(c) for c in want)
        q_table = _quote(self.table_name)

        conn = service.connect()
        try:
            cur = conn.cursor()
            cur.execute(f"SELECT {cols_sql} FROM {q_table} LIMIT 100")
            sample = pd.DataFrame(cur.fetchall(), columns=want)
        finally:
            conn.close()
        if sample.empty:
            if df.isEmpty():
                return df
            raise FetchBackError("Could not find matching row after load.")
        probe_types = {
            f.name: f.dataType for f in spark.createDataFrame(sample).schema.fields
        }

        add = [
            (alias, col)
            for alias, col in sorted(self.fetch_columns.items())
            if col in want and alias not in df.columns
        ]
        out_schema = StructType(list(df.schema.fields))
        for alias, col in add:
            out_schema.add(alias, probe_types[col], True)

        connect = service.connect
        paramstyle = service.paramstyle

        def fetch_partition(batches):
            conn = connect()
            ph = _placeholder(paramstyle)
            cur = conn.cursor()
            try:
                for pdf in batches:
                    if pdf.empty:
                        continue
                    keyvals = [
                        tuple(r)
                        for r in pdf[keys]
                        .drop_duplicates()
                        .itertuples(index=False, name=None)
                    ]
                    rows: list[tuple] = []
                    for kchunk in _chunked(keyvals, 500):
                        if len(keys) == 1:
                            phs = ", ".join([ph] * len(kchunk))
                            sql = (
                                f"SELECT {cols_sql} FROM {q_table} "
                                f"WHERE {_quote(keys[0])} IN ({phs})"
                            )
                            cur.execute(sql, [k[0] for k in kchunk])
                        else:
                            cond = " OR ".join(
                                ["(" + " AND ".join(f"{_quote(k)} = {ph}" for k in keys) + ")"]
                                * len(kchunk)
                            )
                            sql = f"SELECT {cols_sql} FROM {q_table} WHERE {cond}"
                            cur.execute(sql, [v for k in kchunk for v in k])
                        rows.extend(tuple(r) for r in cur.fetchall())
                    tgt = pd.DataFrame(rows, columns=want).drop_duplicates(
                        subset=keys, keep="first"
                    )
                    merged = pdf.merge(tgt, how="left", on=keys, suffixes=("", "__t"))
                    out = pdf.copy()
                    for alias, col in add:
                        if col in keys:
                            src = col
                        elif col in pdf.columns:
                            src = col + "__t"
                        else:
                            src = col
                        out[alias] = merged[src].values
                    yield out
            finally:
                conn.close()

        return df.mapInPandas(fetch_partition, schema=out_schema)

    # ------------------------------------------------------------------
    # Parquet-directory backend (lakehouse MERGE emulation)
    # ------------------------------------------------------------------
    def _merge(
        self, target: DataFrame | None, prepared: DataFrame
    ) -> tuple[DataFrame, Observation]:
        """The MERGE both path publish modes write: one full-outer join of
        the target with the incoming rows on the discriminant, each row
        tagged ``K`` (key only in the target), ``I`` (only incoming) or
        ``U`` (both). On Delta/Iceberg this is one MERGE INTO keyed on the
        discriminant (idempotent, retry-safe at 100 TB).

        The insert/update counts are observed metrics of the joined frame,
        so the write job itself produces them (read by :meth:`_record`
        after the write) — no separate count action. A fresh
        :class:`Observation` per call, because one only reports its first
        action. With no target (create) every row is an insert."""
        obs = Observation()
        if target is None:
            return prepared.observe(obs, F.count(F.lit(1)).alias("I"), F.lit(0).alias("U")), obs
        keys = list(self.discriminant)
        tag = F.col("__tag")
        joined = (
            target.withColumn("__in_t", F.lit(True)).alias("t")
            .join(prepared.withColumn("__in_u", F.lit(True)).alias("u"), keys, "full_outer")
            .withColumn(
                "__tag",
                F.when(F.col("__in_t").isNull(), "I")
                .when(F.col("__in_u").isNull(), "K")
                .otherwise("U"),
            )
            .observe(
                obs,
                F.count_if(tag == "I").alias("I"),
                F.count_if(tag == "U").alias("U"),
            )
        )
        # O2h: a gated insert is dropped; a gated update keeps the
        # target's version. Both are counted above as dead letters.
        if INSERT not in self.allowed_operations:
            joined = joined.where(tag != "I")
        if UPDATE not in self.allowed_operations:
            joined = joined.withColumn("__tag", F.when(tag == "U", "K").otherwise(tag))

        # An update keeps the target's insert-only + created_at values and
        # target-only columns, and takes everything else from the incoming
        # row (O2f/O2g); an insert has nulls for the columns it lacks.
        keep = set(self.insert_only_fields) | {self.created_at_field}

        def value(c: str):
            if c in keys:
                return F.col(c)
            if c not in prepared.columns:
                return F.col(f"t.{c}")
            if c in keep:
                return F.when(tag == "I", F.col(f"u.{c}")).otherwise(F.col(f"t.{c}"))
            return F.when(tag == "K", F.col(f"t.{c}")).otherwise(F.col(f"u.{c}"))

        return joined.select(*[value(c).alias(c) for c in target.columns]), obs

    def _record(self, obs: Observation) -> None:
        """``last_stats``/``last_errors`` of the MERGE just written, from
        its observed counts; rows of a prohibited operation are dead
        letters (O2h)."""
        seen = obs.get
        ops = ((INSERT, seen["I"]), (UPDATE, seen["U"]))
        self.last_stats = {
            op.value: n if op in self.allowed_operations else 0 for op, n in ops
        }
        self.last_errors = [
            {"op": op.name, "key": "*", "n": n}
            for op, n in ops
            if op not in self.allowed_operations and n
        ]

    def _reject_create(self, prepared: DataFrame) -> DataFrame:
        """No target and INSERT prohibited: every row is a dead letter."""
        self.last_errors = [{"op": INSERT.name, "key": "*", "n": prepared.count()}]
        return prepared.limit(0)

    def _fetch_back_path(
        self, prepared: DataFrame, spark: SparkSession, table: str
    ) -> DataFrame:
        """O2i for path targets: left-join generated/stored columns back
        from the post-merge table (parquet directory ``table``) by
        discriminant."""
        if not self.fetch_columns:
            return prepared
        keys = list(self.discriminant)
        tgt = spark.read.parquet(table)
        return prepared.join(
            tgt.select(*keys, *{*self.fetch_columns.values()} - set(keys)).alias("tgt"),
            keys,
            "left",
        ).select(
            *[prepared[c] for c in prepared.columns],
            *[
                F.col(col if col in keys else f"tgt.{col}").alias(alias)
                for alias, col in self.fetch_columns.items()
                if alias not in prepared.columns
            ],
        )

    def _write_path(
        self, df: DataFrame, spark: SparkSession, service: PathService
    ) -> DataFrame:
        """Publish the MERGE in place or, with ``snapshot=True``, as an
        atomic snapshot commit (operators/snapshot.py): a concurrent reader
        then sees the whole pre- or post-merge table, and concurrent
        writers serialize via optimistic retry. Each attempt prepares and
        observes afresh, so the stats are the committed attempt's."""
        prepared = obs = None

        def build(target: DataFrame | None) -> DataFrame | None:
            nonlocal prepared, obs
            prepared = self._prepare(df, (df if target is None else target).columns)
            if target is None and INSERT not in self.allowed_operations:
                return None
            merged, obs = self._merge(target, prepared)
            return merged

        where = publish(spark, service.table_path(self.table_name), build, self.snapshot)
        if where is None:
            return self._reject_create(prepared)
        self._record(obs)
        return self._fetch_back_path(prepared, spark, where)
