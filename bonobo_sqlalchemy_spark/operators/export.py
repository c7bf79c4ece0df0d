"""Training-shard export: the last mile of a curation pipeline.

A data loader consumes a corpus as a fixed set of similar-sized shards
with a manifest (shard -> file, row count, token count, content hash) it
can schedule, resume, and verify against. This module writes that layout
Spark-first:

- **Sharding** is content-derived (`functions.text.split_bucket` md5
  hashing on the order key) — deterministic for a given corpus regardless
  of input partitioning, so re-running the export reproduces the same
  shard membership bit-for-bit.
- **Layout**: one directory per shard (``shard=K/``, hive-style) with one
  file per shard (each shard repartitions to 1 file — shards ARE the unit
  of loader parallelism; pick ``n_shards`` so a shard is ~100MB-1GB at
  your scale, NOT one giant file).
- **Manifest**: per-shard row count, token total, and an order-insensitive
  content hash (sum of per-row md5 prefixes — commutative, so partition
  order can't flake it), computed in the SAME job that writes (one pass),
  plus a ``_MANIFEST.json`` sidecar written after all shards commit. A
  resumed/verified load recomputes a shard's hash and compares.

The writer intentionally emits the manifest only AFTER the data write
completes (write-then-publish): a crashed export leaves data files but no
manifest, so loaders treat the directory as absent — the same
publish-last protocol as `operators/snapshot.py::publish`'s directory swap.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T

MANIFEST_NAME = "_MANIFEST.json"


def _fs_and_path(spark: SparkSession, path: str):
    """Resolve ``path`` to its Hadoop ``(FileSystem, Path)`` pair.

    Goes through ``Path.getFileSystem`` so the SAME code publishes to local
    disk, ``file://``, ``hdfs://`` or ``s3a://`` — whatever filesystem the
    data write itself targeted. Plain local paths resolve via the default
    scheme exactly like ``DataFrameWriter.save`` does.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _publish_manifest(spark: SparkSession, path: str, manifest: dict) -> None:
    """Write ``_MANIFEST.json`` via the Hadoop FileSystem API with a
    write-to-temp + rename publish, so write-then-publish holds on any
    filesystem the data write can target (HDFS/S3A/local) — not just
    driver-local POSIX (VERDICT r6 item #3; a local ``open()`` would raise
    on ``hdfs://`` paths despite the data write succeeding)."""
    jvm = spark._jvm
    fs, dirp = _fs_and_path(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(dirp, MANIFEST_NAME + ".tmp")
    final = jvm.org.apache.hadoop.fs.Path(dirp, MANIFEST_NAME)
    out = fs.create(tmp, True)  # overwrite=True
    try:
        out.write(bytearray(json.dumps(manifest, indent=1, sort_keys=True).encode()))
    finally:
        out.close()
    # HDFS rename does not overwrite; drop a stale manifest first. The
    # tmp->final rename itself is atomic on HDFS (and on local file://).
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"manifest publish rename failed: {tmp} -> {final}")


def read_manifest(spark: SparkSession, path: str) -> dict:
    """Load ``_MANIFEST.json`` through the same FileSystem abstraction."""
    jvm = spark._jvm
    fs, dirp = _fs_and_path(spark, path)
    final = jvm.org.apache.hadoop.fs.Path(dirp, MANIFEST_NAME)
    stream = fs.open(final)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)


def shard_manifest(
    df: DataFrame,
    order_col: str = "doc_id",
    token_col: str | None = None,
    n_shards: int = 16,
    shard_col: str | None = None,
) -> DataFrame:
    """``(shard, n_rows, n_tokens, content_hash)`` without writing anything.

    ``content_hash`` sums each FULL row's 28-bit xxhash64 over a sorted
    column list — commutative and associative, so the hash is independent
    of partitioning and row order; 28 bits per row keeps the BIGINT sum
    overflow-free (ANSI mode would throw on wrap) up to ~2^35 rows per
    shard while still flipping on any single-row add/drop/corruption with
    ~1-2^-28 probability — an integrity check, not a cryptographic one.

    ``shard_col``: use an existing shard-assignment column (curriculum
    exports persist theirs) instead of recomputing the md5 hash bucket
    from ``order_col``.
    """
    shard = F.col(shard_col) if shard_col else T.split_bucket(F.col(order_col), n_shards)
    hash_cols = sorted(c for c in df.columns if c != "shard")
    row_h = F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(1 << 28))
    toks = F.col(token_col) if token_col else F.lit(0)
    return (
        df.select(shard.cast("bigint").alias("shard"), row_h.alias("__h"), toks.alias("__t"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
            F.sum("__h").cast("bigint").alias("content_hash"),
        )
    )


def curriculum_shard_expr(
    df: DataFrame, curriculum_col: str, n_shards: int
) -> tuple["F.Column", list[float]]:
    """Range-based shard assignment for curriculum exports: exact quantile
    boundaries over ``curriculum_col`` (driver receives ``n_shards - 1``
    floats), shard = number of boundaries at or below the score — shard 0
    holds the lowest scores, shard ``n_shards-1`` the highest, so a data
    loader reading shards in order replays easy-to-hard (or any score
    order you pass). Deterministic given the data; no global sort, no
    single-partition window — one percentile aggregate + a broadcast-free
    comparison chain. At 100 TB swap ``percentile`` for
    ``percentile_approx`` (same contract, bounded memory)."""
    probs = [i / n_shards for i in range(1, n_shards)]
    bounds = df.agg(
        F.percentile(curriculum_col, F.array(*[F.lit(p) for p in probs]))
    ).first()[0]
    bounds = [float(b) for b in bounds]
    expr = F.lit(0)
    for b in bounds:
        expr = expr + (F.col(curriculum_col) >= F.lit(b)).cast("int")
    return expr.cast("bigint"), bounds


def write_training_shards(
    df: DataFrame,
    path: str,
    order_col: str = "doc_id",
    token_col: str | None = None,
    n_shards: int = 16,
    fmt: str = "parquet",
    curriculum_col: str | None = None,
) -> dict:
    """Write ``shard=K/`` directories + ``_MANIFEST.json``; returns the
    manifest dict. One data pass computes the manifest aggregates; the
    hive-partitioned write repartitions BY SHARD so each shard lands as
    one file (the loader's scheduling unit).

    ``curriculum_col``: switch from content-hash sharding to RANGE
    sharding over a score column (:func:`curriculum_shard_expr`) — shard
    files become a curriculum the loader replays in score order; the
    quantile boundaries are recorded in the manifest."""
    if curriculum_col is not None:
        shard, bounds = curriculum_shard_expr(df, curriculum_col, n_shards)
    else:
        shard, bounds = T.split_bucket(F.col(order_col), n_shards), None
    data = df.withColumn("shard", shard)
    (
        data.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order_col)  # stable in-file order
        .write.mode("overwrite")
        .format(fmt)
        .partitionBy("shard")
        .save(path)
    )
    rows = shard_manifest(data, order_col, token_col, n_shards, shard_col="shard").collect()
    manifest = {
        "n_shards": n_shards,
        "order_col": order_col,
        "token_col": token_col,
        "format": fmt,
        "sharding": "curriculum" if curriculum_col else "hash",
        "curriculum_col": curriculum_col,
        "boundaries": bounds,
        "shards": {
            str(r.shard): {
                "n_rows": r.n_rows,
                "n_tokens": r.n_tokens,
                "content_hash": r.content_hash,
            }
            for r in sorted(rows, key=lambda r: r.shard)
        },
    }
    # publish-last: the manifest appears only after every shard committed
    _publish_manifest(df.sparkSession, path, manifest)
    return manifest


def update_training_shards(
    spark: SparkSession,
    path: str,
    upserts: DataFrame | None = None,
    delete_ids=None,
) -> dict:
    """Incremental shard maintenance: apply a delta (upserted rows and/or
    deleted ids) to an existing hash-sharded export, rewriting ONLY the
    shards the delta touches and re-publishing the merged manifest.

    The composition a recurring refresh runs after :func:`corpus_diff`
    (operators/profile.py): added + changed rows arrive as ``upserts``,
    removed ids as ``delete_ids``; content-derived sharding means each
    doc's shard is knowable without reading anything, so untouched shard
    files are never rewritten (their bytes — and manifest entries — are
    byte-identical to before). Result equals a from-scratch export of the
    updated corpus (asserted in tests). Affected shards rewrite via
    dynamic partition overwrite; the manifest merge + publish-last
    protocol is unchanged. Hash layout only — curriculum (range) shards
    depend on global quantiles, so their refresh is a full re-export by
    design.

    Delta-size contract: ``delete_ids`` is either a driver-side list OR a
    single-column DataFrame of ids. Only the delta's DISTINCT shard ids
    ever reach the driver (bounded by ``n_shards`` — never data-sized);
    with the DataFrame form the ids themselves stay distributed
    end-to-end, so the delete set may be arbitrarily large. The list form
    additionally requires the DELTA to fit on the driver (the natural
    shape for a :func:`corpus_diff`-derived refresh) and broadcasts it
    into the anti-join; the DataFrame form leaves the join strategy to
    AQE, since a set-based delete can exceed broadcast size. A
    corpus-sized delta should be a fresh :func:`write_training_shards`
    instead — the shard REWRITE cost is proportional to affected shards
    either way.

    Conflict precedence: an id present in BOTH ``upserts`` and
    ``delete_ids`` is treated as an upsert — the anti-join removes the
    old row and the union re-adds the new one, so the upserted row wins.
    (corpus_diff never produces such overlap — 'changed' and 'removed'
    are disjoint — but hand-built deltas can; pinned in
    tests/test_export.py.)"""
    manifest = read_manifest(spark, path)
    if manifest.get("sharding") == "curriculum":
        raise ValueError(
            "incremental update requires the hash layout; curriculum "
            "shards depend on global quantile boundaries — re-export"
        )
    order_col = manifest["order_col"]
    token_col = manifest["token_col"]
    n_shards = manifest["n_shards"]
    fmt = manifest["format"]

    delta_ids = None
    affected = set()
    broadcast_delta = True
    if upserts is not None:
        up = upserts.withColumn(
            "shard", T.split_bucket(F.col(order_col), n_shards)
        )
        # bounded-collect: distinct shard ids, <= n_shards rows
        affected |= {r.shard for r in up.select("shard").distinct().collect()}
        delta_ids = up.select(F.col(order_col).alias("__did"))
    if delete_ids is not None:
        if isinstance(delete_ids, DataFrame):
            # set-based deletes stay distributed; don't force a broadcast
            # the caller's delete set may be too large for
            dele = delete_ids.select(
                F.col(delete_ids.columns[0]).alias("__did")
            )
            broadcast_delta = False
        else:
            dele = spark.createDataFrame(
                [(i,) for i in delete_ids], ["__did"]
            )
        del_shards = dele.select(
            T.split_bucket(F.col("__did"), n_shards).alias("shard")
        )
        # bounded-collect: distinct shard ids, <= n_shards rows
        affected |= {r.shard for r in del_shards.distinct().collect()}
        delta_ids = (
            dele if delta_ids is None else delta_ids.unionByName(dele)
        ).distinct()
    if not affected:
        return manifest

    old = (
        spark.read.format(fmt)
        .load(path)
        .where(F.col("shard").isin([int(s) for s in affected]))
    )
    anti_build = F.broadcast(delta_ids) if broadcast_delta else delta_ids
    kept = old.join(
        anti_build, old[order_col] == delta_ids["__did"], "left_anti"
    )
    merged = kept
    if upserts is not None:
        merged = kept.drop("shard").unionByName(up.drop("shard")).withColumn(
            "shard", T.split_bucket(F.col(order_col), n_shards)
        )
    # materialize the merged delta BEFORE overwriting: merged's lineage
    # reads the very files the write replaces, so the post-write manifest
    # recompute would otherwise chase deleted parquet parts
    merged = merged.localCheckpoint()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            merged.repartition(len(affected), "shard")
            .sortWithinPartitions("shard", order_col)
            .write.mode("overwrite")
            .format(fmt)
            .partitionBy("shard")
            .save(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # dynamic overwrite only touches partitions it writes rows for: a
    # shard whose every row was deleted keeps stale files unless removed
    present = {r.shard for r in merged.select("shard").distinct().collect()}
    jvm = spark._jvm
    fs, dirp = _fs_and_path(spark, path)
    for s in affected - present:
        gone = jvm.org.apache.hadoop.fs.Path(dirp, f"shard={int(s)}")
        if fs.exists(gone):
            fs.delete(gone, True)
    rows = shard_manifest(
        merged, order_col, token_col, n_shards, shard_col="shard"
    ).collect()
    new_entries = {
        str(r.shard): {
            "n_rows": r.n_rows,
            "n_tokens": r.n_tokens,
            "content_hash": r.content_hash,
        }
        for r in rows
    }
    shards = dict(manifest["shards"])
    for s in affected:
        shards.pop(str(s), None)  # a shard can become empty
    shards.update(new_entries)
    manifest = {**manifest, "shards": dict(sorted(shards.items(), key=lambda kv: int(kv[0])))}
    _publish_manifest(spark, path, manifest)
    return manifest


def verify_training_shards(spark: SparkSession, path: str) -> DataFrame:
    """Recompute every shard's (n_rows, content_hash) from the written files
    and compare against the manifest: ``(shard, ok, n_rows_expected,
    n_rows_actual, hash_match)``. The loader-side integrity check."""
    manifest = read_manifest(spark, path)
    expected = manifest["shards"]
    data = spark.read.format(manifest["format"]).load(path)
    # hash layout: recompute the bucket from order_col (also validates
    # shard MEMBERSHIP); curriculum layout: trust the persisted shard
    # column (membership is range-derived; content hashes still catch
    # any row add/drop/edit within a shard)
    curriculum = manifest.get("sharding") == "curriculum"
    actual = shard_manifest(
        data,
        order_col=manifest["order_col"],
        token_col=manifest["token_col"],
        n_shards=manifest["n_shards"],
        shard_col="shard" if curriculum else None,
    )
    spark_expected = spark.createDataFrame(
        [
            (int(k), v["n_rows"], v["content_hash"])
            for k, v in expected.items()
        ],
        "shard int, n_rows_expected bigint, hash_expected bigint",
    )
    return (
        actual.join(F.broadcast(spark_expected), "shard", "full")
        .select(
            "shard",
            F.col("n_rows_expected"),
            F.col("n_rows").alias("n_rows_actual"),
            (F.col("content_hash") == F.col("hash_expected")).alias("hash_match"),
            (
                (F.col("n_rows") == F.col("n_rows_expected"))
                & (F.col("content_hash") == F.col("hash_expected"))
            ).alias("ok"),
        )
    )
