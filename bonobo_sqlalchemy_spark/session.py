"""SparkSession factory tuned for the engine.

The reference (bonobo-sqlalchemy) has no execution engine of its own — it
runs row-at-a-time on threads (``SURVEY.md §3.1``). Here the execution engine
is Spark; this module centralizes the session configuration so every entry
point (tests, bench, driver contract) gets the same scale-aware defaults:

- AQE on (runtime re-plan, skew-join handling, partition coalescing),
- shuffle partitions sized to the local core count (overridable; on a real
  cluster you would size this to ~2-3x total executor cores),
- UTC session timezone (parity with the DuckDB oracle, which is TZ-naive),
- Arrow enabled for any pandas interchange (vectorized Python boundary).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bonobo-sqlalchemy-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On the test rig this is ``local[N]`` (single JVM); the configuration is
    written so the same code is correct on a multi-executor cluster — nothing
    here assumes local mode except the master default.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # no web UI: the status store that metrics.trace reads is kept
        # without it
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Whole-stage-codegen class cache (static conf, default 100 entries).
        # The registry holds ~200 queries whose plans expand to well over 100
        # generated classes, so any application running the suite thrashes
        # the cache and RE-COMPILES every stage on every execution — measured
        # r15: interleaving 33 registry queries costs steady-state
        # dedup_minhash_lsh 2.1s vs 1.5s and z_graph_pagerank 3.9s vs 2.8s
        # purely from Janino recompilation. Scale-independent (driver-side
        # JIT amortization, the exact cost bench.py's warm-measurement
        # discipline treats as amortizing to zero on a long-lived driver);
        # memory cost is bounded by LRU eviction at the entry cap.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
        # AQE coalescing floor (default 1m). With parallelismFirst (default)
        # the coalesce target is max(stage_bytes / parallelism, this floor),
        # so the floor only binds for stages under parallelism x floor total
        # bytes — at production scale a no-op, but locally it serialized
        # CPU-dense small frames (text shingles, vector batches: ~2-6 MB of
        # bytes carrying seconds of compute) onto 1-3 cores. 64k keeps such
        # stages core-parallel; measured -0.4s on the embedding-graph rows.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
    )
    # Put any locally-cached JDBC driver jars on the classpath so the live
    # JDBC read path works without per-caller config. No-op when absent or
    # when an existing session is reused (getOrCreate ignores config then —
    # callers needing the jar in a fresh JVM go through this factory first).
    # The discovery is best-effort and auditable: any failure is swallowed
    # (a corrupt cache must not break session startup) and the injected jar
    # is logged so an unexpected classpath addition is visible, not silent.
    # Set SPARK_GRAFT_JDBC_JAR="" to opt out of the scan entirely.
    try:
        from .logging import logger
        from .sources.jdbc import find_jdbc_driver_jar

        jar = find_jdbc_driver_jar()
        if jar:
            logger.info("session: adding discovered JDBC driver jar %s", jar)
            builder = builder.config("spark.jars", jar)
    except Exception:  # pragma: no cover - defensive: discovery is optional
        pass
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
