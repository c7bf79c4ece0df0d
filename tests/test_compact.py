"""Small-file compaction: file-count reduction, losslessness, clustering."""

from __future__ import annotations

import pyarrow.parquet as pq

from bonobo_sqlalchemy_spark.operators.compact import compact_parquet, data_files


def _fragmented_table(spark, path: str, n_rows: int = 2000, n_files: int = 40):
    df = spark.range(n_rows).selectExpr("id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v")
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def test_compaction_reduces_files_losslessly(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _fragmented_table(spark, path)
    before = spark.read.parquet(path).collect()
    assert len(data_files(path)) == 40

    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    after = spark.read.parquet(path).collect()
    assert sorted(before) == sorted(after)


def test_compaction_noop_when_already_compact(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(path)
    stats = compact_parquet(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == stats["files_after"] == 1


def test_compaction_with_ordering_restores_clustering(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _fragmented_table(spark, path)  # ids scattered across 40 files
    # target ~4 output files, clustered on id
    stats = compact_parquet(
        spark, path, target_file_bytes=_quarter_bytes(path), order_by="id"
    )
    assert stats["files_after"] < stats["files_before"]
    # each output file holds a contiguous id range: per-file spans are
    # disjoint when sorted by min
    ranges = []
    for f in data_files(path):
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        ranges.append((min(ids), max(ids)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def _quarter_bytes(path: str) -> int:
    import os

    total = sum(os.path.getsize(f) for f in data_files(path))
    return max(1, total // 4)


def test_partition_subdir_staging_invisible_to_discovery(spark, tmp_path):
    """Compacting a Hive partition subdir must stage under a dot-prefixed
    name: a crash-leftover sibling like 'lang=en.__publish_tmp' inside the
    table root would be parsed by partition discovery as a real partition
    value and double-count rows."""
    import os

    root = str(tmp_path / "docs")
    df = spark.range(600).selectExpr(
        "id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'fr' END AS lang"
    )
    df.repartition(10).write.partitionBy("lang").mode("overwrite").parquet(root)
    n_before = spark.read.parquet(root).count()

    part = os.path.join(root, "lang=en")
    stats = compact_parquet(spark, part, target_file_bytes=1 << 30)
    assert stats["files_after"] == 1

    # no visible (non dot/underscore) sibling may exist in the table root
    visible = [e for e in os.listdir(root) if not e.startswith((".", "_"))]
    assert visible == ["lang=en", "lang=fr"], visible
    assert spark.read.parquet(root).count() == n_before

    # a crash-leftover staged dir (write done, swap not) must be invisible:
    # recreate what a mid-crash leaves behind and re-read the table root
    leftover = os.path.join(root, ".lang=en.__publish_tmp")
    spark.read.parquet(part).write.mode("overwrite").parquet(leftover)
    assert spark.read.parquet(root).count() == n_before
