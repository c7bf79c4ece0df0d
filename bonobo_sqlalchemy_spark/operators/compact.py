"""Small-file compaction for parquet table directories.

Streaming sinks, incremental appends, and over-parallel writes leave a
table as thousands of tiny files; at 100 TB the scan cost becomes file-
listing + footer-reading overhead instead of IO, and the NameNode/object-
store pays per-object. Compaction rewrites a directory into
``ceil(bytes / target)`` files of ~uniform size.

Design:

- sizing comes from the FILESYSTEM (sum of file lengths), not a row count
  — no data pass before the rewrite;
- the rewrite is one ``coalesce(n)`` job — coalesce, not repartition: it
  merges partitions without a shuffle. When an ordering column is given
  the rewrite instead range-partitions on it (one shuffle) so compaction
  simultaneously restores clustering (min/max pruning) that accumulated
  appends destroyed;
- the swap is ``snapshot.publish``'s in-place rename-aside, shared with
  the upsert/SCD2 sinks (single-writer; Delta/Iceberg OPTIMIZE is the
  transactional equivalent at cluster scale).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from .snapshot import publish


def data_files(path: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    order_by: str | None = None,
    min_files_to_compact: int = 2,
) -> dict[str, int]:
    """Rewrite ``path`` into ~``target_file_bytes`` files.

    Returns ``{"files_before": ..., "files_after": ..., "bytes": ...}``.
    No-op (returns current stats) when the directory is already compact.
    """
    files = data_files(path)
    total = sum(os.path.getsize(f) for f in files)
    n_target = max(1, math.ceil(total / target_file_bytes))
    if len(files) < max(min_files_to_compact, n_target + 1):
        return {"files_before": len(files), "files_after": len(files), "bytes": total}

    def rewrite(df: DataFrame) -> DataFrame:
        if order_by:
            return df.repartitionByRange(n_target, order_by).sortWithinPartitions(order_by)
        return df.coalesce(n_target)

    publish(spark, path, rewrite, snapshot=False)
    return {
        "files_before": len(files),
        "files_after": len(data_files(path)),
        "bytes": total,
    }
