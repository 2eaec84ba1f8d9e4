"""Small-file compaction for parquet datasets.

The reference's rotating file sink — and any streaming micro-batch sink —
accretes one small file per trigger per partition. At 100 TB that layout
kills scan performance: every file costs a task, a footer read, and NN/
object-store metadata calls. Compaction rewrites a dataset into files
near a target size.

Sizing comes from the file-system listing (``getContentSummary``), not a
data scan, so planning is O(metadata). The rewrite itself is one shuffle
to exactly the output file count. Writes go to a fresh directory — object
stores have no atomic rename-over-directory, so the swap (point readers /
a table location at the new path, then delete the old) is the caller's
transactional step.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from ..session import hadoop_path


def _assert_disjoint_paths(src: str, dst: str, what: str) -> None:
    """Refuse a destructive write whose target aliases its own input.

    ``mode("overwrite")`` deletes ``dst`` at JOB START while the read of
    ``src`` is lazy — with ``dst == src`` (or one nested in the other,
    or aliased via symlink/trailing-slash spelling) the job deletes the
    only copy of the data it is about to read, and Spark's own
    same-path check catches only the literal-string match."""
    a, b = os.path.realpath(src), os.path.realpath(dst)
    if a == b or os.path.commonpath([a, b]) in (a, b):
        raise ValueError(
            f"{what}: dst {dst!r} aliases src {src!r} — the overwrite "
            "would delete the input at job start; write to a fresh "
            "directory and swap afterwards")


def dataset_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — works on
    local/HDFS/S3A alike, no data scan."""
    p = hadoop_path(spark)(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(p).getLength()


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_mb: int = 512,
                    partition_col: str | list[str] | None = None) -> DataFrame:
    """Rewrite the parquet dataset at ``src`` into ``dst`` with ~target_mb
    files. With ``partition_col`` (one column or a list, e.g.
    ``["date", "hour"]`` for the streaming sink's layout), the hive
    layout is preserved and each partition directory compacts to one
    file (the rollup-table case) — partitions rewrite in PARALLEL, one
    task per hash bucket, never a single funnel task; otherwise the file
    count is ``ceil(total_bytes / target)``.

    Returns the compacted DataFrame (re-read from ``dst``).
    """
    _assert_disjoint_paths(src, dst, "compact_parquet")
    df = spark.read.parquet(src)
    if partition_col is not None:
        cols = ([partition_col] if isinstance(partition_col, str)
                else list(partition_col))
        (df.repartition(*cols)
           .write.mode("overwrite").partitionBy(*cols).parquet(dst))
    else:
        n_files = max(1, math.ceil(dataset_bytes(spark, src) / (target_mb << 20)))
        df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst)
