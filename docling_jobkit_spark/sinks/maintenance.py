"""Table-maintenance: small-file compaction (the lakehouse op the
reference's 500 MB size cap gestures at from the write side).

Reference precedent: ``convert/results_processor.py:29`` caps files at
500 MB while WRITING — but a long-running ingestion (many incremental
runs, streaming micro-batches, per-partition shard writes) still
accretes small files, and at 100 TB the small-files problem is a
first-order cost: every query pays one task + one object-store GET per
file, and 10^6 × 1 MB files turn a 2-minute scan into driver-listing
pain. Iceberg calls the fix ``rewrite_data_files``; this is the
plain-parquet analog.

Spark-first design — compaction WITHOUT a shuffle: Spark's file scan
already bin-packs small files into read partitions up to
``spark.sql.files.maxPartitionBytes`` (each scan partition holds one or
more whole small files / file slices). Setting that knob to the target
file size and writing one file per partition therefore yields
~target-sized outputs with ZERO exchanges — the data moves executor →
executor never, disk → disk once. ``repartition(n)`` would achieve the
same balance at the cost of shuffling the full corpus payload, which the
project invariant forbids without a skew reason.

``openCostInBytes`` is lowered during the read: Spark pads every file to
at least this cost when packing (default 4 MB), which would cap packing
at ~32 files per partition regardless of real bytes — wrong for a
directory of many tiny shards. Both confs are session-scoped, so they
are saved/restored around the read; the returned DataFrame is FULLY
PLANNED (scan partitions fixed) before restore.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession

from docling_jobkit_spark.checkpoint import _list_parquet_files


@dataclass(frozen=True)
class CompactionStats:
    n_files_before: int
    n_files_after: int
    bytes_before: int


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> CompactionStats:
    """Rewrite ``src_path``'s parquet fragments into ~``target_file_bytes``
    files at ``dst_path`` with no shuffle, and return before/after stats.

    The caller certifies content equality (``checkpoint.
    certified_rewrite``: row count + key-hash sum) — compaction must be
    a pure layout change."""
    files = _list_parquet_files(spark, src_path)
    bytes_before = sum(b for _, b in files)

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
            "spark.sql.files.minPartitionNum",
        )
    }
    try:
        conf.set("spark.sql.files.maxPartitionBytes", str(target_file_bytes))
        # pad tiny files by 64 KB, not 4 MB, so packing tracks real bytes
        conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
        # Spark's split size is min(maxPartitionBytes, max(openCost,
        # totalBytes / minPartitionNum)) with minPartitionNum defaulting
        # to the core count — without this, a small directory still
        # splits one-partition-per-core and the output lands far BELOW
        # target size (observed: 13 → 7 files where the target implied 1)
        conf.set("spark.sql.files.minPartitionNum", "1")
        df = spark.read.parquet(src_path)
        # the write is the action: scan partitions (and thus output file
        # boundaries) are decided while the confs are in force
        df.write.mode("overwrite").parquet(dst_path)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)

    return CompactionStats(
        n_files_before=len(files),
        n_files_after=len(_list_parquet_files(spark, dst_path)),
        bytes_before=bytes_before,
    )
