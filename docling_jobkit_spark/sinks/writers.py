"""Sinks (SURVEY §2.6).

The reference's parquet sink hand-rolls what Spark writers give for
free: it accumulates rows in pandas, splits files at 500 MB
(``convert/results_processor.py:29``), uploads ``parquet/<ts>_<i>.
parquet`` and writes a JSON manifest listing filenames + document hashes
(``results_processor.py:372-452``).

Spark-first: one ``DataFrameWriter`` with ``maxRecordsPerFile`` /
``write.target-file-size-bytes`` (Iceberg) for the size cap, directory
layout via ``partitionBy``, and a manifest derived FROM the committed
files (never a second source of truth). With an Iceberg catalog the
manifest is the snapshot; this parquet fallback mirrors the reference's
own layout exactly.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import put_if_absent

MAX_FILE_BYTES = 500 * 1024 * 1024  # reference cap: results_processor.py:29


def write_results(
    results: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = 50_000,
    mode: str = "overwrite",
) -> None:
    """Write the results table with a file-size discipline.

    ``maxRecordsPerFile`` plays the 500 MB cap's role (rows are
    bounded-size after admission, so a record cap bounds file bytes
    without buffering anything in memory — unlike the reference's
    accumulate-then-split loop).
    """
    writer = results.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_manifest(spark: SparkSession, results_path: str, manifest_path: str) -> dict:
    """JSON manifest of the committed output: per-file row counts and
    the set of document hashes — derived from the files themselves
    (the reference builds the same manifest at upload time,
    ``results_processor.py:372-452``)."""
    df = spark.read.parquet(results_path)
    per_file = (
        df.groupBy(F.input_file_name().alias("file"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("status") == "SUCCESS", 1).otherwise(0)).alias("n_ok"),
        )
        .collect()
    )
    manifest = {
        "created_at": time.time(),
        "results_path": results_path,
        "n_files": len(per_file),
        "files": [
            {"file": r["file"], "n_rows": r["n_rows"], "n_ok": r["n_ok"]}
            for r in sorted(per_file, key=lambda r: r["file"])
        ],
        "total_rows": int(sum(r["n_rows"] for r in per_file)),
    }
    os.makedirs(os.path.dirname(manifest_path), exist_ok=True)
    payload = json.dumps(manifest, indent=1).encode()
    # single conditional object PUT — first terminal state wins, and the
    # primitive exists on object stores (no rename; see checkpoint.py).
    # Concurrent committers derive IDENTICAL file lists from the same
    # directory, so losing the race and returning the winner's manifest
    # is correct — but a manifest whose file list no longer matches the
    # directory is STALE (the data was re-written with mode=overwrite
    # after it was sealed) and must be replaced, not returned: keeping
    # it would describe deleted files with the old run's row counts.
    if not put_if_absent(manifest_path, payload):
        with open(manifest_path) as f:
            existing = json.load(f)
        if [f_["file"] for f_ in existing["files"]] == [
            f_["file"] for f_ in manifest["files"]
        ]:
            return existing
        # Stale-manifest replacement must match the publish discipline of
        # put_if_absent: write the payload to a tmp name and atomically
        # rename over the manifest (atomic replace on POSIX ≡ an
        # unconditional PUT on object stores). A plain truncate+write
        # here would let a concurrent reader (or a crash mid-write)
        # observe a torn/empty manifest — the exact failure the
        # conditional-PUT path exists to prevent. Concurrent re-writers
        # each publish a complete payload; last-PUT-wins is fine because
        # both describe the same (current) directory listing.
        tmp_path = f"{manifest_path}.tmp.{os.getpid()}.{time.time_ns()}"
        with open(tmp_path, "wb") as f:
            f.write(payload)
        os.rename(tmp_path, manifest_path)
    return manifest


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table layout — the CO-LOCATED JOIN strategy for repeated
    big⋈big joins at corpus scale: two tables bucketed by the same key
    into the same bucket count join with ZERO exchanges on either side
    (Spark's native parquet bucketing satisfies the join's required
    hash distribution at read time; adding ``sort_col`` = the join key
    also removes the per-task sort for sort-merge joins).

    Where it matters at 100 TB: the results table joined repeatedly
    against chunks / embeddings / per-doc signals on the doc key — a
    shuffle of the corpus per join otherwise, a metadata property of the
    layout with bucketing. One-shot joins should prefer broadcast (small
    side) or a plain shuffle; bucketing pays off when the SAME key joins
    recur. Plan-pinned: tests/test_plans.py asserts a bucketed self-key
    join plans with no Exchange.

    Uses ``saveAsTable`` (bucket metadata lives in the catalog; plain
    ``.parquet(path)`` cannot carry it). Reference K3's artifact layout
    is the directory analog (``partitionBy``); bucketing is the join-
    locality analog the reference never needed (it has no joins —
    SURVEY §2.8)."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def write_training_shards(
    df: DataFrame,
    path: str,
    text_col: str = "extracted_text",
    meta_cols: tuple[str, ...] = ("url", "content_hash"),
    max_records_per_file: int = 50_000,
    max_shard_bytes: int | None = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> None:
    """Emit the curated corpus as size-capped JSONL shards — the
    interchange format LLM-pretraining loaders consume (one JSON object
    per line: {"text": ..., <meta>}). Compression is per-file, so shards
    stay independently readable and the write remains one narrow
    projection with zero shuffles (partitioning-preserving: upstream
    bucketing/salting carries straight through to shard boundaries).

    Sizing: training shards are usually BYTE-capped, not record-capped —
    pass ``max_shard_bytes`` (uncompressed JSONL bytes) and the record
    cap is derived from the mean serialized record size of a bounded
    1024-row sample (driver-side, like the IVF codebook sample — never a
    corpus scan). Record sizes within one corpus are admission-bounded,
    so mean-based derivation holds; heavy-tailed inputs should keep an
    explicit ``max_records_per_file`` instead. When ``max_shard_bytes``
    is None the plain record cap applies unchanged.

    Columns are projected and renamed here (text_col -> "text") so the
    on-disk schema is loader-shaped regardless of the pipeline's column
    names."""
    from pyspark.sql import functions as F

    cols = [F.col(text_col).alias("text")] + [F.col(c) for c in meta_cols]
    out = df.select(*cols)
    if max_shard_bytes is not None:
        # +1 for the newline the JSONL writer appends per record
        mean_bytes = (
            out.limit(1024)
            .select((F.length(F.to_json(F.struct("*"))) + 1).alias("b"))
            .agg(F.avg("b"))
            .collect()[0][0]
        )
        if mean_bytes:
            max_records_per_file = max(1, int(max_shard_bytes // mean_bytes))
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .option("compression", compression)
        .json(path)
    )
