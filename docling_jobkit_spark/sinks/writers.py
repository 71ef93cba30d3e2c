"""Sinks (SURVEY §2.6).

The reference's parquet sink hand-rolls what Spark writers give for
free: it accumulates rows in pandas, splits files at 500 MB
(``convert/results_processor.py:29``), uploads ``parquet/<ts>_<i>.
parquet`` and writes a JSON manifest listing filenames + document hashes
(``results_processor.py:372-452``).

Spark-first: extraction results are published by ``checkpoint.
CommitLog`` — data files to a unique path, then one conditional
manifest PUT per commit group — so this module holds no second
manifest publisher. What remains are the layouts downstream readers
need: a bucketed table for repeated co-located joins, and size-capped
JSONL training shards (``maxRecordsPerFile`` plays the 500 MB cap's
role without buffering anything in memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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
