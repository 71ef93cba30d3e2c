"""Small-file compaction (sinks/maintenance.py): zero-shuffle layout
rewrite, content-signature preservation, conf save/restore."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import _list_parquet_files, content_signature
from docling_jobkit_spark.sinks.maintenance import compact_files


@pytest.fixture(scope="module")
def fragmented(spark, sf_dir, tmp_path_factory):
    """documents written as many tiny parquet files."""
    base = str(tmp_path_factory.mktemp("compact"))
    frag = os.path.join(base, "frag")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.write.mode("overwrite").option("maxRecordsPerFile", 25).parquet(frag)
    return base, frag, docs


def test_compaction_reduces_files_and_preserves_content(spark, fragmented):
    base, frag, docs = fragmented
    dst = os.path.join(base, "compact")
    stats = compact_files(spark, frag, dst, target_file_bytes=16 * 1024 * 1024)
    assert stats.n_files_before > stats.n_files_after
    assert content_signature(spark.read.parquet(dst), "doc_id")[0] == docs.count()
    # the checkpoint-signature certificate: every row moved exactly once
    assert content_signature(
        spark.read.parquet(frag), "doc_id"
    ) == content_signature(spark.read.parquet(dst), "doc_id")
    # and the full row multiset is unchanged, not just the signature
    src_ids = sorted(r[0] for r in spark.read.parquet(frag).select("doc_id").collect())
    dst_ids = sorted(r[0] for r in spark.read.parquet(dst).select("doc_id").collect())
    assert src_ids == dst_ids
    assert spark.read.parquet(dst).schema == spark.read.parquet(frag).schema


def test_compaction_shuffles_nothing(spark, fragmented):
    """The compactor's read must bin-pack at the SCAN (maxPartitionBytes)
    — no Exchange anywhere in the plan, and the scan partition count
    equals the output file count (one write task per packed group)."""
    base, frag, _ = fragmented
    dst = os.path.join(base, "compact_plan")
    stats = compact_files(spark, frag, dst, target_file_bytes=16 * 1024 * 1024)
    # re-create the exact read the compactor planned
    keys = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.files.minPartitionNum",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        df = spark.read.parquet(frag)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert df.rdd.getNumPartitions() == stats.n_files_after
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def test_compaction_restores_session_confs(spark, fragmented):
    base, frag, _ = fragmented
    dst = os.path.join(base, "compact_conf")
    before = (
        spark.conf.get("spark.sql.files.maxPartitionBytes", None),
        spark.conf.get("spark.sql.files.openCostInBytes", None),
    )
    compact_files(spark, frag, dst, target_file_bytes=4 * 1024 * 1024)
    after = (
        spark.conf.get("spark.sql.files.maxPartitionBytes", None),
        spark.conf.get("spark.sql.files.openCostInBytes", None),
    )
    assert before == after


def test_content_signature_null_guard(spark):
    # NULL keys must be hashed, not dropped — two frames differing only
    # by a NULL-vs-'x' key must produce different signatures, and a
    # frame WITH a null key must still count it.
    a = spark.range(3).select(
        F.when(F.col("id") == 0, F.lit(None)).otherwise(
            F.concat(F.lit("u"), F.col("id"))
        ).alias("k")
    )
    b = spark.range(3).select(
        F.when(F.col("id") == 0, F.lit("x")).otherwise(
            F.concat(F.lit("u"), F.col("id"))
        ).alias("k")
    )
    na, sa = content_signature(a, "k")
    nb, sb = content_signature(b, "k")
    assert na == nb == 3
    assert sa != sb
    # empty frame: signature 0, no crash
    assert content_signature(a.where(F.lit(False)), "k") == (0, 0)


def test_list_parquet_files_skips_metadata(spark, fragmented):
    _, frag, _ = fragmented
    files = _list_parquet_files(spark, frag)
    assert files
    assert all(f.endswith(".parquet") for f, _ in files)
    assert all(b > 0 for _, b in files)
