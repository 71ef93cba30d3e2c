"""File-level Bloom skipping index (operators/bloom_index.py).

Certificates pinned here:
- pruned scan == full-scan filter for present values (no false negatives
  by construction — every containing file survives);
- negative control: a value unique to one file prunes to a strict subset
  of the files; an absent value can prune to zero kept files and the
  scan still returns an empty, correctly-typed frame;
- "indexed, all-NULL" is distinguishable from "never indexed": the
  sentinel row lets an all-null file be excluded for a non-null probe,
  while a column the index never covered keeps every file;
- geometry is enforced: mixed n_bits and a foreign hash family RAISE;
- incremental update scans only the delta, reconciles dropped files, and
  the merged index prunes identically to a fresh build;
- composition with the zone map: intersecting kept sets equals the
  conjunctive predicate's certificate.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.operators.bloom_index import (
    FAMILY,
    _py_positions,
    build_bloom_index,
    prune_files_bloom,
    read_bloom_index,
    scan_pruned_bloom,
    update_bloom_index,
    write_bloom_index,
)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A multi-file documents layout with a known per-file key split:
    8 files clustered on doc_id ranges, so each doc's content_hash lives
    in exactly one file."""
    from docling_jobkit_spark.functions.scalar import content_hash

    path = str(tmp_path_factory.mktemp("bloomidx")) + "/docs"
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "source", "text")
        .withColumn("content_hash", content_hash(F.col("text")))
    )
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(path)
    return path


@pytest.fixture(scope="module")
def index(spark, table):
    return build_bloom_index(
        spark, table, ["content_hash", "doc_id"], n_bits=1 << 12
    ).localCheckpoint()


def _sample_hashes(spark, table, n=5):
    return [
        r["content_hash"]
        for r in spark.read.parquet(table)
        .orderBy("doc_id")
        .limit(n)
        .collect()
    ]


def test_spark_and_python_positions_agree(spark):
    """The driver-side probe hashes must be the executor-side build
    hashes — one value, both engines, identical positions."""
    from docling_jobkit_spark.operators.bloom import bloom_positions

    v = "the quick brown fox"
    got = (
        spark.range(1)
        .select(bloom_positions(F.lit(v), 1 << 12, 5).alias("p"))
        .collect()[0]["p"]
    )
    assert got == _py_positions(v, 1 << 12, 5)


def test_pruned_scan_equals_full_filter(spark, table, index):
    vals = _sample_hashes(spark, table, n=5)
    df, kept, total = scan_pruned_bloom(spark, index, "content_hash", vals)
    got = sorted(r["doc_id"] for r in df.collect())
    want = sorted(
        r["doc_id"]
        for r in spark.read.parquet(table)
        .where(F.col("content_hash").isin(vals))
        .collect()
    )
    assert got == want and len(want) >= 5
    assert 0 < kept <= total == 8


def test_point_probe_prunes_files(spark, table, index):
    """A single value lives in one file — the index must keep a strict
    subset (with n_bits=4096 over ~50 keys/file, almost always 1)."""
    vals = _sample_hashes(spark, table, n=1)
    kept, total = prune_files_bloom(index, "content_hash", vals)
    assert total == 8 and 1 <= len(kept) < 8


def test_absent_value_empty_scan_keeps_schema(spark, table, index):
    df, kept, total = scan_pruned_bloom(
        spark, index, "content_hash", ["0" * 64]
    )
    assert df.count() == 0
    assert set(df.columns) == {"doc_id", "source", "text", "content_hash"}
    assert kept <= total == 8


def test_no_false_negatives_every_key(spark, table, index):
    """Every row's own key must keep the file that contains it: probe
    all keys at once, per-file — union of kept sets covers all files
    that own at least one probed key."""
    rows = (
        spark.read.parquet(table)
        .select("content_hash")
        .withColumn("f", F.input_file_name())
        .collect()
    )
    by_file = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["content_hash"])
    for f, keys in by_file.items():
        kept, _ = prune_files_bloom(index, "content_hash", keys[:3])
        assert f in kept


def test_never_indexed_column_keeps_everything(spark, table, index):
    kept, total = prune_files_bloom(index, "source", ["nowhere"])
    assert kept and len(kept) == total == 8


def test_all_null_file_excluded_not_confused_with_unindexed(
    spark, tmp_path_factory
):
    base = str(tmp_path_factory.mktemp("bloomnull"))
    spark.range(10).select(
        F.lit(None).cast("string").alias("k"), F.col("id")
    ).coalesce(1).write.mode("overwrite").parquet(base + "/t")
    idx = build_bloom_index(spark, base + "/t", ["k"], n_bits=1 << 10)
    # indexed (sentinel present) + zero bits => provably absent => excluded
    kept, total = prune_files_bloom(idx, "k", ["anything"])
    assert total == 1 and kept == []


def test_mixed_geometry_raises(spark, table):
    a = build_bloom_index(spark, table, ["doc_id"], n_bits=1 << 10)
    b = build_bloom_index(spark, table, ["doc_id"], n_bits=1 << 11)
    with pytest.raises(ValueError, match="geometr"):
        prune_files_bloom(a.unionByName(b), "doc_id", ["1"])


def test_foreign_family_raises(spark, table):
    idx = build_bloom_index(spark, table, ["doc_id"], n_bits=1 << 10)
    forged = idx.withColumn("family", F.lit("xxhash64:murmur"))
    with pytest.raises(ValueError, match="family"):
        prune_files_bloom(forged, "doc_id", ["1"])
    assert FAMILY.startswith("sha256")


def test_roundtrip_and_torn_write_refused(spark, table, index, tmp_path):
    out = str(tmp_path / "idx")
    write_bloom_index(index, out)
    back = read_bloom_index(spark, out)
    vals = _sample_hashes(spark, table, n=3)
    assert prune_files_bloom(back, "content_hash", vals) == prune_files_bloom(
        index, "content_hash", vals
    )
    os.remove(out + "/_SUCCESS")
    with pytest.raises(ValueError, match="_SUCCESS"):
        read_bloom_index(spark, out)


def test_update_is_incremental_and_equivalent(spark, tmp_path):
    path = str(tmp_path / "grow")
    spark.range(0, 50).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    idx, n_new, n_drop = update_bloom_index(
        spark, path, None, ["k"], n_bits=1 << 10
    )
    idx = idx.localCheckpoint()
    assert (n_new, n_drop) == (1, 0)
    # append a second file
    spark.range(50, 100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    ).coalesce(1).write.mode("append").parquet(path)
    idx2, n_new, n_drop = update_bloom_index(
        spark, path, idx, ["k"], n_bits=1 << 10
    )
    idx2 = idx2.localCheckpoint()
    assert (n_new, n_drop) == (1, 0)
    fresh = build_bloom_index(spark, path, ["k"], n_bits=1 << 10)
    for probe in (["k7"], ["k77"], ["k7", "k77"], ["nope"]):
        assert prune_files_bloom(idx2, "k", probe) == prune_files_bloom(
            fresh, "k", probe
        )
    # geometry disagreement on update raises
    with pytest.raises(ValueError, match="geometr|n_bits"):
        update_bloom_index(spark, path, idx2, ["k"], n_bits=1 << 11)
    # steady state: nothing new, nothing dropped
    idx3, n_new, n_drop = update_bloom_index(
        spark, path, idx2, ["k"], n_bits=1 << 10
    )
    assert (n_new, n_drop) == (0, 0)


def test_composes_with_zonemap(spark, table, index):
    """Conjunction (doc_id range) AND (content_hash IN ...): intersecting
    the zone map's kept set with the bloom scan equals the full-scan
    conjunctive filter."""
    from docling_jobkit_spark.operators.zonemap import build_zonemap, prune_files

    full = spark.read.parquet(table)
    vals = [
        r["content_hash"]
        for r in full.orderBy("doc_id").limit(10).collect()
    ]
    zm = build_zonemap(spark, table, ["doc_id"])
    zm_kept, _ = prune_files(zm, "doc_id", 0, 10_000)
    df, kept, total = scan_pruned_bloom(
        spark, index, "content_hash", vals, pre_kept=zm_kept
    )
    df = df.where(F.col("doc_id").between(0, 10_000))
    want = sorted(
        r["doc_id"]
        for r in full.where(
            F.col("content_hash").isin(vals) & F.col("doc_id").between(0, 10_000)
        ).collect()
    )
    assert sorted(r["doc_id"] for r in df.collect()) == want
    assert kept <= total


def test_empty_manifest_prunes_to_nothing(spark, index, tmp_path):
    """A fully expired manifest is valid and stamps nothing: a probe
    keeps no file of none; a scan over it has no file to take its
    schema from and says so."""
    out = str(tmp_path / "expired")
    write_bloom_index(index.where(F.lit(False)), out)
    empty = read_bloom_index(spark, out)
    assert prune_files_bloom(empty, "content_hash", ["0" * 64]) == ([], 0)
    with pytest.raises(ValueError, match="empty"):
        scan_pruned_bloom(spark, empty, "content_hash", ["0" * 64])
