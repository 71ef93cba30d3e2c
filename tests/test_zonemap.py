"""Zone maps (operators/zonemap.py): footer-stats exactness, prune
safety (pruned row set == full-scan filter row set, on clustered AND
adversarially unclustered layouts), conservative handling of missing
stats, the numeric-only policy, and actual file skipping."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.operators.zonemap import (
    _widen_down,
    _widen_up,
    build_zonemap,
    prune_files,
    scan_pruned,
    write_clustered,
)

# Jobs to plan a pruned scan of a 16-file manifest, with survivors and
# without: 3 either way (8 with the anti-join collect, the file count
# and the schema-file collect).
PRUNED_SCAN_JOBS = 4


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("zm") / "clustered")
    df = spark.range(10_000).select(
        F.col("id"),
        (F.col("id") % 97).cast("long").alias("v"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    write_clustered(df, out, "v", n_files=16)
    return out


def test_widening_is_conservative():
    big = (1 << 60) + 1  # not float-representable
    assert _widen_down(big) <= big
    assert _widen_up(big) >= big
    assert _widen_down(5) == 5.0 and _widen_up(5) == 5.0
    assert _widen_up(_widen_down(big)) != math.inf


def test_zonemap_matches_true_file_minmax(spark, clustered):
    zm = build_zonemap(spark, clustered, ["v"]).cache()
    truth = (
        spark.read.parquet(clustered)
        .select(F.input_file_name().alias("file"), "v")
        .groupBy("file")
        .agg(F.min("v").alias("tmin"), F.max("v").alias("tmax"), F.count("*").alias("tn"))
    )
    joined = zm.join(truth, "file", "full").collect()
    assert joined and all(r["tmin"] is not None and r["vmin"] is not None for r in joined)
    for r in joined:
        assert r["has_stats"]
        assert r["vmin"] == float(r["tmin"]) and r["vmax"] == float(r["tmax"])
        assert r["n_rows"] == r["tn"]


def test_pruned_scan_row_set_exact_and_skips_files(spark, clustered):
    zm = build_zonemap(spark, clustered, ["v"]).cache()
    lo, hi = 10.0, 24.0
    df, kept, total = scan_pruned(spark, zm, "v", lo, hi)
    full = spark.read.parquet(clustered).where(F.col("v").between(lo, hi))
    assert df.count() == full.count()
    assert (
        df.agg(F.sum("id"), F.sum("v")).collect()[0]
        == full.agg(F.sum("id"), F.sum("v")).collect()[0]
    )
    # range-clustered 0..96 into 16 files: a 15-value band must skip
    # most files even with sampled seam wobble
    assert total >= 8 and kept < total / 2
    # the scan's inputFiles are exactly the survivors
    assert len(set(df.inputFiles())) == kept


def test_empty_survivor_set_returns_typed_empty_frame(spark, clustered):
    zm = build_zonemap(spark, clustered, ["v"])
    df, kept, total = scan_pruned(spark, zm, "v", 1e9, 2e9)
    assert kept == 0 and total > 0
    assert df.count() == 0
    assert dict(df.dtypes)["v"] == "bigint"


def test_unclustered_layout_still_exact_just_less_pruned(spark, tmp_path):
    out = str(tmp_path / "scattered")
    df = spark.range(4_000).select(
        F.col("id"), (F.col("id") % 97).cast("long").alias("v")
    )
    # adversarial layout: hash-scattered on an unrelated key
    df.repartition(8, F.sha2(F.col("id").cast("string"), 256)).write.parquet(out)
    zm = build_zonemap(spark, out, ["v"])
    got, kept, total = scan_pruned(spark, zm, "v", 10.0, 24.0)
    full = spark.read.parquet(out).where(F.col("v").between(10.0, 24.0))
    assert got.count() == full.count() > 0
    assert kept == total  # every file spans the domain: zero skips, zero loss


def test_missing_stats_column_is_kept_not_pruned(spark, clustered, tmp_path):
    # a file written WITHOUT the column simulates schema evolution
    extra = str(tmp_path / "evolved")
    spark.range(5).select(F.col("id")).write.parquet(extra)
    zm = build_zonemap(spark, extra, ["v"])
    rows = zm.collect()
    assert rows and all(not r["has_stats"] for r in rows)
    kept, total = prune_files(zm, "v", 0.0, 1.0)
    assert kept and len(kept) == total


def test_string_column_raises_numeric_only_policy(spark, clustered):
    zm = build_zonemap(spark, clustered, ["payload"])
    with pytest.raises(Exception) as ei:
        zm.collect()
    assert "numeric-only" in str(ei.value)


def test_footer_only_io_no_data_columns_read(spark, clustered):
    # the zonemap plan over the file list must not contain a parquet
    # scan node: the file paths appear only as literals in the exploded
    # array, and the data files are opened footer-only inside the UDF
    zm = build_zonemap(spark, clustered, ["v"])
    plan = zm._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan and "FileScan" not in plan


def test_incremental_update_reads_only_new_footers(spark, tmp_path):
    from docling_jobkit_spark.operators.zonemap import (
        read_zonemap,
        update_zonemap,
        write_zonemap,
    )

    table = str(tmp_path / "tbl")
    zmp = str(tmp_path / "zm")
    base = spark.range(1_000).select(
        F.col("id"), (F.col("id") % 50).cast("long").alias("v")
    )
    base.repartition(4).write.parquet(table)
    zm0, n_new, n_drop = update_zonemap(spark, table, None, ["v"])
    assert n_drop == 0 and n_new == len(set(zm0.select("file").toPandas()["file"]))
    write_zonemap(zm0, zmp)

    # steady state: nothing new, nothing dropped, zero footer reads
    zm1, n_new, n_drop = update_zonemap(spark, table, read_zonemap(spark, zmp), ["v"])
    assert (n_new, n_drop) == (0, 0)

    # append: only the delta is statted; merged == from-scratch rebuild
    spark.range(1_000, 1_500).select(
        F.col("id"), (F.col("id") % 50).cast("long").alias("v")
    ).repartition(2).write.mode("append").parquet(table)
    zm2, n_new, n_drop = update_zonemap(spark, table, zm1, ["v"])
    assert n_new == 2 and n_drop == 0
    from docling_jobkit_spark.operators.zonemap import build_zonemap

    full = build_zonemap(spark, table, ["v"])
    a = sorted(map(tuple, zm2.toPandas().itertuples(index=False)))
    b = sorted(map(tuple, full.toPandas().itertuples(index=False)))
    assert a == b

    # rewrite (compaction): stale entries dropped, replacements statted
    zm2p = zm2.localCheckpoint()
    spark.read.parquet(table).coalesce(1).write.mode("overwrite").parquet(table + "2")
    zm3, n_new, n_drop = update_zonemap(spark, table + "2", zm2p, ["v"])
    assert n_new == 1 and n_drop == 6
    assert zm3.count() == 1 + 0


def test_multi_column_conjunctive_prune(spark, tmp_path):
    from docling_jobkit_spark.operators.zonemap import (
        build_zonemap,
        prune_files_multi,
        scan_pruned_multi,
    )

    out = str(tmp_path / "two_dim")
    # v range-clustered; w rides along correlated with v (w = 2v) so
    # both columns' stats are narrow per file
    df = spark.range(8_000).select(
        F.col("id"),
        (F.col("id") % 80).cast("long").alias("v"),
        ((F.col("id") % 80) * 2).cast("long").alias("w"),
    )
    df.repartitionByRange(10, F.col("v")).sortWithinPartitions("v").write.parquet(out)
    zm = build_zonemap(spark, out, ["v", "w"]).localCheckpoint()

    # conjunction: v in [10,20] AND w in [0, 10] — w excludes files v
    # alone would keep (w=2v means w<=10 implies v<=5, disjoint from
    # v>=10 → provably empty at the FILE level for clustered files)
    got, kept, total = scan_pruned_multi(spark, zm, {"v": (10, 20), "w": (0, 10)})
    full = (
        spark.read.parquet(out)
        .where(F.col("v").between(10, 20) & F.col("w").between(0, 10))
    )
    assert got.count() == full.count() == 0
    kept_v, _ = prune_files_multi(zm, {"v": (10.0, 20.0)})
    assert kept < len(kept_v) or kept == 0  # the w condition tightened it

    # satisfiable conjunction stays exact
    got2, kept2, total2 = scan_pruned_multi(spark, zm, {"v": (10, 20), "w": (20, 30)})
    full2 = (
        spark.read.parquet(out)
        .where(F.col("v").between(10, 20) & F.col("w").between(20, 30))
    )
    assert got2.count() == full2.count() > 0
    assert kept2 <= len(kept_v) and kept2 < total2


def test_pruned_scan_reads_the_manifest_once(spark, clustered, count_jobs):
    """A pruned scan is planned from ONE grouped collect of the manifest
    (per file: does any row prove a miss), which gives the survivors, the
    total, and the file an empty scan takes its schema from — not an
    anti-join collect, a count of every file and, when nothing
    survives, a third ``limit(1)`` collect. The rest is the survivor
    read's schema inference."""
    zm = build_zonemap(spark, clustered, ["v"]).localCheckpoint(eager=True)
    (df, kept, total), n_some = count_jobs(scan_pruned, spark, zm, "v", 10.0, 24.0)
    assert 0 < kept < total
    (empty, kept0, total0), n_none = count_jobs(scan_pruned, spark, zm, "v", 1e9, 2e9)
    assert kept0 == 0 and total0 == total and empty.count() == 0
    assert n_some <= PRUNED_SCAN_JOBS and n_none <= PRUNED_SCAN_JOBS, (n_some, n_none)
