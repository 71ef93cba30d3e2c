"""File-level min/max zone maps + manifest-pruned scans (Iceberg-style).

The companion to ``operators/layout.py``: z-order prunes at the file
LISTING via ``zbucket=`` directories, but directory partitioning only
works for the dimensions you baked into the layout. Zone maps are the
general mechanism — per-FILE min/max statistics kept in a small
manifest table, consulted by the planner so a range predicate on ANY
clustered column skips whole files before a single data byte is read.
This is exactly what Iceberg manifests / Delta file stats / classic
zone maps (Netezza) do; Spark's parquet reader applies row-group stats
too, but only AFTER opening every footer — at 10^12 documents that is
millions of object-store GETs per query. A manifest table turns that
into one metadata scan.

Reference precedent: docling-jobkit writes plain parquet with a size
cap (``convert/results_processor.py:29``) and leaves scan planning to
the engine; this module is the from-scratch lakehouse upgrade the
north star's "writes results back to Iceberg" gestures at.

Design:

- ``build_zonemap`` reads ONLY parquet footers (pyarrow metadata), and
  does so ON EXECUTORS: the file list is exploded from a literal array
  (all JVM-side — never ``createDataFrame(list)``, see CLAUDE.md) and
  a ``mapInPandas`` worker aggregates each file's row-group stats to
  file-level (min of mins, max of maxes). Footer bytes are ~KB per
  file; the corpus payload is never touched.
- Stats are NUMERIC-ONLY by policy: parquet writers truncate long
  binary/string min/max values (``parquet.statistics.truncate.length``)
  and a truncated max is a PREFIX that compares LESS than the true max
  — pruning on it would silently drop matching files. Numeric stats
  are exact; string columns raise.
- int64 → float64 widening is made conservative with ``math.nextafter``
  (a bare ``float(v)`` rounds to nearest, which can round a true min UP
  and falsely exclude a boundary file).
- ``prune_files`` keeps a file unless its [min, max] interval provably
  misses the query range; files with absent stats (all-null column,
  stats disabled) are KEPT — zone maps may only ever over-read.
- ``scan_pruned`` reads the surviving files by explicit path (no
  directory listing at all) and re-applies the row-level predicate:
  the zone map is a superset filter, the predicate is the truth.

Clustering makes zone maps selective: ``write_clustered`` range-
repartitions on the stats column and sorts within partitions, so each
file covers a narrow value band. Spark's RangePartitioner SAMPLES its
boundaries, so file boundaries are not bit-stable across runs — the
row SET any query returns is exact regardless (certified in tests),
only the kept-file count can wobble by ±1 at range seams. That is the
same contract Iceberg's ``rewrite_data_files`` with a sort order has.
"""

from __future__ import annotations

import math
from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_jobkit_spark.checkpoint import _list_parquet_files
from docling_jobkit_spark.functions.scalar import empty_frame, lit_strings

ZONEMAP_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("col", T.StringType(), False),
        T.StructField("vmin", T.DoubleType(), True),
        T.StructField("vmax", T.DoubleType(), True),
        T.StructField("has_stats", T.BooleanType(), False),
    ]
)

_NUMERIC_KINDS = ("int", "uint", "float", "double", "decimal")


def _widen_down(v) -> float:
    """Conservative numeric-min widening: never larger than true v."""
    f = float(v)
    if f > v:
        f = math.nextafter(f, -math.inf)
    return f


def _widen_up(v) -> float:
    """Conservative numeric-max widening: never smaller than true v."""
    f = float(v)
    if f < v:
        f = math.nextafter(f, math.inf)
    return f


def _canon(path: str) -> str:
    """Canonical file URI, matching Spark's ``input_file_name()`` form:
    Hadoop's listing renders local paths as ``file:/x``, Spark's scan as
    ``file:///x`` — same file, different spelling; joins/dedup need one."""
    if path.startswith("file:/") and not path.startswith("file:///"):
        return "file:///" + path[len("file:/") :].lstrip("/")
    return path


def _data_files(spark: SparkSession, path: str) -> list[str]:
    """Canonical URIs of the parquet data files under ``path`` — one
    driver-side listing."""
    return [_canon(p) for p, _ in _list_parquet_files(spark, path)]


def _reconcile(
    prev: DataFrame | None,
    known: set[str],
    listing: Iterable[str],
    index_files: Callable[[list[str]], DataFrame],
) -> tuple[DataFrame, int, int]:
    """The one file-set diff behind every per-file manifest: rows of
    files no longer on disk drop, ``index_files`` builds rows for the
    files on disk that ``prev`` (whose file set is ``known``) has never
    seen, and the two union. ``prev=None`` (no manifest yet) indexes
    every listed file. Returns (merged manifest, n_new_files,
    n_dropped_files).

    A driver-side set diff over file PATHS — metadata-scale; steady
    state (nothing added or dropped) indexes nothing, the
    incremental-resume discipline of ``checkpoint.py`` applied to scan
    planning."""
    on_disk = {_canon(p) for p in listing}
    new_files = sorted(on_disk - known)
    stale = known - on_disk
    merged = prev
    if stale:
        merged = merged.where(~F.col("file").isin(sorted(stale)))
    if new_files or prev is None:
        fresh = index_files(new_files)
        merged = fresh if prev is None else merged.unionByName(fresh)
    return merged, len(new_files), len(stale)


def _file_stats(path: str, cols: Sequence[str]) -> list[dict]:
    """Footer-only stats for one parquet file (runs on an executor)."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    arrow_schema = pf.schema_arrow
    name_to_idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: list[dict] = []
    for col in cols:
        if col not in name_to_idx:
            # column absent from this file (schema evolution): no stats,
            # the file is kept by the conservative prune rule
            out.append(
                dict(
                    file=path,
                    n_rows=md.num_rows,
                    col=col,
                    vmin=None,
                    vmax=None,
                    has_stats=False,
                )
            )
            continue
        kind = str(arrow_schema.field(col).type)
        if not kind.startswith(_NUMERIC_KINDS):
            raise TypeError(
                f"zonemap stats are numeric-only (column {col!r} is {kind}): "
                "parquet truncates string min/max, which breaks prune safety"
            )
        idx = name_to_idx[col]
        vmin = vmax = None
        ok = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = _widen_down(st.min), _widen_up(st.max)
            vmin = lo if vmin is None else min(vmin, lo)
            vmax = hi if vmax is None else max(vmax, hi)
        out.append(
            dict(
                file=path,
                n_rows=md.num_rows,
                col=col,
                vmin=vmin if ok else None,
                vmax=vmax if ok else None,
                has_stats=bool(ok and vmin is not None),
            )
        )
    return out


def build_zonemap(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """Per-file min/max manifest for ``cols`` over every data file under
    ``path``. IO is footers only, read on executors; the driver handles
    just the file LIST (the same cost compaction and the checkpoint
    manifest already pay)."""
    return _zonemap_for_files(spark, _data_files(spark, path), cols)


def _zonemap_for_files(
    spark: SparkSession, files: list[str], cols: Sequence[str]
) -> DataFrame:
    if not files or not cols:
        return empty_frame(spark, ZONEMAP_SCHEMA)
    cols = list(cols)

    # literal-array explode: stays JVM-side (createDataFrame(list) forks
    # a python worker per default-parallelism partition — CLAUDE.md)
    files_df = (
        spark.range(1)
        .select(F.explode(lit_strings(files)).alias("file"))
        .repartition(min(len(files), 32), "file")
    )

    def scan_footers(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for p in pdf["file"]:
                # strip the scheme for local paths (file:///x → /x)
                if p.startswith("file://"):
                    local = p[len("file://") :]
                elif p.startswith("file:"):
                    local = p[len("file:") :]
                else:
                    local = p
                for row in _file_stats(local, cols):
                    row["file"] = p  # manifest keys keep the canonical URI
                    rows.append(row)
            yield pd.DataFrame(
                rows,
                columns=["file", "n_rows", "col", "vmin", "vmax", "has_stats"],
            )

    return files_df.mapInPandas(scan_footers, ZONEMAP_SCHEMA)


def prune_files(
    zonemap: DataFrame, col: str, lo: float, hi: float
) -> tuple[list[str], int]:
    """(surviving file paths, total file count) for ``col BETWEEN lo
    AND hi`` — single-column form of ``prune_files_multi``."""
    return prune_files_multi(zonemap, {col: (lo, hi)})


def _prune(
    zonemap: DataFrame, ranges: dict[str, tuple[float, float]]
) -> tuple[list[str], list[str]]:
    """(surviving files, every manifest file), both sorted, from ONE
    grouped collect: per file, whether any of its rows proves a miss."""
    if not ranges:
        raise ValueError("ranges must name at least one column")
    miss = F.lit(False)
    for col, (lo, hi) in ranges.items():
        miss = miss | (
            (F.col("col") == col)
            & F.col("has_stats")
            & ((F.col("vmax") < F.lit(float(lo))) | (F.col("vmin") > F.lit(float(hi))))
        )
    rows = sorted(zonemap.groupBy("file").agg(F.max(miss).alias("miss")).collect())
    return [r["file"] for r in rows if not r["miss"]], [r["file"] for r in rows]


def prune_files_multi(
    zonemap: DataFrame, ranges: dict[str, tuple[float, float]]
) -> tuple[list[str], int]:
    """Conjunctive (AND) pruning over several columns: a file is
    EXCLUDED if ANY column's stats prove its range misses the query —
    exclusion sets compose, missing stats never exclude. One grouped
    manifest collect; it is metadata-sized (the planner-side cost
    Iceberg pays reading manifests)."""
    kept, files = _prune(zonemap, ranges)
    return kept, len(files)


def scan_pruned(
    spark: SparkSession,
    zonemap: DataFrame,
    col: str,
    lo: float,
    hi: float,
) -> tuple[DataFrame, int, int]:
    """Single-column form of ``scan_pruned_multi``."""
    return scan_pruned_multi(spark, zonemap, {col: (lo, hi)})


def scan_pruned_multi(
    spark: SparkSession,
    zonemap: DataFrame,
    ranges: dict[str, tuple[float, float]],
) -> tuple[DataFrame, int, int]:
    """Conjunctive range scan that reads ONLY the zone-map survivors
    (explicit file paths — no directory listing) and re-applies the
    exact row predicates. Returns (df, files_kept, files_total); an
    empty survivor set returns an empty, correctly-typed frame via an
    impossible filter on one file (parquet schema still comes from the
    footer)."""
    kept, files = _prune(zonemap, ranges)
    df = spark.read.parquet(*(kept or files[:1]))
    for col, (lo, hi) in ranges.items():
        df = df.where(F.col(col).between(F.lit(float(lo)), F.lit(float(hi))))
    if not kept:
        df = df.where(F.lit(False))
    return df, len(kept), len(files)


def write_zonemap(zm: DataFrame, path: str) -> None:
    """Persist a manifest (tiny parquet — one coalesced file; the
    manifest for a million-file table is a few hundred MB, for a test
    table a few KB)."""
    zm.coalesce(1).write.mode("overwrite").parquet(path)


def read_zonemap(spark: SparkSession, path: str) -> DataFrame:
    """Read a persisted manifest with the known ``ZONEMAP_SCHEMA`` — no
    schema-inference job (file sources read every column nullable, as
    inference does)."""
    return spark.read.schema(ZONEMAP_SCHEMA).parquet(path)


def update_zonemap(
    spark: SparkSession,
    table_path: str,
    zonemap: DataFrame | None,
    cols: Sequence[str] | None,
    listing: Iterable[str] | None = None,
) -> tuple[DataFrame, int, int]:
    """Incremental manifest maintenance (Iceberg manifest-append from
    scratch): reconcile a persisted zone map with the files actually on
    disk (``_reconcile``), reading footers ONLY for files the manifest
    has never seen. Appends are O(delta); compactions/rewrites drop the
    vanished files' rows and stat only their replacements. Returns
    (merged manifest, n_new_files, n_dropped_files).

    ``cols=None`` stats the columns the manifest already holds (its file
    set and columns come from one collect). ``listing`` is the data
    files under ``table_path`` when the caller has listed them already;
    None lists ``table_path`` here."""
    known: set[str] = set()
    if zonemap is not None:
        rows = zonemap.select("file", "col").distinct().collect()
        known = {r["file"] for r in rows}
        if cols is None:
            cols = sorted({r["col"] for r in rows})
    if listing is None:
        listing = _data_files(spark, table_path)
    return _reconcile(
        zonemap,
        known,
        listing,
        lambda files: _zonemap_for_files(spark, files, cols or []),
    )


def write_clustered(
    df: DataFrame, path: str, col: str, n_files: int = 16, mode: str = "overwrite"
) -> None:
    """Cluster ``df`` on ``col`` into ~``n_files`` range-contiguous
    files so zone maps on ``col`` are narrow. One range shuffle —
    inherent to any clustering rewrite, paid once (the zorder_write
    economics). Boundaries come from Spark's sampled RangePartitioner;
    see the module docstring for the determinism contract."""
    (
        df.repartitionByRange(n_files, F.col(col))
        .sortWithinPartitions(col)
        .write.mode(mode)
        .parquet(path)
    )
