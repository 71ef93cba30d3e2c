"""Persisted IVF vector index + incremental cross-snapshot maintenance.

The at-scale ANN posture for a ROLLING embedding corpus (monthly crawl
snapshots, incremental ingestion) — the vector twin of
``operators/minhash_index.py``: the accumulated history's cell
assignments are computed ONCE and persisted ``partitionBy("ivf_cell")``;
each new snapshot is assigned once and APPENDED into the same layout,
so at snapshot N a probe costs O(|probed cells|) IO plus O(|new|)
assignment work — never an O(|1..N|) re-assignment of history.

Reference parity: docling-jobkit has no vector index, but its
task-result caching (reference docling_jobkit/connectors keyed result
stores) embodies the same never-recompute-history posture; this module
is that idea applied to the IVF layout (Sivic & Zisserman 2003 inverted
file; the partition-pruned search of similarity.ivf_topk_presigned).

Design (Spark-first):

- The index IS a directory of cell partitions: ``with_ivf_cells``
  stamps the codebook identity (size + sha of the rounded coordinate
  grid) into the VECTOR column's metadata — the cell column is the
  partition column and drops metadata on read-back (lesson recorded on
  the IVF layout) — and ``partitionBy("ivf_cell")`` makes every probe
  a file-listing-level pruned scan.
- **Appends enforce the stamp**: appending vectors assigned with a
  RETRAINED codebook would silently corrupt every probe — "cells"
  holding vectors from two different geometries return
  plausible-but-wrong neighbors and nothing ever errors. A mismatched
  (or missing) stamp RAISES before any file is written.
- **Reads refuse unstamped layouts** (the ``read_minhash_index``
  discipline): a foreign parquet dir that happens to have an
  ``ivf_cell`` column is not an index of known provenance.
- ``ivf_index_report`` is the maintenance view (the ingest
  ``state report`` pattern): per-cell row counts from parquet FOOTER
  metadata only (a count aggregate never reads vector data), balance
  share, and a hot-cell flag — the recluster/split work list. With the
  codebook passed it adds per-cell mean/min centroid similarity, the
  drift signal that says the codebook no longer fits the data.

Probe path: ``read_ivf_index`` → ``similarity.ivf_topk_presigned``
(unchanged — the stamp verification there is what this module's writes
keep true across appends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.stamp import check_stamp, read_stamp
from docling_jobkit_spark.operators.similarity import (
    IVF_STAMP_KEYS,
    codebook_id,
    with_ivf_cells,
)


def _stored_stamp(
    spark: SparkSession,
    path: str,
    vec_col: str,
    centroids: list[list[float]] | None = None,
    why: str = "",
) -> dict:
    """Codebook stamp of an existing layout, read from the schema only
    (one footer; no data). Raises if the layout is missing the vector
    column or carries no stamp, or — given ``centroids`` — if the stamp
    names another codebook (``why`` says what that would break)."""
    existing = spark.read.parquet(path)
    if vec_col not in existing.columns or "ivf_cell" not in existing.columns:
        raise ValueError(
            f"not an IVF index (missing '{vec_col}'/'ivf_cell'): {path}"
        )
    stored = read_stamp(existing, [vec_col], IVF_STAMP_KEYS)
    current = codebook_id(centroids) if centroids is not None else None
    check_stamp(
        stored,
        {"ivf_codebook": current},
        required=True,
        missing=f"IVF layout at {path} carries no codebook stamp; refusing to "
        "serve vectors of unknown assignment provenance",
        mismatch=f"IVF codebook mismatch: index={stored.get('ivf_codebook')} "
        f"current={current} — {why}",
    )
    return stored


def _grouped_by_cell(assigned: DataFrame, id_col: str) -> DataFrame:
    """Group rows by cell before the dynamic-partition write: from p
    input partitions the writer otherwise instantiates p × n_cells
    parquet writers, and writer init dominates small-to-medium writes
    (measured on the minhash index: 22.6 warm CPU-s at 512 files vs
    3.3 grouped — file count, not data volume). Salting by hash(id)
    keeps a hot cell from collapsing to a single task at corpus scale;
    each task still holds ~one (cell, salt) group so file count tracks
    the shuffle width."""
    n = int(assigned.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cells = F.col("ivf_cell")
    salt = F.pmod(F.hash(id_col), F.lit(max(1, n // 16)))
    return assigned.repartition(n, cells, salt)


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize assignments once and persist the partitioned layout
    (mode=overwrite — the initial build / full rebuild)."""
    assigned = with_ivf_cells(df.select(id_col, vec_col), centroids, vec_col)
    _grouped_by_cell(assigned, id_col).write.mode("overwrite").partitionBy(
        "ivf_cell"
    ).parquet(path)


def append_ivf_index(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incremental maintenance: assign ONLY the new snapshot's vectors
    and append them into the existing layout. Raises unless the
    existing layout's stamped codebook identity equals
    ``codebook_id(centroids)`` — same size, same coordinates."""
    _stored_stamp(
        spark,
        path,
        vec_col,
        centroids,
        "an append would mix two assignment geometries in the same cells; "
        "rebuild with write_ivf_index",
    )
    assigned = with_ivf_cells(df.select(id_col, vec_col), centroids, vec_col)
    _grouped_by_cell(assigned, id_col).write.mode("append").partitionBy(
        "ivf_cell"
    ).parquet(path)


def read_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Read the layout back for probing (``ivf_topk_presigned`` consumes
    this directly), refusing unstamped layouts."""
    _stored_stamp(spark, path, _detect_vec_col(spark, path))
    return spark.read.parquet(path)


def _detect_vec_col(spark: SparkSession, path: str) -> str:
    """The vector column is the single array<float/double> field."""
    sch = spark.read.parquet(path).schema
    arrays = [
        f.name for f in sch.fields if f.dataType.typeName() == "array"
    ]
    if len(arrays) != 1:
        raise ValueError(
            f"cannot identify the vector column at {path}: "
            f"array columns {arrays}"
        )
    return arrays[0]


def ivf_index_report(
    spark: SparkSession,
    path: str,
    centroids: list[list[float]] | None = None,
    hot_factor: float = 4.0,
) -> DataFrame:
    """Per-cell maintenance view: (ivf_cell, n_vectors, share, hot) —
    counts come from parquet footer row counts (count aggregates never
    read vector data), share = cell fraction of the corpus, hot flags
    cells above ``hot_factor``× the uniform share (the split/recluster
    work list — one hot cell is where every probe's latency goes).

    With ``centroids`` (verified against the stamp) it adds
    mean_centroid_sim / min_centroid_sim per cell — falling mean
    similarity across appends is the drift signal that the codebook no
    longer fits the data and a rebuild is due."""
    vec_col = _detect_vec_col(spark, path)
    stored = _stored_stamp(
        spark,
        path,
        vec_col,
        centroids,
        "similarity against foreign centroids is not the stored assignment's "
        "geometry",
    )
    idx = spark.read.parquet(path)
    k = int(stored.get("ivf_k") or 0)

    aggs = [F.count(F.lit(1)).cast("long").alias("n_vectors")]
    if centroids is not None:
        # one F.expr parse — the Column-API loop costs ~6 py4j lambda
        # registrations per centroid (see similarity._cosine_array)
        from docling_jobkit_spark.operators.similarity import _cosine_array

        sim_arr = _cosine_array([list(map(float, c)) for c in centroids], vec_col)
        own = F.when(
            F.col("ivf_cell") >= 0, F.element_at(sim_arr, F.col("ivf_cell") + 1)
        )
        idx = idx.withColumn("_own_sim", own)
        aggs += [
            F.round(F.avg("_own_sim"), 6).alias("mean_centroid_sim"),
            F.round(F.min("_own_sim"), 6).alias("min_centroid_sim"),
        ]

    per_cell = idx.groupBy("ivf_cell").agg(*aggs)
    # the window runs over the ≤k+1 per-cell rows, never the corpus
    total = F.sum("n_vectors").over(Window.partitionBy())
    uniform = 1.0 / max(k, 1)
    return (
        per_cell.withColumn(
            "share", F.round(F.col("n_vectors") / total, 6)
        )
        .withColumn(
            "hot",
            (F.col("ivf_cell") >= 0)
            & (F.col("share") > F.lit(float(hot_factor) * uniform)),
        )
        .orderBy("ivf_cell")
    )
