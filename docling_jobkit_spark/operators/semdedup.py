"""SemDeDup: semantic deduplication over an embedding column.

Public precedent: SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
deduplicates web-scale training corpora by (1) k-means clustering the
embeddings, (2) computing pairwise cosine similarity WITHIN each
cluster only, and (3) dropping every example whose similarity to an
earlier-ranked example in its cluster exceeds a threshold ``tau`` —
keeping, per the paper's ablation, the examples with LOW similarity to
the cluster centroid (they carry the most marginal information). The
reference repo (docling-jobkit) has no semantic-dedup stage; this is
part of the training-data-pipeline surface the build brief adds.

Relational formulation (exact twin in tests/test_semdedup.py):

- cells come from ``similarity.ivf_assign`` (argmax of the 6-rounded
  cosine against literal centroids — same engine-reproducible rule the
  IVF family uses);
- rank within a cell = row_number ordered by (centroid_sim ASC, id ASC)
  — ascending centroid similarity implements the paper's keep-rule:
  the farthest-from-centroid example of any duplicate group survives;
- drop(d) ⇔ ∃ e in cell(d) with rank(e) < rank(d) and
  round(cos(d,e),6) ≥ tau — exactly the official implementation's
  upper-triangular max-over-earlier-rows test, vectorized as one
  equi-self-join on the cell id.

Scale design (100 TB): the pairwise stage is quadratic PER CLUSTER by
construction — that is the algorithm, and its knob is k (the paper runs
k≈√n so clusters stay ~√n-sized). Nothing else is quadratic: the
self-join is an equi-join on (ivf_cell, salt), and the only payload
that shuffles is (id, vector, rank) keyed by cell. The verdict
join-back is hash-only (id, max_prior_sim). For corpora where even n/k
vectors per cell won't fit a join side, assign cells with
``with_ivf_cells`` and ``partitionBy("ivf_cell")`` first
(sinks/writers.py) so each cell is its own co-located file group and
the self-join never crosses cells.

Parallelism (measured on this build): the pair stage's cost is the
per-pair interpreted cosine, NOT the join itself, and a plain
``join(on="ivf_cell")`` spreads that cost at most k ways under a
shuffle join — and only as wide as the streamed side's partitioning
under a broadcast join (a single-row-group scan → ONE task doing every
cosine; measured 11 s serial vs ~1 s spread at sf0.1). Two guards fix
both regimes without touching semantics:

- the probe (left) side replicates each row across ``n_salts`` salt
  values while the build (right) side takes ONE deterministic salt
  (``xxhash64(id) % n_salts``), so every (l, r) pair still matches
  exactly once but a shuffle join fans each cell out n_salts ways —
  the standard skew-salting remedy for small-k clusterings;
- the exploded probe side is then ``spread_for_compute``-repartitioned
  (round-robin, no-op when already wide), so a broadcast join's
  streamed side — which inherits the scan layout — carries the cosine
  work on every core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import lit_longs, single_eval

from docling_jobkit_spark.operators.dedup import spread_for_compute
from docling_jobkit_spark.operators.similarity import ivf_assign


def with_semdedup_rank(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a cell and its SemDeDup rank inside the cell.

    centroid_sim is the 6-rounded cosine to the OWN cell's centroid
    (engine-reproducible, same rounding discipline as ivf_assign);
    rank 1 = farthest from centroid = highest keep priority."""
    # the k-cosine assignment + own-sim projection are interpreted
    # per-row expression chains — spread before computing (no-op on
    # already-wide scans, repo invariant for single-row-group testdata).
    # Same argmax/tie rule and the same rounded values as ivf_assign by
    # construction.
    from docling_jobkit_spark.operators.similarity import _cosine_array

    sp = spread_for_compute(df)
    out_cols = sp.columns
    # one cosine array feeds the cell argmax, the own-cell sim and the rank window
    inner = sp.select("*", single_eval(_cosine_array(centroids, vec_col)).alias("_ca"))
    cell = F.coalesce(
        (F.array_position(F.col("_ca"), F.array_max(F.col("_ca"))) - 1).cast(
            "int"
        ),
        F.lit(-1),
    )
    # element_at is 1-indexed; cell -1 (null/empty vector) gets null sim
    ranked = inner.select(
        *out_cols,
        cell.alias("ivf_cell"),
        F.when(cell >= 0, F.element_at(F.col("_ca"), cell + 1)).alias(
            "centroid_sim"
        ),
    )
    w = Window.partitionBy("ivf_cell").orderBy(
        F.col("centroid_sim").asc_nulls_last(), F.col(id_col).asc()
    )
    return ranked.withColumn("sem_rank", F.row_number().over(w))


def semantic_duplicates(
    df: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_salts: int = 8,
) -> DataFrame:
    """Per-vector SemDeDup verdict: one row per input vector with
    (id, ivf_cell, centroid_sim, sem_rank, max_prior_sim, keep).

    keep = false ⇔ some LOWER-ranked vector in the same cell has
    round(cosine, 6) ≥ tau. max_prior_sim reports the strongest such
    neighbor (null when none ≥ tau) so callers can audit the decision
    or re-threshold without recomputing pairs.

    n_salts widens the per-cell pair fan-out (module docstring,
    "Parallelism") — every (l, r) pair still matches exactly once, so
    the verdict is salt-invariant (test-pinned); 1 disables."""
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    ranked = with_semdedup_rank(df, centroids, id_col=id_col, vec_col=vec_col)
    # multi-consumer intermediate (pairs self-join + verdict join-back):
    # materialize once — repo invariant, lineage otherwise recomputes the
    # k-cosine assignment per consumer
    ranked = ranked.localCheckpoint(eager=False)
    # per-ROW norm, computed once per side instead of once per PAIR:
    # cosine_col re-derives both 64-wide norm folds inside every pair —
    # 3× the flops of the dot — and the interpreted chain is
    # CodegenFallback, so nothing dedupes it. _nrm is the identical
    # SQRT(aggregate(...)) value, so dot/(_nrm_l·_nrm_r) multiplies the
    # same two doubles in the same order — every float unchanged
    # (A/B-collected, verdicts byte-identical).
    from docling_jobkit_spark.operators.similarity import _dot, _norm

    slim = ranked.where(F.col("ivf_cell") >= 0).select(
        F.col("ivf_cell"),
        F.col(id_col),
        F.col(vec_col),
        F.col("sem_rank"),
        _norm(F.col(vec_col)).alias("_nrm"),
    )
    salts = lit_longs(range(n_salts))
    left = spread_for_compute(
        slim.select(
            F.col("ivf_cell"),
            F.col("sem_rank").alias("_rank_l"),
            F.col(vec_col).alias("_vec_l"),
            F.col("_nrm").alias("_nrm_l"),
            F.explode(salts).alias("_salt"),
        )
    )
    right = slim.select(
        F.col("ivf_cell"),
        F.col(id_col).alias("_id_r"),
        F.col("sem_rank").alias("_rank_r"),
        F.col(vec_col).alias("_vec_r"),
        F.col("_nrm").alias("_nrm_r"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int").alias("_salt"),
    )
    sim = F.round(
        _dot(F.col("_vec_l"), F.col("_vec_r"))
        / (F.col("_nrm_l") * F.col("_nrm_r")),
        6,
    )
    pairs = (
        left.join(right, ["ivf_cell", "_salt"])
        .where(F.col("_rank_l") < F.col("_rank_r"))
        # one dot fold per pair: the tau filter would re-inline it
        .select(F.col("_id_r"), single_eval(sim).alias("_sim"))
        .where(F.col("_sim") >= F.lit(float(tau)))
    )
    hit = pairs.groupBy("_id_r").agg(F.max("_sim").alias("max_prior_sim"))
    return (
        ranked.join(hit, ranked[id_col] == hit["_id_r"], "left")
        .drop("_id_r")
        .withColumn("keep", F.col("max_prior_sim").isNull())
        .select(
            id_col, "ivf_cell", "centroid_sim", "sem_rank", "max_prior_sim", "keep"
        )
    )


def semantic_dedup_summary(verdicts: DataFrame) -> DataFrame:
    """Per-cell dataset-card rollup of the SemDeDup verdicts: kept /
    dropped counts and the mean strongest-duplicate similarity."""
    return (
        verdicts.groupBy("ivf_cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.col("keep").cast("int")).cast("long").alias("n_kept"),
            F.sum((~F.col("keep")).cast("int")).cast("long").alias("n_dropped"),
            F.round(F.avg("max_prior_sim"), 6).alias("mean_dup_sim"),
        )
        .orderBy("ivf_cell")
    )
