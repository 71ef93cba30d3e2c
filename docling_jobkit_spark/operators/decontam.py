"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene op (GPT-3 appendix C / PaLM / Llama
de-duplication against eval sets): any training doc containing a k-gram
that also appears in a benchmark text is contaminated and must be
dropped or scrubbed before training.

Spark-first shape, two regimes:

- **Broadcast regime** (default; benchmark = thousands-to-millions of
  samples): the benchmark reduces to its DISTINCT k-gram hashes — a
  small table — broadcast to every executor. The corpus side is then
  scan -> explode(k-gram hashes) -> broadcast semi-join -> groupBy(doc).
  The corpus never shuffles its text; the only corpus-wide shuffle
  carries (doc_id, matched-hash) pairs AFTER the semi-join, i.e. only
  the contaminated slice.
- **Shuffle regime** (``broadcast_benchmark=False``; benchmark too big
  to broadcast): same plan but a shuffled semi-join on the uniform
  56-bit gram hash — no skew by construction.

Hashes use the cross-engine ``stable_hash64`` (sha256-prefix) so the
DuckDB oracle reproduces the decision bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import single_eval, stable_hash64, tokens


def kgram_hashes(text_col, k: int) -> Column:
    """DISTINCT k-gram 56-bit hashes of the lowercased token stream;
    empty array for docs with < k tokens (mirrors word_shingles)."""
    toks = tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: stable_hash64(F.concat_ws(" ", F.slice(toks, i, k))),
    )
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.expr("CAST(array() AS array<long>)")
    )


def benchmark_gram_set(
    benchmark: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """The benchmark's distinct k-gram hashes — one narrow long column,
    the unit that gets broadcast (or shuffled) against the corpus."""
    return (
        benchmark.select(F.explode(kgram_hashes(text_col, k)).alias("bench_gram"))
        .distinct()
    )


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    broadcast_benchmark: bool = True,
    spread: bool = True,
) -> DataFrame:
    """Per-document contamination stats against a benchmark set.

    Returns one row per corpus doc: (id_col, n_grams — distinct k-grams
    in the doc, n_matched — how many of them appear anywhere in the
    benchmark, contaminated — n_matched > 0). Docs with < k tokens have
    n_grams = 0 and are clean by definition.

    ``spread=False``: see dedup.minhash_near_duplicates — skip the
    parallelism guard when the caller's input is already a wide
    checkpointed frame the guard would redundantly re-shuffle.
    """
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    bench = benchmark_gram_set(benchmark, text_col, k)
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    if spread:
        df = spread_for_compute(df, key=id_col)
    doc_grams = df.select(
        F.col(id_col), F.explode_outer(kgram_hashes(text_col, k)).alias("gram")
    )
    matched = doc_grams.join(
        bench, doc_grams["gram"] == bench["bench_gram"], "left"
    )
    return matched.groupBy(id_col).agg(
        F.count("gram").cast("int").alias("n_grams"),
        F.count("bench_gram").cast("int").alias("n_matched"),
        (F.count("bench_gram") > 0).alias("contaminated"),
    )


# --- fuzzy (MinHash/LSH) decontamination ------------------------------------
# Public precedent: exact k-gram overlap (above) misses lightly edited
# benchmark copies; Llama 2 (Touvron et al. 2023, arXiv:2307.09288, A.6)
# and the GPT-4 report decontaminate FUZZILY — flag a training document
# when its estimated similarity to any eval sample crosses a threshold.
# This variant estimates Jaccard from MinHash signature agreement
# (Broder 1997), reusing dedup.py's bit-exact 64-permutation signatures
# and r=4/b=16 LSH banding.


def _banded(sig: DataFrame, id_alias: str, sig_alias: str) -> DataFrame:
    """(id, sig) → (band, bucket, id, sig) — dedup.py's exact banding
    (sha256 of the JSON band slice), one row per band."""
    from docling_jobkit_spark.operators.dedup import BANDS, ROWS_PER_BAND

    return sig.select(
        F.col("id").alias(id_alias),
        F.col("sig").alias(sig_alias),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.sha2(
                    F.to_json(
                        F.slice("sig", b * ROWS_PER_BAND + 1, ROWS_PER_BAND)
                    ),
                    256,
                ),
            )
        ).alias("band", "bucket"),
    )


def _sigs(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Materialized (id, sig) — empty-shingle docs dropped (all-empty
    signatures are identical and would band-collide quadratically;
    they cannot be fuzzy-contaminated). Filter sits ABOVE the
    materialization (repo invariant: a pushed-down predicate re-inlines
    the shingle chain)."""
    from docling_jobkit_spark.operators.dedup import (
        _materialize,
        minhash_signature_from_shingles,
        spread_for_compute,
        word_shingles,
    )

    sh = _materialize(
        spread_for_compute(df).select(
            F.col(id_col).alias("id"), word_shingles(text_col).alias("sh")
        )
    ).filter(F.size("sh") > 0)
    # one signature fold per doc, not one per band slice
    sig = minhash_signature_from_shingles("sh")
    return sh.select("id", single_eval(sig).alias("sig"))


def contamination_fuzzy_pairs(
    df: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """(doc_id, bench_id, n_agree, est_jaccard) for every corpus doc ×
    benchmark sample that shares an LSH band AND whose signature
    agreement fraction is ≥ tau (integer compare: n_agree ≥
    ceil(tau · 64) — no float threshold ambiguity).

    Scale shape: the benchmark's banded signatures broadcast (eval sets
    are thousands of rows; ``broadcast_benchmark=False`` falls back to a
    shuffled equi-join on the uniform sha bucket), so the corpus side is
    scan → signature → map-side band join. Candidate pairs are
    LSH-bounded; the verify is a zip_with over the two 64-long arrays
    already riding the join — document text never moves."""
    import math as _math

    from docling_jobkit_spark.operators.dedup import N_HASHES

    if not (0.0 < tau <= 1.0):
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    min_agree = int(_math.ceil(N_HASHES * tau - 1e-9))
    corpus = _banded(_sigs(df, text_col, id_col), "doc_id", "_sc")
    bench = _banded(
        _sigs(benchmark, bench_text_col or text_col, bench_id_col),
        "bench_id",
        "_sb",
    )
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    n_agree = F.size(
        F.filter(
            F.zip_with("_sc", "_sb", lambda a, b: a == b), lambda x: x
        )
    )
    # one agreement fold per pair: the min_agree filter would re-inline it
    return (
        corpus.join(bench, on=["band", "bucket"])
        .select("doc_id", "bench_id", single_eval(n_agree.cast("int")).alias("n_agree"))
        .where(F.col("n_agree") >= min_agree)
        .distinct()
        .select(
            "doc_id",
            "bench_id",
            "n_agree",
            F.round(F.col("n_agree") / F.lit(N_HASHES), 6).alias(
                "est_jaccard"
            ),
        )
    )


def contamination_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-doc rollup: (id, n_bench_hits, max_est_jaccard, contaminated)
    — one row per corpus doc, clean docs included (the droppable set is
    ``where contaminated``)."""
    pairs = contamination_fuzzy_pairs(
        df,
        benchmark,
        tau,
        text_col,
        id_col,
        bench_id_col,
        bench_text_col,
        broadcast_benchmark,
    )
    per_doc = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_bench_hits"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_bench_hits", F.lit(0)).alias("n_bench_hits"),
            "max_est_jaccard",
            F.col("n_bench_hits").isNotNull().alias("contaminated"),
        )
    )
