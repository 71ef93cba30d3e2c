"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard pre-training hygiene op (GPT-3 appendix C / PaLM / Llama
de-duplication against eval sets): any training doc containing a k-gram
that also appears in a benchmark text is contaminated and must be
dropped or scrubbed before training.

Spark-first shape: a benchmark is thousands-to-millions of samples, so
it reduces to its DISTINCT k-gram hashes — a small table — broadcast to
every executor. The corpus side is then scan -> explode(k-gram hashes)
-> broadcast semi-join -> groupBy(doc). The corpus never shuffles its
text; the only corpus-wide shuffle carries (doc_id, matched-hash) pairs
AFTER the semi-join, i.e. only the contaminated slice. The fuzzy
variant below broadcasts the benchmark's banded signatures the same way.

Hashes use the cross-engine ``stable_hash64`` (sha256-prefix) so the
DuckDB oracle reproduces the decision bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import stable_hash64, tokens
from docling_jobkit_spark.operators.minhash_index import (
    _agreeing_pairs,
    _per_doc,
    banded_signatures,
)


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
    the unit that gets broadcast against the corpus."""
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

    bench = F.broadcast(benchmark_gram_set(benchmark, text_col, k))
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
# (Broder 1997), reusing the minhash index's bit-exact 64-permutation
# banded signatures (r=4/b=16) and its band-join probe.


def contamination_fuzzy_pairs(
    df: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """(doc_id, bench_id, n_agree, est_jaccard) for every corpus doc ×
    benchmark sample that shares an LSH band AND whose signature
    agreement fraction is ≥ tau (integer compare: n_agree ≥
    ceil(tau · 64) — no float threshold ambiguity).

    Scale shape: the benchmark's banded signatures broadcast (eval sets
    are thousands of rows), so the corpus side is
    scan → signature → map-side band join — the minhash index's probe
    (``minhash_index._agreeing_pairs``) with the benchmark as the probe.
    Document text never moves."""
    corpus = banded_signatures(df, text_col, id_col)
    bench = banded_signatures(benchmark, bench_text_col or text_col, bench_id_col)
    return _agreeing_pairs(bench, corpus, tau, "bench_id", "doc_id").select(
        "doc_id", "bench_id", "n_agree", "est_jaccard"
    )


def contamination_fuzzy(
    df: DataFrame,
    benchmark: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "doc_id",
    bench_text_col: str | None = None,
) -> DataFrame:
    """Per-doc rollup: (id, n_bench_hits, max_est_jaccard, contaminated)
    — one row per corpus doc, clean docs included (the droppable set is
    ``where contaminated``)."""
    pairs = contamination_fuzzy_pairs(
        df, benchmark, tau, text_col, id_col, bench_id_col, bench_text_col
    )
    return _per_doc(df, id_col, pairs, "n_bench_hits", "contaminated")
