"""Exact substring deduplication at token-window granularity.

Public precedent: Lee et al. 2021 (arXiv:2107.06499, "Deduplicating
Training Data Makes Language Models Better") — ExactSubstr: remove all
but one occurrence of any >= k-token span repeated anywhere in the
corpus. Their implementation is a single-node suffix array; the
relational re-expression is rolling k-token windows:

- every length-k token window is hashed; a window hash occurring more
  than once corpus-wide marks the token range of every occurrence
  EXCEPT the first (smallest (id, start));
- per doc, marked ranges merge (classic cummax interval merge) and the
  surviving tokens re-join into the cleaned text.

This completes the dedup family ladder: exact doc (sha), near-doc
(MinHash/SimHash/Jaccard), line-span (C4), paragraph (segment_dup) —
and now exact sub-document spans.

Engineering shape (100 TB):

- per-token 31-bit sha-derived hashes are computed ONCE per doc and the
  narrow (id, tokens, h1[], h2[]) relation is MATERIALIZED
  (localCheckpoint — repo invariant: multi-consumer lineage re-runs the
  chain per consumer, and the window transform would otherwise re-hash
  the whole doc per window: O(n^2) sha);
- window hashes are a two-channel polynomial fold over the PRECOMPUTED
  hash arrays — O(k) long-ops per window, no sha in the window loop;
  the two 31-bit channels pack into one 62-bit key (single-channel
  31-bit would collide corpus-wide at scale);
- only (id, start, h62) rows shuffle (occurrence window), then
  (id, start, end) ints (interval merge); the payload joins the
  DUPLICATION-BOUNDED merged-interval side last (empty for a clean
  corpus, AQE-broadcastable in the common case);
- everything is engine-exact: sha-derived token hashes, modular integer
  polynomials, integer interval arithmetic — the DuckDB twin in
  tests/test_substring_dedup.py reproduces the pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import single_eval, stable_hash64, tokens

K_DEFAULT = 20
# two independent Karp-Rabin channels: 31-bit primes + odd bases; all
# intermediates stay < 2^62 (ANSI-safe long arithmetic)
_P1, _B1 = 2147483647, 1000003
_P2, _B2 = 2147483629, 999979


def _tok31(c: Column, salt: str, p: int) -> Column:
    """Per-token 31-bit hash: 32-bit sha prefix mod a 31-bit prime."""
    return F.pmod(stable_hash64(F.concat(F.lit(salt), c), 32), F.lit(p))


def _tok31_pair(c: Column) -> Column:
    """Both channel hashes from ONE sha per token: the 56-bit prefix
    splits 28/28 and each half reduces mod its channel prime. Channel
    values differ from the two-sha ``_tok31`` family, but the OUTPUT of
    the dedup is hash-family-independent: a window key matches iff the
    token sequences match (two distinct tokens would need a full 56-bit
    prefix collision to alias both channels — ~vocab²/2⁵⁶, negligible),
    and the DuckDB twin (which keeps its own hashes) pins exactly that
    output equality. Halves the sha cost of the base projection."""
    h = stable_hash64(c, 56)
    return F.struct(
        F.pmod(F.shiftrightunsigned(h, 28), F.lit(_P1)).alias("h1"),
        F.pmod(h.bitwiseAND(F.lit((1 << 28) - 1)), F.lit(_P2)).alias("h2"),
    )


def _poly(arr: Column, start: Column, k: int, b: int, p: int) -> Column:
    """Polynomial fold of arr[start .. start+k-1] mod p (acc starts at
    0, so the result equals DuckDB's list_reduce over the same slice)."""
    return F.aggregate(
        F.slice(arr, start, k),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(b) + x, F.lit(p)),
    )


def _poly_field(
    pairs: Column, field: str, start: Column, k: int, b: int, p: int
) -> Column:
    """``_poly`` over one channel of the (h1, h2) pair array."""
    return F.aggregate(
        F.slice(pairs, start, k),
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * F.lit(b) + x[field], F.lit(p)),
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = K_DEFAULT,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per input doc: (id, n_tokens, n_removed_tokens,
    clean_text) — tokens covered by any duplicated k-window occurrence
    other than the corpus-first one are removed; survivors re-join with
    single spaces. Docs with < k tokens are never marked. Whitespace is
    normalized by construction (tokenization is whitespace-split)."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    # the tokenize + per-token hash transforms below are the cost —
    # spread a single-split scan before paying them (no-op at scale).
    # One sha per token (_tok31_pair) supplies both channels.
    df = spread_for_compute(df)
    toked = df.select(
        F.col(id_col).alias("_id"),
        # one tokenizer run, read by the passthrough and the hash transform
        single_eval(tokens(F.col(text_col))).alias("_toks"),
    )
    base = toked.select(
        "_id",
        "_toks",
        F.transform(F.col("_toks"), _tok31_pair).alias("_hp"),
    ).localCheckpoint(eager=False)

    n = F.size(F.col("_toks"))
    m = n - (k - 1)
    wins = (
        base.where(m >= 1)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.struct(
                        i.alias("start"),
                        (
                            F.shiftleft(
                                _poly_field(F.col("_hp"), "h1", i, k, _B1, _P1),
                                31,
                            )
                            + _poly_field(F.col("_hp"), "h2", i, k, _B2, _P2)
                        ).alias("h"),
                    ),
                )
            ).alias("_w"),
        )
        .select("_id", F.col("_w.start").alias("start"), F.col("_w.h").alias("h"))
    )
    w = Window.partitionBy("h")
    occ = wins.select(
        "_id",
        "start",
        F.row_number()
        .over(w.orderBy(F.asc("_id"), F.asc("start")))
        .alias("_rk"),
        F.count(F.lit(1)).over(w).alias("_n_occ"),
    )
    marked = occ.where((F.col("_n_occ") > 1) & (F.col("_rk") > 1)).select(
        "_id", "start", (F.col("start") + (k - 1)).alias("end")
    )
    # cummax interval merge: a range starts a new group iff its start
    # exceeds the max end seen so far in this doc
    wd = Window.partitionBy("_id").orderBy("start")
    prev_max_end = F.max("end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = marked.select(
        "_id",
        "start",
        "end",
        F.sum(
            F.when(F.col("start") > prev_max_end, 1).otherwise(0)
        )
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_g"),
    )
    merged = grouped.groupBy("_id", "_g").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    drops = merged.groupBy("_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_iv"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("_nrm"),
    )
    out = base.join(drops, on="_id", how="left")
    kept = F.when(F.col("_iv").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda t, i: ~F.exists(
                F.col("_iv"),
                lambda iv: (i + 1 >= iv["s"]) & (i + 1 <= iv["e"]),
            ),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.size("_toks").cast("int").alias("n_tokens"),
        F.coalesce(F.col("_nrm"), F.lit(0)).cast("int").alias(
            "n_removed_tokens"
        ),
        F.array_join(kept, " ").alias("clean_text"),
    )
