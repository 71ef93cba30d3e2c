"""Relational Bloom filter — the crawl-frontier / resume seen-set.

Public precedent: Bloom 1970; every large crawler keeps a compact
"have I seen this url" membership sketch rather than joining the full
frontier history each cycle (the repo's checkpoint anti-join is the
exact counterpart; the bloom is its constant-space approximate twin for
the 100 TB frontier where even the key anti-join is a heavy shuffle).
Guarantee: NO false negatives — a miss is definitely unseen and safe to
process; a hit is "maybe seen" and falls back to the exact path.

Spark-first formulation — the filter IS a DataFrame:

- build: explode each key into its k sha-derived bit positions, pack
  into 62-bit words via ``bit_or`` aggregation → a (word_idx, bits)
  relation of at most n_bits/62 rows. One narrow shuffle with map-side
  partial OR-combine; persistable as parquet like any other dim.
- probe: explode candidates into the same positions, broadcast-join the
  word relation, a candidate is "maybe seen" iff EVERY position's bit
  is set. No corpus shuffle — candidates only carry (id, word, mask).
- 62-bit packing (not 64) keeps every mask positive, so the identical
  integer arithmetic runs in DuckDB (tests/test_bloom.py) and any other
  engine without signed-shift edge cases.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import stable_hash64

N_BITS_DEFAULT = 1 << 20
K_HASHES_DEFAULT = 5
_WORD = 62  # bits packed per long; <= 62 keeps 1<<bit positive everywhere


def bloom_positions(
    c: Column, n_bits: int, k_hashes: int
) -> Column:
    """Array of the key's k bit positions: independent sha channels via
    a per-channel salt, each mod n_bits."""
    return F.array(
        *[
            F.pmod(
                stable_hash64(
                    F.concat(F.lit(f"bloom{i}|"), c.cast("string"))
                ),
                F.lit(n_bits),
            )
            for i in range(k_hashes)
        ]
    )


def bloom_word() -> tuple[Column, Column]:
    """(word_idx, _mask) for a bit position column ``_pos``: the packed
    long the bit lands in and its one-bit mask within that long."""
    return (
        F.expr(f"_pos div {_WORD}").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, {_WORD}) AS INT))").alias(
            "_mask"
        ),
    )


def build_bloom(
    df: DataFrame,
    key_col: str = "url",
    n_bits: int = N_BITS_DEFAULT,
    k_hashes: int = K_HASHES_DEFAULT,
) -> DataFrame:
    """(word_idx, bits) — the packed filter, <= ceil(n_bits/62) rows."""
    pos = df.select(
        F.explode(bloom_positions(F.col(key_col), n_bits, k_hashes)).alias("_pos")
    )
    return (
        pos.select(*bloom_word()).groupBy("word_idx").agg(F.bit_or("_mask").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "url",
    n_bits: int = N_BITS_DEFAULT,
    k_hashes: int = K_HASHES_DEFAULT,
) -> DataFrame:
    """Stamp ``bloom_maybe_seen`` on every input row. False hits are
    possible (rate set by n_bits/k vs build cardinality); false misses
    are not — a False is safe to treat as definitely-new."""
    probes = df.select(
        F.col(key_col).alias("_k"),
        F.explode(bloom_positions(F.col(key_col), n_bits, k_hashes)).alias(
            "_pos"
        ),
    ).select("_k", *bloom_word())
    hit = (
        probes.join(F.broadcast(bloom), on="word_idx", how="left")
        .select(
            "_k",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("_mask"))
                == F.col("_mask")
            )
            .cast("int")
            .alias("_hit"),
        )
        .groupBy("_k")
        .agg((F.min("_hit") == 1).alias("bloom_maybe_seen"))
    )
    return df.join(
        hit.select(F.col("_k").alias(key_col), "bloom_maybe_seen"),
        on=key_col,
        how="left",
    )
