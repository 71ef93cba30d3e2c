"""Persisted MinHash band index + incremental cross-snapshot near-dup.

The at-scale fuzzy-dedup posture for a ROLLING corpus (monthly crawl
snapshots, incremental ingestion): the accumulated history's MinHash
signatures are computed ONCE and persisted as a band-partitioned
parquet index; each new snapshot is signed once, probed against the
index, and appended. Nothing about the history is ever recomputed —
at snapshot N the probe costs O(|new|) signature work plus one join,
instead of the O(|1..N|) full-corpus re-dedup a stateless pipeline
pays every month.

Reference parity: docling-jobkit has no fuzzy index, but its task-
result caching (reference docling_jobkit/connectors keyed result
stores) embodies the same never-recompute-history posture; this is
that idea applied to MinHash/LSH dedup (Broder 1997; the standard
filter-and-verify banding as in dedup.py).

Design (Spark-first):

- The index IS a DataFrame: ``(band, bucket, id, sig)`` — one row per
  (doc, band), written ``partitionBy("band")`` so the on-disk layout
  matches the join key's first component and per-band files stay
  bounded. Buckets are uniform sha256 keys: the probe join has no skew
  by construction.
- **Family identity is stamped in column metadata** (the IVF-codebook
  pattern, similarity.py): signatures from a different permutation
  family or shingle width would silently NEVER match — agreement would
  read 0/64 and every probe would come back clean. ``read_minhash_
  index`` refuses to serve an index whose stamped family digest
  differs from the library's current family. The stamp rides the
  ``bucket`` and ``sig`` columns, not the partition column: partition
  columns drop field metadata on read-back (lesson recorded on the
  IVF layout).
- **The probe never shuffles the index** when ``broadcast_new=True``:
  the new snapshot's banded signatures broadcast and the index side is
  a map-side scan → join (plan-pinned in tests). That is the steady-
  state shape — a monthly delta is small next to years of history.
  With ``broadcast_new=False`` (a backfill-sized "new" side) the join
  degrades to a shuffled equi-join on the uniform (band, bucket) key.
- **Probe BEFORE append**: ``update_minhash_index`` appends the new
  snapshot's rows into the same layout; probing after appending would
  report every new doc as a duplicate of itself.

Verification here is the ESTIMATED Jaccard (exact integer channel
agreement over the two 64-long signature arrays riding the join, same
integer-threshold rule as decontam.contamination_fuzzy) — by design:
the index stores signatures only, because at scale the history's TEXT
is gone (archived, or owned by a previous pipeline stage). Callers
that still hold both texts and need exact Jaccard should use
dedup.minhash_near_duplicates on the union instead.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import single_eval
from docling_jobkit_spark.functions.stamp import check_stamp, read_stamp, stamp
from docling_jobkit_spark.operators.dedup import (
    _BASE_BITS,
    _BUCKET_BITS,
    _PERMS,
    BANDS,
    MINHASH_PRIME,
    N_HASHES,
    _minhash_bands,
    spread_for_compute,
)

FAMILY_META_KEY = "minhash_family"
_SHINGLE_K = 3  # word_shingles default — part of the family identity


def minhash_family_digest() -> str:
    """16-hex digest of everything the signature bits and the persisted
    bucket keys depend on: the permutation constants, channel/band
    counts, base-hash width, the prime, the shingle width, and the
    bucket encoding. Two indexes agree on this digest iff their rows
    are bit-comparable."""
    canon = "|".join(
        [
            f"n={N_HASHES}",
            f"bands={BANDS}",
            f"base_bits={_BASE_BITS}",
            f"p={MINHASH_PRIME}",
            f"k={_SHINGLE_K}",
            f"bucket=sha256/{_BUCKET_BITS}",
            ",".join(f"{a}:{c}:{b}" for a, c, b in _PERMS),
        ]
    )
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def banded_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(band, bucket, id, sig) for every doc with a non-empty shingle
    set — the index row shape (``dedup._minhash_bands``: sub-k-token
    docs are dropped, the bucket is the 60-bit sha prefix of the band
    slice, a LONG — the index is a PERSISTED artifact and the bucket is
    its dominant column)."""
    return _minhash_bands(spread_for_compute(df), text_col, id_col)[1]


def _stamped(banded: DataFrame) -> DataFrame:
    meta = {FAMILY_META_KEY: minhash_family_digest()}
    return banded.withColumn("bucket", stamp("bucket", meta)).withColumn(
        "sig", stamp("sig", meta)
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
    banded: DataFrame | None = None,
) -> None:
    """Persist the banded signatures of ``df`` as the band-partitioned
    parquet index, family digest stamped on the bucket+sig columns.

    ``banded`` lets a caller that has ALREADY signed these docs (the
    ingest loop signs the delta once for the probe) write those rows
    verbatim instead of re-running the signature fold — signing is the
    dominant per-doc cost of the family. Must be this module's
    ``banded_signatures`` shape for the SAME family (it is re-stamped
    here, so a foreign frame would be mis-labeled: pass only frames
    produced by this module in this process).

    The rows are GROUPED BY BAND before the dynamic-partition write:
    from p input partitions the writer otherwise instantiates p × 16
    parquet writers (each band appears in every task), and writer init
    — schema conversion, codec, column writers, footer — dominates the
    write at 512 files (measured at sf0.1: 22.6 warm CPU-s vs 3.3
    grouped; dropping the sig column barely moved it, so it is file
    count, not data volume). The shuffle key is (band, hash(bucket) %
    k) with k sized from shuffle.partitions — one band never collapses
    to a single task at corpus scale, and each task holds ~one group
    so file count tracks the shuffle width, not width × 16."""
    rows = banded if banded is not None else banded_signatures(df, text_col, id_col)
    n = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    salt = F.pmod(F.hash("bucket"), F.lit(max(1, n // BANDS)))
    grouped = rows.repartition(n, F.col("band"), salt)
    _stamped(grouped).write.mode(mode).partitionBy("band").parquet(path)


def update_minhash_index(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> None:
    """Incremental maintenance: append a new snapshot's banded
    signatures into an existing index (same layout, same stamp).
    Probe the snapshot FIRST — after the append it matches itself."""
    write_minhash_index(df, path, text_col, id_col, mode="append")


def read_minhash_index(
    spark: SparkSession,
    path: str | list[str],
    base_path: str | None = None,
) -> DataFrame:
    """Read an index back, verifying the stamped family digest against
    the library's current family. A silent mismatch is the failure
    mode that matters: foreign signatures never agree, so every probe
    would return 'no duplicates' and look perfectly healthy.

    ``path`` may be a LIST of delta directories (the ingest plan keeps
    one per committed batch so a replay can probe exactly the history
    that excludes itself); pass ``base_path`` = the index root so the
    partition columns above the listed leaves survive discovery."""
    paths = [path] if isinstance(path, str) else list(path)
    if not paths:
        raise ValueError("read_minhash_index needs at least one path")
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    idx = reader.parquet(*paths)
    fields = {f.name: f for f in idx.schema.fields}
    for col in ("bucket", "sig"):
        if col not in fields:
            raise ValueError(f"not a minhash index (missing '{col}'): {path}")
    stored = read_stamp(idx, ["sig", "bucket"], [FAMILY_META_KEY])
    current = minhash_family_digest()
    check_stamp(
        stored,
        {FAMILY_META_KEY: current},
        required=True,
        missing=f"minhash index at {path} carries no '{FAMILY_META_KEY}' stamp; "
        "refusing to probe signatures of unknown provenance",
        mismatch=f"minhash family mismatch: index={stored.get(FAMILY_META_KEY)} "
        f"current={current} — signatures are not bit-comparable; rebuild the index",
    )
    return idx


def _agreeing_pairs(
    probe: DataFrame,
    target: DataFrame,
    tau: float,
    probe_id: str,
    target_id: str,
    broadcast_probe: bool,
) -> DataFrame:
    """The one band-join → agreement verify over two banded-signature
    frames: ``(probe_id, target_id, n_agree, est_jaccard)`` for every pair
    sharing an LSH band with signature agreement ≥ ceil(tau·64) channels
    (integer compare — no float threshold ambiguity). With
    ``broadcast_probe`` the probe's bands broadcast and the target scan
    never shuffles; otherwise it is a shuffled equi-join on the uniform
    (band, bucket) key. The verify is a zip_with over the two 64-long
    arrays already riding the join — document text never moves."""
    if not (0.0 < tau <= 1.0):
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    min_agree = int(math.ceil(N_HASHES * tau - 1e-9))
    probe = probe.select(
        F.col("band"),
        F.col("bucket"),
        F.col("id").alias(probe_id),
        F.col("sig").alias("_s_new"),
    )
    if broadcast_probe:
        probe = F.broadcast(probe)
    target = target.select(
        "band", "bucket", F.col("id").alias(target_id), F.col("sig").alias("_s_idx")
    )
    n_agree = F.size(
        F.filter(F.zip_with("_s_new", "_s_idx", lambda a, b: a == b), lambda x: x)
    )
    # one agreement fold per pair: the min_agree filter would re-inline it
    return (
        target.join(probe, on=["band", "bucket"])
        .select(probe_id, target_id, single_eval(n_agree.cast("int")).alias("n_agree"))
        .where(F.col("n_agree") >= min_agree)
        .distinct()
        .select(
            probe_id,
            target_id,
            "n_agree",
            F.round(F.col("n_agree") / F.lit(N_HASHES), 6).alias("est_jaccard"),
        )
    )


def _per_doc(
    docs: DataFrame, id_col: str, pairs: DataFrame, hits: str, flag: str
) -> DataFrame:
    """Per-doc rollup of agreeing ``pairs`` keyed by ``doc_id``: (doc_id,
    <hits>, max_est_jaccard, <flag>) — one row per doc of ``docs``, docs
    without a pair included (``flag`` false, ``hits`` 0)."""
    per_doc = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias(hits),
        F.max("est_jaccard").alias("max_est_jaccard"),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(hits, F.lit(0)).alias(hits),
            "max_est_jaccard",
            F.col(hits).isNotNull().alias(flag),
        )
    )


def near_dup_pairs_against_index(
    new_df: DataFrame,
    index: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_new: bool = True,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, index_id, n_agree, est_jaccard) for every new doc ×
    indexed doc sharing an LSH band with signature agreement ≥
    ceil(tau·64) channels (``_agreeing_pairs``). ``broadcast_new=True``
    is the steady-state plan: the delta's bands broadcast, the index
    scan never shuffles. ``new_banded`` (this module's
    ``banded_signatures`` output for ``new_df``) skips re-signing when
    the caller already holds it."""
    if new_banded is None:
        new_banded = banded_signatures(new_df, text_col, id_col)
    return _agreeing_pairs(new_banded, index, tau, "doc_id", "index_id", broadcast_new)


def dedup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    tau: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_new: bool = True,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Per-new-doc rollup against the persisted index: (doc_id,
    n_index_hits, max_est_jaccard, is_dup) — one row per new doc,
    clean docs included (the keep set is ``where not is_dup``)."""
    pairs = near_dup_pairs_against_index(
        new_df, index, tau, text_col, id_col, broadcast_new, new_banded
    )
    return _per_doc(new_df, id_col, pairs, "n_index_hits", "is_dup")
