"""File-level Bloom skipping index — point-predicate file pruning.

Zone maps (``operators/zonemap.py``) prune RANGE predicates from parquet
footer min/max. They are useless for point lookups on hash-distributed
columns (``content_hash``, ``doc_id``, ``url``): every file's min/max
spans essentially the whole domain, so nothing ever prunes. The standard
answer at scale — Parquet's column bloom filters, Delta/Iceberg file
skipping, and the reference's seen-set discipline applied to scan
planning — is a small per-file Bloom filter: ``col IN (v1..vn)`` skips
every file whose filter proves all probe values absent. False positives
only cost an extra file read; false negatives cannot happen.

Spark-first formulation — the index IS a relation, built by ONE
map-side-combined aggregation (no per-file driver loop, no collect of
data rows):

- build: scan the indexed columns with ``input_file_name()``, explode
  each value into its k sha-derived bit positions (the exact hash family
  of ``operators/bloom.py`` — ``sha256('bloom{i}|' || v)`` prefixes, 62
  bits packed per long so every mask stays positive in any engine), and
  ``groupBy(file, column, word_idx).bit_or(mask)``. The shuffle carries
  only (file, column, word, mask) — bounded by n_files × n_bits/62 rows
  regardless of data size. A sentinel row (word_idx = -1) marks every
  (file, column) actually indexed, so "indexed but no bits" (all-NULL
  column chunk) is distinguishable from "never indexed" — the
  conservative rule is the zone map's: a file is EXCLUDED only when its
  own filter proves every probe value absent; missing index entries
  never exclude.
- probe: probe values are a handful of literals, hashed DRIVER-side with
  the pure-Python twin of ``stable_hash64``; the per-file test folds the
  word→bits rows into a bounded map (≤ n_bits/62 entries) and evaluates
  the masks as one parsed codegen expression. The driver collects two
  FILE LISTS — the manifest summary (every indexed file with its
  stamp) and the excluded files — metadata-sized, the planner cost
  Iceberg pays reading manifests.
- geometry is data, not convention: every row carries (n_bits, k_hashes,
  family). A probe derives positions from the index's own stamp and
  RAISES on a mixed or foreign geometry — positions computed under the
  wrong geometry would silently never match (the ``minhash_index``
  stamp discipline, reference parity: docling_jobkit options-hash
  identity, ``docling_jobkit/model/task_meta.py``).

Sizing at 100 TB: n_bits ≈ 10× the expected distinct keys per file gives
~1% false-positive rate at k=5 (Bloom 1970); a 1M-row file costs ~1.25 MB
of index — the same order as Parquet's own bloom filters, stored once in
a manifest that compacts to a few hundred MB per million files.

Composes with zone maps: exclusion sets union (``prune_files_multi``'s
rule), so ``kept = all_files - zonemap_excluded - bloom_excluded``;
``scan_pruned_bloom`` takes an optional pre-kept file list for exactly
that intersection.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_jobkit_spark.checkpoint import exists
from docling_jobkit_spark.functions.scalar import empty_frame
from docling_jobkit_spark.operators.zonemap import _canon

N_BITS_DEFAULT = 1 << 13
K_HASHES_DEFAULT = 5
_WORD = 62  # bits per packed long; <= 62 keeps every mask positive everywhere
# identity of the position derivation below — a probe against an index
# stamped with anything else raises (foreign hash family would silently
# never match)
FAMILY = "sha256:14hex|salt=bloom{i}||word=62"

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("word_idx", T.LongType()),
        T.StructField("bits", T.LongType()),
        T.StructField("n_bits", T.LongType()),
        T.StructField("k_hashes", T.LongType()),
        T.StructField("family", T.StringType()),
    ]
)


def _py_positions(value: str, n_bits: int, k_hashes: int) -> list[int]:
    """Pure-Python twin of ``bloom.bloom_positions`` /
    ``scalar.stable_hash64`` (sha256 hex prefix, 14 hex chars = 56 bits):
    bit positions for one probe value. Equality with the Spark side is
    pinned in tests/test_bloom_index.py."""
    return [
        int(
            hashlib.sha256(f"bloom{i}|{value}".encode("utf-8")).hexdigest()[:14],
            16,
        )
        % n_bits
        for i in range(k_hashes)
    ]


def _value_words(value: str, n_bits: int, k_hashes: int) -> dict[int, int]:
    """word_idx -> combined mask for one probe value (positions sharing
    a word OR together)."""
    words: dict[int, int] = {}
    for pos in _py_positions(value, n_bits, k_hashes):
        words[pos // _WORD] = words.get(pos // _WORD, 0) | (1 << (pos % _WORD))
    return words


def _index_for_scan(
    df: DataFrame,
    cols: Sequence[str],
    n_bits: int,
    k_hashes: int,
) -> DataFrame:
    """(file, column, word_idx, bits, geometry) rows for a scan that
    already carries ``_file`` (canonical URI). One map-side-combined
    aggregation per column + the sentinel marker rows."""
    from docling_jobkit_spark.operators.bloom import bloom_positions

    parts = []
    for col in cols:
        pos = df.select(
            F.col("_file").alias("file"),
            F.explode(
                bloom_positions(F.col(col).cast("string"), n_bits, k_hashes)
            ).alias("_pos"),
        ).where(F.col("_pos").isNotNull())
        words = (
            pos.select(
                "file",
                F.expr(f"_pos div {_WORD}").alias("word_idx"),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, {_WORD}) AS INT))"
                ).alias("_mask"),
            )
            .groupBy("file", "word_idx")
            .agg(F.bit_or("_mask").alias("bits"))
        )
        # sentinel: every scanned file is INDEXED for this column even if
        # it set zero bits (all-NULL chunk) — exclusion needs this proof
        marker = df.select(F.col("_file").alias("file")).distinct().select(
            "file",
            F.lit(-1).cast("long").alias("word_idx"),
            F.lit(0).cast("long").alias("bits"),
        )
        parts.append(
            words.unionByName(marker).select(
                "file",
                F.lit(col).alias("column"),
                "word_idx",
                "bits",
                F.lit(n_bits).cast("long").alias("n_bits"),
                F.lit(k_hashes).cast("long").alias("k_hashes"),
                F.lit(FAMILY).alias("family"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_bloom_index(
    spark: SparkSession,
    table_path: str,
    cols: Sequence[str],
    n_bits: int = N_BITS_DEFAULT,
    k_hashes: int = K_HASHES_DEFAULT,
) -> DataFrame:
    """Per-file Bloom manifest for ``cols`` over every data file under
    ``table_path``. The build is a single distributed scan of the
    indexed columns (column-pruned — payload columns are never read)
    feeding one narrow aggregation; nothing data-sized reaches the
    driver."""
    cols = list(cols)
    if not cols:
        raise ValueError("cols must name at least one column")
    df = (
        spark.read.parquet(table_path)
        .select(*cols)
        .withColumn("_file", F.input_file_name())
    )
    return _index_for_scan(df, cols, n_bits, k_hashes)


def _summary(index: DataFrame) -> tuple[tuple[int, int] | None, set[str]]:
    """(geometry, indexed files) of a manifest from ONE metadata-sized
    collect of its distinct (file, stamp) rows: the geometry is the
    single (n_bits, k_hashes) stamp, or None for an empty manifest
    (fully expired: valid, but it stamps nothing). Raises on a mixed or
    foreign-family index."""
    rows = index.select("file", "n_bits", "k_hashes", "family").distinct().collect()
    geoms = {(r["n_bits"], r["k_hashes"], r["family"]) for r in rows}
    if not geoms:
        return None, set()
    if len(geoms) != 1:
        raise ValueError(
            f"bloom index mixes {len(geoms)} geometries — probe positions "
            "would be wrong for all but one; rebuild or split the index"
        )
    n_bits, k_hashes, family = geoms.pop()
    if family != FAMILY:
        raise ValueError(
            f"bloom index family {family!r} != this build's "
            f"{FAMILY!r} — positions from a foreign hash family never match"
        )
    return (int(n_bits), int(k_hashes)), {r["file"] for r in rows}


def _prune(
    index: DataFrame, col: str, values: Sequence[str]
) -> tuple[list[str], set[str]]:
    """(surviving files, every indexed file) for ``col IN (values)`` —
    the manifest summary plus ONE collect of the excluded files."""
    values = [str(v) for v in values]
    if not values:
        raise ValueError("values must be non-empty")
    geometry, files = _summary(index)
    if geometry is None:
        return [], files
    n_bits, k_hashes = geometry
    # bounded per-file word map (<= n_bits/62 + 1 entries)
    per_file = (
        index.where(F.col("column") == col)
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word_idx", "bits"))
            ).alias("_words")
        )
    )
    # the probe as ONE parsed expression: a value is maybe-present iff
    # every word it sets carries all of its bits
    maybe_any = " OR ".join(
        "("
        + " AND ".join(
            f"(coalesce(element_at(_words, {word}L), 0L) & {mask}L) = {mask}L"
            for word, mask in sorted(_value_words(v, n_bits, k_hashes).items())
        )
        + ")"
        for v in values
    )
    excluded = {
        r["file"]
        for r in per_file.where(F.expr(f"NOT ({maybe_any})")).select("file").collect()
    }
    return sorted(files - excluded), files


def prune_files_bloom(
    index: DataFrame, col: str, values: Sequence[str]
) -> tuple[list[str], int]:
    """(surviving file paths, total indexed file count) for
    ``col IN (values)``. A file survives iff its filter says SOME probe
    value is maybe-present, or it was never indexed for ``col`` (missing
    index entries keep, the zone-map rule). Geometry comes from the
    index's own stamp; an empty manifest keeps nothing: ``([], 0)``."""
    kept, files = _prune(index, col, values)
    return kept, len(files)


def scan_pruned_bloom(
    spark: SparkSession,
    index: DataFrame,
    col: str,
    values: Sequence[str],
    pre_kept: Iterable[str] | None = None,
) -> tuple[DataFrame, int, int]:
    """Point-lookup scan that reads ONLY the Bloom survivors (explicit
    file paths — no directory listing) and re-applies the exact row
    predicate (false positives are filtered here; false negatives cannot
    happen by construction). ``pre_kept`` intersects another pruner's
    surviving set (zone map) — exclusions compose. Returns
    (df, files_kept, files_total); an empty survivor set returns an
    empty, correctly-typed frame. An empty manifest raises: it names no
    file to take the scan's schema from."""
    kept, files = _prune(index, col, values)
    if not files:
        raise ValueError(
            "bloom index is empty (a fully expired manifest indexes no "
            "file) — there is no file to derive the scan schema from"
        )
    if pre_kept is not None:
        pre = {_canon(p) for p in pre_kept}
        kept = [p for p in kept if p in pre]
    df = spark.read.parquet(*(kept or [min(files)])).where(
        F.col(col).cast("string").isin([str(v) for v in values])
    )
    if not kept:
        df = df.where(F.lit(False))
    return df, len(kept), len(files)


def write_bloom_index(index: DataFrame, path: str) -> None:
    """Persist the manifest (tiny parquet, one coalesced file; Spark's
    committer writes _SUCCESS last, which ``read_bloom_index`` gates
    on)."""
    index.coalesce(1).write.mode("overwrite").parquet(path)


def read_bloom_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a persisted manifest with the known ``INDEX_SCHEMA`` (no
    schema-inference job); refuses a torn (no _SUCCESS) layout. A
    foreign layout reads its missing stamp columns as NULL, which the
    first probe or update refuses as a foreign family, so nothing runs
    against garbage."""
    if not exists(f"{path}/_SUCCESS"):
        raise ValueError(f"bloom index at {path} has no _SUCCESS — torn write?")
    return spark.read.schema(INDEX_SCHEMA).parquet(path)


def update_bloom_index(
    spark: SparkSession,
    table_path: str,
    index: DataFrame | None,
    cols: Sequence[str],
    n_bits: int = N_BITS_DEFAULT,
    k_hashes: int = K_HASHES_DEFAULT,
) -> tuple[DataFrame, int, int]:
    """Incremental manifest maintenance (the ``update_zonemap``
    discipline): reconcile a persisted index with the files on disk,
    scanning ONLY files the manifest has never seen. Appends are
    O(delta); compactions drop the vanished files' rows and index their
    replacements. Returns (merged index, n_new_files, n_dropped_files).
    The merged index inherits the existing stamp — a geometry argument
    that disagrees with it raises rather than mixing filters that can
    never agree."""
    from docling_jobkit_spark.sinks.maintenance import _list_parquet_files

    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, table_path)}
    # a fully-expired manifest is valid but stamp-less (0 rows) — there is
    # no geometry to inherit, so it reconciles exactly like a fresh build
    geometry, known = _summary(index) if index is not None else (None, set())
    if geometry is None:
        if not on_disk:  # nothing to index and no stamp to keep
            return empty_frame(spark, INDEX_SCHEMA), 0, 0
        idx = build_bloom_index(spark, table_path, cols, n_bits, k_hashes)
        return idx, len(on_disk), 0

    if geometry != (n_bits, k_hashes):
        raise ValueError(
            f"existing index is stamped n_bits={geometry[0]}/k={geometry[1]}, "
            f"update asked for {n_bits}/{k_hashes} — mixed geometries never "
            "match; rebuild instead"
        )
    new_files = sorted(on_disk - known)
    stale = known - on_disk

    kept = index
    if stale:
        kept = kept.where(~F.col("file").isin(sorted(stale)))
    if new_files:
        fresh = _index_for_scan(
            spark.read.parquet(*new_files)
            .select(*cols)
            .withColumn("_file", F.input_file_name()),
            list(cols),
            n_bits,
            k_hashes,
        )
        kept = kept.unionByName(fresh)
    return kept, len(new_files), len(stale)
