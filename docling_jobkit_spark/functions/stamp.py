"""Geometry stamps: the identity of an index or sketch, carried as field
metadata on its data columns.

A layout built under one geometry (minhash family, IVF codebook, PQ
codebook, LSH bit width, BM25 bucket count, sketch precision) and read
under another returns plausible, silently wrong answers, so every
family stamps the parameters its rows depend on and checks them before
use. Spark keeps field metadata through parquet writes on data
columns; partition columns drop it on read-back, so a stamp rides a
data column (and may be read from several, see ``read_stamp``).

Two policies, chosen by ``check_stamp(required=...)``:

- persisted layouts (minhash index, IVF index, bucketed BM25 postings)
  raise when the stamp is missing: the stamp is their only provenance;
- in-plan tables (sketches, PQ codes, IVF and ANN presigned tables)
  accept an unstamped input (built by hand or before stamping) and
  raise only when a stamp disagrees.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import sql_ident


def stamp(col: str | Column, meta: dict, name: str | None = None) -> Column:
    """``col`` aliased to ``name`` (default: ``col``'s own name) with
    ``meta`` as its field metadata; an empty ``meta`` is a plain alias."""
    c = F.col(sql_ident(col)) if isinstance(col, str) else col
    return c.alias(name or col, metadata=meta)


def read_stamp(df: DataFrame, cols, keys) -> dict:
    """The ``keys`` stamped on ``df``'s ``cols``, unioned in ``cols``
    order (a later column's value wins). Absent columns and keys are
    skipped."""
    fields = {f.name: f for f in df.schema.fields}
    out: dict = {}
    for c in cols:
        meta = (fields[c].metadata or {}) if c in fields else {}
        out.update((k, meta[k]) for k in keys if k in meta)
    return out


def check_stamp(
    stored: dict,
    expected: dict,
    *,
    required: bool,
    mismatch: str = "",
    missing: str = "",
) -> None:
    """Raise ``ValueError(mismatch)`` when a key of ``expected`` is
    stamped in ``stored`` with another value (an expected value of
    ``None`` is never compared: the key need only be present). A key
    absent from ``stored`` raises ``ValueError(missing)`` when
    ``required``, and is skipped otherwise."""
    for key, want in expected.items():
        if key not in stored:
            if required:
                raise ValueError(missing)
        elif want is not None and stored[key] != want:
            raise ValueError(mismatch)


def merge_stamped(
    tables, by: list[str], agg: Column, name: str, keys, mismatch: str
) -> DataFrame:
    """Union ``tables``, check that their ``name`` stamps agree, and
    aggregate ``agg`` per ``by`` as ``name`` carrying the common stamp.
    Unstamped inputs merge with stamped ones; differing stamps raise
    ``ValueError`` with ``mismatch`` and the stamps found."""
    if not tables:
        raise ValueError("need at least one table to merge")
    stamps = {tuple(read_stamp(t, [name], keys).items()) for t in tables} - {()}
    if len(stamps) > 1:
        found = ", ".join(str(dict(s)) for s in sorted(stamps))
        raise ValueError(f"{mismatch} (stamps: {found})")
    meta = dict(next(iter(stamps), ()))
    merged = reduce(DataFrame.unionByName, tables)
    return merged.groupBy(*by).agg(stamp(agg, meta, name))
