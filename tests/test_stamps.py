"""Geometry-stamp policy, one row per family and case.

Persisted layouts (minhash index, IVF index, bucketed BM25 postings)
refuse a missing stamp and a foreign one. In-plan tables (HLL, CMS,
log-histogram, PQ codes, IVF- and ANN-presigned tables) accept an
unstamped input and refuse a mismatched stamp. For BM25 a foreign stamp
is another family's stamp on the ``term`` column: the bucket count is
read from the stamp, so there is no expected value to disagree with.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0]]
OTHER_CENTS = [[x + 1.0 for x in c] for c in CENTS]
BOOKS = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 1.0], [1.0, 0.0]]]
OTHER_BOOKS = [[[x + 1.0 for x in c] for c in b] for b in BOOKS]
Q = [1.0, 0.5, 0.0, 0.25]


def _unstamped(df):
    """``df`` with no field metadata: a cast is not an attribute
    reference, so its alias carries none."""
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in df.schema])


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i % 7} epsilon zeta eta") for i in range(12)],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float((i + 1) % 3), float(i % 4), 1.0, float(i % 2)], i % 2) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    )
    return docs, emb


def _minhash(spark, docs, path, meta):
    from docling_jobkit_spark.operators.minhash_index import (
        banded_signatures,
        read_minhash_index,
    )

    banded = banded_signatures(docs)
    if meta is not None:
        banded = banded.withColumn("sig", F.col("sig").alias("sig", metadata=meta))
    banded.write.partitionBy("band").parquet(path)
    return lambda: read_minhash_index(spark, path)


def _ivf_index(spark, emb, path, foreign):
    from docling_jobkit_spark.operators.ivf_index import (
        append_ivf_index,
        read_ivf_index,
        write_ivf_index,
    )
    from docling_jobkit_spark.operators.similarity import ivf_assign

    if not foreign:
        ivf_assign(emb, CENTS).write.partitionBy("ivf_cell").parquet(path)
        return lambda: read_ivf_index(spark, path)
    write_ivf_index(emb, path, CENTS)
    return lambda: append_ivf_index(spark, emb, path, OTHER_CENTS)


def _bm25(spark, docs, path, meta):
    from docling_jobkit_spark.operators.retrieval import (
        TERM_BUCKET_COL,
        bm25_topk,
        build_postings,
        term_bucket_col,
    )

    postings = build_postings(docs).withColumn(TERM_BUCKET_COL, term_bucket_col("term", 8))
    if meta is not None:
        postings = postings.withColumn("term", F.col("term").alias("term", metadata=meta))
    postings.write.partitionBy(TERM_BUCKET_COL).parquet(path)
    back = spark.read.parquet(path)
    return lambda: bm25_topk(None, [("q", "alpha w3")], postings=back, corpus_stats=(12, 96))


def _case(family, stamped, spark, frames, tmp_path):
    """The call under test for ``family``: on a table whose stamp
    disagrees with the call (``stamped``), else on an unstamped one."""
    from docling_jobkit_spark.operators import pq, similarity, sketches
    from docling_jobkit_spark.operators.minhash_index import FAMILY_META_KEY

    docs, emb = frames
    path = str(tmp_path / "layout")
    strip = (lambda df: df) if stamped else _unstamped
    keys = spark.range(20).select(F.col("id").cast("string").alias("k"))
    if family == "minhash_index":
        return _minhash(spark, docs, path, {FAMILY_META_KEY: "0" * 16} if stamped else None)
    if family == "ivf_index":
        return _ivf_index(spark, emb, path, stamped)
    if family == "bm25_postings":
        return _bm25(spark, docs, path, {FAMILY_META_KEY: "0" * 16} if stamped else None)
    if family == "hll_estimate":
        return lambda: sketches.hll_estimate(strip(sketches.hll_registers(keys, "k", 6)), 7, "k")
    if family == "hll_merge":
        r6 = strip(sketches.hll_registers(keys, "k", 6))
        return lambda: sketches.hll_merge(r6, sketches.hll_registers(keys, "k", 7))
    if family == "cms_query":
        s = strip(sketches.cms_build(keys, "k", depth=3, width=64))
        return lambda: sketches.cms_query(s, keys, "k", depth=4, width=64)
    if family == "cms_merge":
        s = strip(sketches.cms_build(keys, "k", depth=3, width=64))
        return lambda: sketches.cms_merge(s, sketches.cms_build(keys, "k", depth=4, width=64))
    if family == "logh_merge":
        s = strip(sketches.logh_buckets(docs, "doc_id", 6))
        return lambda: sketches.logh_merge(s, sketches.logh_buckets(docs, "doc_id", 8))
    if family == "pq":
        enc = strip(pq.pq_encode(emb, BOOKS))
        return lambda: pq.pq_topk(enc, Q, OTHER_BOOKS, k=3)
    if family == "ivf_presigned":
        cells = strip(similarity.with_ivf_cells(emb, CENTS))
        return lambda: similarity.ivf_topk_presigned(cells, Q, OTHER_CENTS, k=3)
    if family == "ann_presigned":
        signed = strip(similarity.with_ann_signatures(emb, 4, n_bits=10, n_tables=2))
        return lambda: similarity.ann_topk_presigned(signed, Q, n_bits=8, n_tables=2)
    raise AssertionError(family)


# (family, stamped, error pattern — None: the call is accepted)
_POLICY = [
    ("minhash_index", False, "carries no 'minhash_family' stamp"),
    ("minhash_index", True, "family mismatch"),
    ("ivf_index", False, "no codebook stamp"),
    ("ivf_index", True, "codebook mismatch"),
    ("bm25_postings", False, "without a bm25_n_buckets stamp"),
    ("bm25_postings", True, "without a bm25_n_buckets stamp"),
    ("hll_estimate", False, None),
    ("hll_estimate", True, "p=6"),
    ("hll_merge", False, None),
    ("hll_merge", True, "different p"),
    ("cms_query", False, None),
    ("cms_query", True, r"\(depth, width\)=\(3, 64\)"),
    ("cms_merge", False, None),
    ("cms_merge", True, "different shapes"),
    ("logh_merge", False, None),
    ("logh_merge", True, "different sub_bits"),
    ("pq", False, None),
    ("pq", True, "different PQ codebook"),
    ("ivf_presigned", False, None),
    ("ivf_presigned", True, "different codebook"),
    ("ann_presigned", False, None),
    ("ann_presigned", True, "n_bits=10"),
]


@pytest.mark.parametrize(
    "family,stamped,error",
    _POLICY,
    ids=[f"{f}-{'mismatched' if s else 'unstamped'}" for f, s, _ in _POLICY],
)
def test_stamp_policy(spark, frames, tmp_path, family, stamped, error):
    call = _case(family, stamped, spark, frames, tmp_path)
    if error is None:
        call()
    else:
        with pytest.raises(ValueError, match=error):
            call()
