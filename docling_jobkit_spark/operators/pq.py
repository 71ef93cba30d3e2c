"""Product quantization (PQ) for embedding columns — the memory-side
scale path for similarity search, complementing IVF's IO-side path.

Reference precedent: the reference repo ships vector search as calls
into external engines (Milvus/OpenSearch targets,
``/root/reference/docling_jobkit/connectors`` — orchestration only, no
algorithm to port); PQ itself is public knowledge (Jégou, Douze,
Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
2011). This is a from-scratch Spark-first implementation.

Why PQ at 100 TB: a float32 d=768 embedding is 3 KB/row; the PQ code is
``m`` small ints (m=8..64 bytes). Encoding once at write time shrinks
the column the ANN scan actually reads by ~50-100x, so the candidate
scan is bandwidth-bound on codes, not vectors — the difference between
"the shortlist scan fits in page cache" and "every query re-reads 100 TB
of raw vectors". The full-precision vector column stays in the table for
the final exact re-rank of a tiny shortlist.

Determinism discipline (same as the IVF family in ``similarity.py``):
- codebooks train driver-side on the ``sample_n`` LOWEST-ID vectors
  (stable ORDER BY — no RNG anywhere), farthest-point init + Lloyd;
- assignment compares 6-rounded squared-L2 distances, FIRST minimum
  (lowest code) wins ties — the relational encode and the pure-Python
  reference (tests/test_pq.py) agree code-for-code by construction;
- the codebook identity is sha256-stamped into the ``pq_code`` column's
  metadata; decoding/searching against a mismatched codebook RAISES
  (mismatched codes silently return plausible-but-wrong neighbors).

Plan shape: encode is ONE fold per subspace with a ksub-wide
accumulator (the ``lsh_signature`` pattern — per element, a zip_with
row of centroid values; never a when-chain, whose subtree doubles per
step). ADC search is a literal M×ksub lookup table folded JVM-side —
no Python UDF anywhere in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import lit_double_rows
from docling_jobkit_spark.functions.stamp import check_stamp, read_stamp, stamp


def _sq_l2(a: list[float], b: list[float]) -> float:
    return sum((float(x) - float(y)) ** 2 for x, y in zip(a, b))


def pq_codebook_id(codebooks: list[list[list[float]]]) -> str:
    """sha256 identity over the rounded coordinate grid (the PQ twin of
    ``similarity.codebook_id``)."""
    payload = repr(
        [[[round(float(x), 6) for x in c] for c in book] for book in codebooks]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def train_pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 4,
    sample_n: int = 512,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``ksub`` centroids each,
    driver-side on the lowest-id sample (codebooks are m*ksub*dsub
    literals — tiny; the FULL corpus is then encoded relationally by
    ``pq_encode``, the standard PQ discipline).

    Deterministic by construction: stable sample, farthest-point init
    per subspace (seed 0 = the sample's first subvector, each next seed
    maximizes 6-rounded squared-L2 to the chosen set, lowest index wins
    ties), Lloyd with the SAME assignment rule as ``pq_encode`` (argmin
    of the 6-rounded distance, lowest code wins ties); empty cells keep
    their previous centroid."""
    rows = df.orderBy(F.col(id_col)).limit(sample_n).select(vec_col).collect()
    vecs = [[float(x) for x in r[0]] for r in rows if r[0] is not None]
    if not vecs:
        raise ValueError("train_pq_codebooks: no non-null vectors in sample")
    dim = len(vecs[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    books: list[list[list[float]]] = []
    for mi in range(m):
        subs = [v[mi * dsub : (mi + 1) * dsub] for v in vecs]
        k = min(ksub, len(subs))
        cents = [list(subs[0])]
        best = [round(_sq_l2(s, cents[0]), 6) for s in subs]
        while len(cents) < k:
            far_i = max(range(len(subs)), key=lambda i: (best[i], -i))
            cents.append(list(subs[far_i]))
            for i, s in enumerate(subs):
                d = round(_sq_l2(s, cents[-1]), 6)
                if d < best[i]:
                    best[i] = d
        for _ in range(n_iter):
            sums = [[0.0] * dsub for _ in range(k)]
            counts = [0] * k
            for s in subs:
                dists = [round(_sq_l2(s, c), 6) for c in cents]
                bi = min(range(k), key=lambda i: (dists[i], i))
                counts[bi] += 1
                acc = sums[bi]
                for d, x in enumerate(s):
                    acc[d] += x
            cents = [
                [x / counts[i] for x in sums[i]] if counts[i] else cents[i]
                for i in range(k)
            ]
        books.append(cents)
    return books


def _subspace_code(v: Column, book: list[list[float]], mi: int, dsub: int) -> Column:
    """argmin-distance code for subspace ``mi`` — ONE pass over the
    subvector with a ksub-wide accumulator: element d contributes
    (x_d - c_k_d)^2 to all ksub running distances at once (zip_with
    against a per-element row of centroid values), then the flat
    array-argmin (array_position of array_min picks the FIRST minimum →
    lowest code wins ties, matching the trainer and the oracle)."""
    ksub = len(book)
    sub = F.slice(v, mi * dsub + 1, dsub)
    # one py4j round trip for the dsub x ksub literal matrix (the
    # element-wise Column-API form costs a gateway call per entry —
    # seconds per encode; functions/scalar.py::lit_double_rows)
    cent_rows = lit_double_rows(
        [[float(book[k][d]) for k in range(ksub)] for d in range(dsub)]
    )
    zeros = F.transform(F.sequence(F.lit(1), F.lit(ksub)), lambda _: F.lit(0.0))
    contribs = F.zip_with(
        sub,
        cent_rows,
        lambda x, row: F.transform(row, lambda c: (x.cast("double") - c) * (x.cast("double") - c)),
    )
    dists = F.aggregate(
        contribs, zeros, lambda acc, c: F.zip_with(acc, c, lambda a, x: a + x)
    )
    rounded = F.transform(dists, lambda d: F.round(d, 6))
    return (F.array_position(rounded, F.array_min(rounded)) - 1).cast("int")


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the PQ code as a layout column ``pq_code``
    (array<int> of length m) — at scale this is the WRITE-TIME step: the
    code column (plus id) is what ANN scans read; the raw vector column
    is touched only by the final shortlist re-rank. NULL embeddings get
    a NULL code (they are unscorable; ``pq_topk`` filters them).

    The codebook's shape and sha256 identity ride as column metadata
    (Spark persists field metadata through parquet writes) so a search
    against the wrong codebook fails loudly."""
    m = len(codebooks)
    if not m:
        raise ValueError("pq_encode: empty codebooks")
    dsub = len(codebooks[0][0])
    v = F.col(vec_col)
    code = F.array(*[_subspace_code(v, codebooks[mi], mi, dsub) for mi in range(m)])
    meta = {
        "pq_m": m,
        "pq_ksub": len(codebooks[0]),
        "pq_dsub": dsub,
        "pq_codebook": pq_codebook_id(codebooks),
    }
    return df.withColumn("pq_code", stamp(F.when(v.isNotNull(), code), meta, "pq_code"))


def _check_stamp(encoded: DataFrame, codebooks: list[list[list[float]]]) -> None:
    if "pq_code" not in encoded.columns:
        raise ValueError("pq_code missing: run pq_encode first")
    stored = read_stamp(encoded, ["pq_code"], ["pq_codebook", "pq_m"])
    check_stamp(
        stored,
        {"pq_codebook": pq_codebook_id(codebooks), "pq_m": len(codebooks)},
        required=False,
        mismatch="table was encoded with a different PQ codebook "
        f"(m={stored.get('pq_m')}, search uses m={len(codebooks)}) — stored "
        "codes would not correspond to these centroids",
    )


def adc_lookup_table(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Asymmetric-distance lookup table: lut[mi][k] = 6-rounded squared
    L2 between the query's subvector mi and centroid k. Driver-side —
    m*ksub floats per query, shipped as a literal into the plan."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = []
    for mi in range(m):
        qsub = [float(x) for x in query_vec[mi * dsub : (mi + 1) * dsub]]
        lut.append([round(_sq_l2(qsub, c), 6) for c in codebooks[mi]])
    return lut


def pq_topk(
    encoded: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    rerank: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over a ``pq_encode``d table: approximate distance =
    sum over subspaces of lut[mi][code[mi]] — one zip_with of the stored
    code against the literal lookup table, folded JVM-side. The scan
    reads (id, pq_code) only: at 100 TB that is the ~50-100x-smaller
    column, and the global top-k is Spark's TakeOrdered (no full sort).

    ``rerank=R > 0`` is the standard two-stage PQ plan: shortlist the R
    best ADC candidates, then exact-cosine re-rank the shortlist against
    the raw vector column (touched for R rows only) and return the true
    top-k of the shortlist. Output: (id, adc_dist[, cosine]).

    Raises on a codebook/shape mismatch with the table's stamp."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    _check_stamp(encoded, codebooks)
    encoded = spread_for_compute(encoded)
    lut = adc_lookup_table(query_vec, codebooks)
    lut_rows = lit_double_rows(lut)
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("pq_code"),
                lut_rows,
                lambda c, row: F.element_at(row, c + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    # pq_code is NULL iff the vector is NULL (pq_encode's when-guard).
    # When the raw vector column is present, filter on ITS nullness: in
    # the encode-on-the-fly path pq_code is an EXPENSIVE interpreted
    # projection, and a filter on it is pushed below the projection and
    # re-inlines the whole encode chain (the CLAUDE.md
    # filter-above-materialization pitfall); the vector column is a
    # cheap stored attribute in both paths.
    null_guard = (
        F.col(vec_col).isNotNull()
        if vec_col in encoded.columns
        else F.col("pq_code").isNotNull()
    )
    scored = encoded.filter(null_guard).withColumn("adc_dist", adc)
    if rerank <= 0:
        return (
            scored.select(F.col(id_col), F.col("adc_dist"))
            .orderBy(F.col("adc_dist").asc(), F.col(id_col))
            .limit(k)
        )
    from docling_jobkit_spark.operators.similarity import _cosine_to_query

    shortlist = scored.orderBy(F.col("adc_dist").asc(), F.col(id_col)).limit(
        max(rerank, k)
    )
    return (
        shortlist.withColumn(
            "cosine", _cosine_to_query(vec_col, query_vec)
        )
        .select(F.col(id_col), F.col("adc_dist"), F.col("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_pq_topk(
    table: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 2,
    rerank: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """THE at-scale similarity plan — IVF × PQ composed: the table was
    laid out once by ``with_ivf_cells`` + ``pq_encode`` (at 100 TB:
    ``partitionBy("ivf_cell")``, so the probe prunes whole partitions at
    the FILE LISTING), the candidate scan inside the probed cells reads
    only the m-byte ``pq_code`` column (ADC — 50-100x less bandwidth
    than raw vectors), and the raw vector column is touched only for the
    ``rerank``-row shortlist. IO pruned by IVF, bandwidth pruned by PQ,
    exactness restored by the re-rank — each stage's stamp (codebook
    identity on ``ivf_cell``/vector metadata, PQ codebook on
    ``pq_code``) is verified, so a probe against either wrong codebook
    raises instead of silently searching the wrong cells/codes."""
    from docling_jobkit_spark.operators.similarity import check_ivf_stamp, probe_cells

    check_ivf_stamp(table, centroids, vec_col)
    probe = probe_cells(query_vec, centroids, n_probe)
    return pq_topk(
        table.filter(F.col("ivf_cell").isin(probe)),
        query_vec,
        codebooks,
        k=k,
        rerank=rerank,
        vec_col=vec_col,
        id_col=id_col,
    )
