"""Similarity search over embedding columns (array<float>).

Two paths, as the build brief requires:

- **brute-force cosine top-k** — the exact baseline: one narrow
  projection computing dot/norms with higher-order functions
  (zip_with + aggregate — JVM-side, codegen), then a global top-k
  (``orderBy(...).limit(k)`` = Spark's TakeOrdered, no full sort).
- **LSH-bucketed ANN** — the scale path: random-hyperplane signatures
  (hyperplanes derived deterministically from sha256 via stable integer
  arithmetic, no RNG state), candidates = same-bucket rows in any of
  ``n_tables`` tables, exact cosine re-rank inside buckets. At 10^12
  rows the bucket join replaces the O(N) scan per query with a hash
  lookup; recall tunes via (n_bits, n_tables).

Cross-engine note: cosine is computed in float64 with a fixed left-fold
order so the DuckDB oracle (list_dot_product) agrees to well below the
1e-6 rounding applied on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import lit_doubles, single_eval, sql_ident
from docling_jobkit_spark.functions.stamp import check_stamp, read_stamp, stamp


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_col(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; deterministic tie-break on id."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    df = spread_for_compute(df, key=id_col)
    scored = df.select(
        F.col(id_col),
        _cosine_to_query(vec_col, query_vec).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _cosine_to_query(vec_col: str, query_vec) -> Column:
    """round(cos(v, q), 6) against a driver-known query vector, with the
    QUERY's norm folded to a literal: cosine_col re-evaluates the
    64-wide SQRT(dot(q,q)) fold per row for a constant (CodegenFallback
    — never constant-folded). The literal is the same 0.0-seeded left
    fold + sqrt, so dot/(norm(v)·nq) multiplies the identical doubles in
    the same order — bit-unchanged (the kmeans/centroid-norm precedent).
    Per-row fold count 3 → 2."""
    import math

    qs = [float(x) for x in query_vec]
    q = lit_doubles(qs)
    acc = 0.0
    for x in qs:
        acc += x * x
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.round(
        _dot(v, q) / (_norm(v) * F.lit(math.sqrt(acc))), 6
    )


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = "label",
    lsh_bits: int | None = None,
    dim: int | None = None,
    lsh_table: int = 0,
    lsh_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector analog of the
    text dedup family): blocked self-join + exact cosine.

    Blocking modes:
    - ``block_col``: a metadata block (label/lang/domain) — BASELINE /
      VERIFICATION ONLY: the candidate set is quadratic PER BLOCK, so a
      low-cardinality block column at corpus scale is a cartesian bomb.
      Use the LSH mode for production near-dup sweeps.
    - ``lsh_bits=k`` (requires ``dim``): block = the k-bit random-
      hyperplane signature, the SCALE path — bucket population falls
      geometrically with k, so the per-bucket self-join stays bounded at
      any corpus size (near-identical vectors land in the same bucket by
      construction). Approximate by design: pairs split across buckets
      are missed — ``lsh_tables=T`` recovers recall by OR-ing T
      independent signature tables (a pair is a candidate if it
      collides in ANY table; candidates are deduped before the exact
      cosine so each pair is verified once). Cost is T bounded-bucket
      equi-joins — still never quadratic.
    Threshold compared on the ROUNDED value so the result set is
    identical across engines."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    df = spread_for_compute(df, key=id_col)
    if lsh_bits is not None:
        if dim is None:
            raise ValueError("lsh_bits requires dim (embedding dimensionality)")
        if lsh_tables > 1:
            return _lsh_multi_table_pairs(
                df, threshold, vec_col, id_col, lsh_bits, dim, lsh_tables
            )
        block_expr = lsh_signature(vec_col, dim, lsh_bits, lsh_table)
        names = ["id", "v", "nv", "blk"]
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nv"),
            block_expr.alias("blk"),
        )
        block_col = "blk"
    else:
        names = ["id", "v", "nv"] + (["blk"] if block_col else [])
        cols = [
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nv"),
        ]
        if block_col:
            cols.append(F.col(block_col).alias("blk"))
        base = df.select(*cols)
    a = base.select(*[F.col(c).alias(f"{c}_a") for c in names])
    b = base.select(*[F.col(c).alias(f"{c}_b") for c in names])
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    pairs = a.join(b, on=cond)
    return _pair_cosine_rows(pairs, threshold)


def _pair_cosine_rows(pairs: DataFrame, threshold: float) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine ≥ threshold) from a candidate-pair
    frame carrying (id_a, v_a, nv_a, id_b, v_b, nv_b).

    The per-ROW norms ``nv_*`` are computed once per side instead of
    once per pair (cosine_col re-derives both 64-wide norm folds inside
    every pair — 3× the flops of the dot — and the interpreted chain is
    CodegenFallback, so nothing dedupes it); dot/(nv_a·nv_b) multiplies
    the identical SQRT values in the same order, so every rounded
    cosine is bit-unchanged."""
    cos = F.round(
        _dot(F.col("v_a"), F.col("v_b")) / (F.col("nv_a") * F.col("nv_b")), 6
    )
    return (
        pairs.select(
            F.col("id_a").alias("vec_id_a"),
            F.col("id_b").alias("vec_id_b"),
            # one cosine fold per pair: the threshold filter would re-inline it
            single_eval(cos).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _lsh_multi_table_pairs(
    df: DataFrame,
    threshold: float,
    vec_col: str,
    id_col: str,
    lsh_bits: int,
    dim: int,
    n_tables: int,
) -> DataFrame:
    """OR-of-tables LSH blocking: all T signatures computed in ONE pass
    over each vector (one fold per table, materialized so the T
    self-joins don't each recompute the interpreted signature chain),
    candidates unioned across tables and deduped on (id_a, id_b) BEFORE
    the exact cosine — each surviving pair pays exactly one verification
    regardless of how many tables it collided in."""
    from docling_jobkit_spark.operators.dedup import _materialize

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nv"),
        *[
            lsh_signature(vec_col, dim, lsh_bits, t).alias(f"blk_{t}")
            for t in range(n_tables)
        ],
    )
    base = _materialize(base)
    per_table = []
    for t in range(n_tables):
        a = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("v_a"),
            F.col("nv").alias("nv_a"),
            F.col(f"blk_{t}").alias("blk_a"),
        )
        b = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("v_b"),
            F.col("nv").alias("nv_b"),
            F.col(f"blk_{t}").alias("blk_b"),
        )
        per_table.append(
            a.join(
                b,
                on=(F.col("blk_a") == F.col("blk_b"))
                & (F.col("id_a") < F.col("id_b")),
            ).select("id_a", "id_b", "v_a", "v_b", "nv_a", "nv_b")
        )
    cand = per_table[0]
    for p in per_table[1:]:
        cand = cand.unionByName(p)
    cand = cand.dropDuplicates(["id_a", "id_b"])
    return _pair_cosine_rows(cand, threshold)


# --- random-hyperplane LSH --------------------------------------------------


def _hyperplane(table: int, bit: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane from a counter-based hash (splitmix-ish
    integer mixing; no RNG object, so identical everywhere)."""
    out = []
    for d in range(dim):
        x = (table * 0x9E3779B97F4A7C15 + bit * 0xBF58476D1CE4E5B9 + d * 0x94D049BB133111EB) & ((1 << 64) - 1)
        x ^= x >> 31
        x = (x * 0xD6E8FEB86659FD93) & ((1 << 64) - 1)
        x ^= x >> 27
        out.append(1 if x & 1 else -1)
    return out


def lsh_signature(vec_col, dim: int, n_bits: int = 12, table: int = 0) -> Column:
    """Integer bucket id: sign bits against n_bits hyperplanes.

    SINGLE PASS over the vector: element d contributes x_d·plane[b][d] to
    all n_bits running projections at once (a zip_with against a literal
    per-element array of plane rows, folded element-wise). The naive form
    — one zip_with+aggregate per bit — traverses the vector n_bits times
    and makes Catalyst re-evaluate the column per bit. Per-bit summation
    ORDER is unchanged (strict left fold over d), so signatures are
    bit-identical to the per-bit form and to the DuckDB oracle's
    list_dot_product (products by ±1.0 are exact; only order matters).

    Built as ONE ``F.expr`` SQL string (SQL lambda syntax): the
    Column-API spelling issued ~30 py4j HOF-lambda round trips per
    signature (~113 ms of pure driver latency per call, ×4 tables per
    ANN query build); the parsed expression tree is value-identical —
    pinned bit-for-bit across tables on the corpus before the switch
    (the `D`-suffixed double literals round-trip exactly, the
    lit_doubles precedent in functions/scalar.py)."""
    if not isinstance(vec_col, str):
        raise TypeError("lsh_signature takes the vector COLUMN NAME")
    planes = [_hyperplane(table, b, dim) for b in range(n_bits)]
    # per element d: the length-n_bits row of plane coefficients, one
    # literal array-of-arrays in the same parse
    rows = ",".join(
        "array(" + ",".join(f"{float(planes[b][d])!r}D" for b in range(n_bits)) + ")"
        for d in range(dim)
    )
    zeros = ",".join(["0.0D"] * n_bits)
    bitvals = ",".join(f"{1 << b}L" for b in range(n_bits))
    return F.expr(
        f"aggregate("
        f"  zip_with(aggregate("
        f"    zip_with({sql_ident(vec_col)}, array({rows}),"
        f"      (x, row) -> transform(row, p -> CAST(x AS DOUBLE) * p)),"
        f"    array({zeros}),"
        f"    (acc, c) -> zip_with(acc, c, (a, x) -> a + x)),"
        f"  array({bitvals}),"
        f"  (s, m) -> IF(s > 0, m, 0L)),"
        f"  0L, (acc, x) -> acc + x)"
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (argmax cosine) — pure relational, one pass.

    Centroids are provided by the caller (deterministic sample or a
    trained codebook); at scale the cell id becomes a partition/bucket
    column so probes prune partitions instead of scanning."""
    # assignment compares ROUNDED cosines so the cell id is reproducible
    # in any engine regardless of last-ulp float summation differences;
    # array_position picks the FIRST maximum → lowest cell wins ties.
    # (A when-chain here would NEST each step's subtree into the next —
    # expression size doubles per centroid, measured 27 s for k=8; the
    # flat array form is linear and runs in milliseconds.)
    # one k-fold cosine array per row, read by array_position AND array_max
    out_cols = [F.col(sql_ident(c)) for c in df.columns]
    inner = df.select("*", single_eval(_cosine_array(centroids, vec_col)).alias("_ca"))
    best_cell = (
        F.array_position(F.col("_ca"), F.array_max(F.col("_ca"))) - 1
    ).cast("int")
    # NULL/empty embeddings score all-NULL cosines → array_position yields
    # NULL; restore the -1 sentinel so unscorable vectors stay visible in
    # probe filters and ivf_cell-as-partition-column layouts
    return inner.select(
        *out_cols, F.coalesce(best_cell, F.lit(-1)).alias("ivf_cell")
    )


def _cosine_array(centroids: list[list[float]], vec_col: str) -> Column:
    """The k-wide rounded-cosine array against literal centroids, as ONE
    ``F.expr`` parse (the lsh_signature precedent): the Column-API
    spelling costs ~6 py4j lambda registrations per centroid — ~0.4 s of
    pure driver latency per build at k=16. The parsed tree is
    restructured (the vector norm bound once per row, centroid norms as
    driver literals — see below) but value- and bit-identical: the same
    aggregate/zip_with/cast/sqrt arithmetic in the same order, and
    ``_double_sql`` literals round-trip bit-exactly, so every float is
    unchanged (A/B-collected on the embeddings corpus)."""
    from docling_jobkit_spark.functions.scalar import _double_sql

    v = sql_ident(vec_col)

    def dot(a: str, b: str) -> str:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            "(acc, x) -> acc + x)"
        )

    # The vector's own norm is bound ONCE via a single-element transform
    # lambda (the fold is CodegenFallback — inlining SQRT(dot(v,v)) into
    # every centroid's term re-evaluates it k times per row), and each
    # centroid's norm is a DRIVER-computed literal: the same
    # 0.0-seeded left-fold of x·x in element order plus math.sqrt is
    # bit-for-bit the expression's own evaluation (the kmeans_centroids
    # norm precedent), so dot/(nv·nc) divides by the identical product.
    # Per-row fold count: 2k+1 → k+1.
    import math

    rows = []
    for c in centroids:
        cs = [float(x) for x in c]
        lit = "array(" + ",".join(_double_sql(x) for x in cs) + ")"
        acc = 0.0
        for x in cs:
            acc += x * x
        rows.append(f"struct({lit} AS c, {_double_sql(math.sqrt(acc))} AS nc)")
    cents = "array(" + ",".join(rows) + ")"
    body = f"round({dot(v, 's.c')} / (nv * s.nc), 6)"
    return F.expr(
        f"transform(array(SQRT({dot(v, v)})), "
        f"nv -> transform({cents}, s -> {body}))[0]"
    )


def deterministic_centroids(
    df: DataFrame, k: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> list[list[float]]:
    """k seed centroids: the k lowest-id vectors — ORACLE-DETERMINISM
    BASELINE (trivially reproducible in SQL). Recall on real embeddings
    is poor when the low-id vectors cluster together; production IVF
    should train with ``kmeans_centroids`` (same plan shape — the
    centroids are literals either way)."""
    rows = df.orderBy(F.col(id_col)).limit(k).select(vec_col).collect()
    return [[float(x) for x in r[0]] for r in rows]


def _py_cosine(a: list[float], b: list[float]) -> float:
    import math

    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb) if na and nb else -2.0


def kmeans_centroids(
    df: DataFrame,
    k: int,
    n_iter: int = 4,
    sample_n: int = 1024,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Deterministic spherical k-means codebook, driver-side on a
    lowest-id sample (the codebook is tiny — k literals — so training on
    a bounded sample is the standard IVF discipline; the FULL corpus is
    then assigned relationally by ``ivf_assign``).

    Deterministic by construction, no RNG anywhere:
    - sample = the ``sample_n`` lowest-id vectors (a stable ORDER BY);
    - init = farthest-point (maxmin) seeding: seed 0 is the lowest-id
      vector, each next seed maximizes its distance to the chosen set —
      unlike lowest-id seeding this provably spreads seeds across
      clusters, and unlike k-means++ it needs no randomness;
    - Lloyd iterations with the SAME assignment rule as ``ivf_assign``
      (argmax of the 6-rounded cosine, lowest cell wins ties); empty
      cells keep their previous centroid.

    Every step is a pure function of the data, so repeated runs (and the
    pytest recall fixture) reproduce the identical codebook."""
    import math

    rows = (
        df.orderBy(F.col(id_col)).limit(sample_n).select(vec_col).collect()
    )
    vecs = [[float(x) for x in r[0]] for r in rows if r[0] is not None]
    if not vecs:
        raise ValueError("kmeans_centroids: no non-null vectors in sample")
    k = min(k, len(vecs))

    # norms precomputed ONCE per vector/centroid: `_py_cosine` recomputes
    # both norms on every call, which tripled the flop count of this
    # driver-side loop (sample_n × k cosines per Lloyd iteration, pure
    # Python). Same left-to-right sums and the same dot/(na·nb) division
    # — every float is bit-identical to the per-call spelling, so the
    # codebook (and everything stamped with its digest) is unchanged.
    def _norm(a):
        return math.sqrt(sum(x * x for x in a))

    def _cos(a, b, na, nb):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (na * nb) if na and nb else -2.0

    vnorms = [_norm(v) for v in vecs]

    # farthest-point init (deterministic k-means++ stand-in)
    cents = [list(vecs[0])]
    cnorm = _norm(cents[0])
    # nearest-seed similarity per sample vector (higher = closer)
    best_sim = [round(_cos(v, cents[0], vnorms[i], cnorm), 6) for i, v in enumerate(vecs)]
    while len(cents) < k:
        # the vector FARTHEST from its nearest seed; lowest index ties
        far_i = min(range(len(vecs)), key=lambda i: (best_sim[i], i))
        cents.append(list(vecs[far_i]))
        cnorm = _norm(cents[-1])
        for i, v in enumerate(vecs):
            s = round(_cos(v, cents[-1], vnorms[i], cnorm), 6)
            if s > best_sim[i]:
                best_sim[i] = s

    dim = len(vecs[0])
    for _ in range(n_iter):
        cnorms = [_norm(c) for c in cents]
        sums = [[0.0] * dim for _ in range(k)]
        counts = [0] * k
        for i, v in enumerate(vecs):
            sims = [round(_cos(v, c, vnorms[i], cnorms[j]), 6) for j, c in enumerate(cents)]
            best = max(range(k), key=lambda i: (sims[i], -i))
            counts[best] += 1
            s = sums[best]
            for d, x in enumerate(v):
                s[d] += x
        cents = [
            [s / counts[i] for s in sums[i]] if counts[i] else cents[i]
            for i in range(k)
        ]
    return cents


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search: probe the n_probe cells nearest to the query, exact
    re-rank inside. The candidate filter is a partition-prunable
    predicate on ivf_cell."""
    import math

    def py_cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else -2.0

    probe = probe_cells(query_vec, centroids, n_probe)
    assigned = ivf_assign(df, centroids, vec_col)
    return brute_force_topk(
        assigned.filter(F.col("ivf_cell").isin(probe)), query_vec, k, vec_col, id_col
    )


def probe_cells(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The n_probe cells nearest to the query (rounded cosine, lowest
    cell wins ties) — the driver-side twin of ivf_assign's tie rule."""
    import math

    def py_cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else -2.0

    return sorted(
        range(len(centroids)),
        key=lambda i: (-round(py_cos(query_vec, centroids[i]), 6), i),
    )[:n_probe]


def codebook_id(centroids: list[list[float]]) -> str:
    """Deterministic identity of a codebook: sha256 over the rounded
    coordinate grid. Stamped into the materialized cell column's
    metadata so a probe against the WRONG codebook fails loudly instead
    of silently searching the wrong cells."""
    import hashlib

    payload = repr([[round(float(x), 6) for x in c] for c in centroids])
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def with_ivf_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF assignment ONCE as a layout column — the IVF
    twin of ``with_ann_signatures``: at scale the result is written
    ``partitionBy("ivf_cell")`` so every query reads ONLY its probed
    cells' files (partition pruning at the source listing, nothing else
    is even opened). The codebook size and identity ride as column
    metadata (Spark persists field metadata through parquet writes), so
    ``ivf_topk_presigned`` can refuse a mismatched codebook. The stamp
    rides on BOTH ``ivf_cell`` and the vector column: a
    ``partitionBy("ivf_cell")`` layout directory-encodes the cell column
    and drops its metadata on read-back, but the vector data column
    keeps it."""
    meta = {"ivf_k": len(centroids), "ivf_codebook": codebook_id(centroids)}
    assigned = ivf_assign(df, centroids, vec_col)
    return assigned.withColumn("ivf_cell", stamp("ivf_cell", meta)).withColumn(
        vec_col, stamp(vec_col, meta)
    )


IVF_STAMP_KEYS = ("ivf_k", "ivf_codebook")


def check_ivf_stamp(
    table: DataFrame, centroids: list[list[float]], vec_col: str
) -> None:
    """Raise unless ``table`` (a ``with_ivf_cells`` output, in-plan or
    read back from its layout) was assigned with ``centroids``. The
    stamp is read from the cell column in-plan and from the vector
    column after a ``partitionBy("ivf_cell")`` round-trip (partition
    columns drop field metadata); an unstamped table passes."""
    if "ivf_cell" not in table.columns:
        raise ValueError("ivf_cell missing: run with_ivf_cells first")
    stored = read_stamp(table, [vec_col, "ivf_cell"], IVF_STAMP_KEYS)
    check_stamp(
        stored,
        {"ivf_k": len(centroids), "ivf_codebook": codebook_id(centroids)},
        required=False,
        mismatch=f"table was materialized with a different codebook "
        f"(k={stored.get('ivf_k')}, probe uses k={len(centroids)} centroids) — "
        "cells of a different IVF codebook would not correspond to these centroids",
    )


def ivf_topk_presigned(
    assigned: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF search over a table produced by ``with_ivf_cells`` (read back
    from its partitioned layout): candidates = IN-list on the STORED
    cell column — partition-prunable — then exact cosine re-rank. Zero
    assignment recomputation per query; ``ivf_topk`` remains the
    scan-form baseline that quantizes on the fly.

    Raises if the stored cell column is missing or was materialized with
    a different codebook (size or content) — a silent mismatch would
    probe the wrong cells and return plausible-but-wrong neighbors."""
    check_ivf_stamp(assigned, centroids, vec_col)
    probe = probe_cells(query_vec, centroids, n_probe)
    return brute_force_topk(
        assigned.filter(F.col("ivf_cell").isin(probe)), query_vec, k, vec_col, id_col
    )


def with_ann_signatures(
    df: DataFrame,
    dim: int,
    n_bits: int = 10,
    n_tables: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the per-table LSH signatures as COLUMNS — the scale
    path for repeated ANN queries: write the result partitioned/bucketed
    by ``sig_0`` (or any table's signature) and every query becomes a
    partition-pruned point lookup instead of a full scan recomputing
    signatures per query (``ann_topk``'s predicate form). One pass, one
    fold per table."""
    out = df
    for t in range(n_tables):
        out = out.withColumn(
            f"sig_{t}",
            # n_bits stamped so a later query cannot silently probe with
            # mismatched parameters
            stamp(
                lsh_signature(vec_col, dim, n_bits, t),
                {"lsh_n_bits": n_bits},
                f"sig_{t}",
            ),
        )
    return out


def ann_topk_presigned(
    signed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """ANN over a table produced by ``with_ann_signatures``: candidates =
    equality of the STORED signature columns against the query's python-
    computed buckets (identical generator → identical bits), exact cosine
    re-rank. The filter is a conjunction-free OR of column equalities —
    partition/bucket-prunable when the table is laid out by signature.

    Raises if the table's signature columns are missing or were
    materialized with a different n_bits — a mismatch would otherwise
    return a silently near-empty candidate set."""
    for t in range(n_tables):
        if f"sig_{t}" not in signed.columns:
            raise ValueError(
                f"sig_{t} missing: table was materialized with fewer than "
                f"{n_tables} LSH tables (run with_ann_signatures first)"
            )
        stored = read_stamp(signed, [f"sig_{t}"], ["lsh_n_bits"])
        check_stamp(
            stored,
            {"lsh_n_bits": n_bits},
            required=False,
            mismatch=f"sig_{t} was materialized with "
            f"n_bits={stored.get('lsh_n_bits')}, query asked for "
            f"n_bits={n_bits} — buckets would never match",
        )
    cond = F.lit(False)
    for t in range(n_tables):
        cond = cond | (F.col(f"sig_{t}") == F.lit(query_signature(query_vec, t, n_bits)))
    return brute_force_topk(signed.filter(cond), query_vec, k, vec_col, id_col)


def query_signature(query_vec: list[float], table: int, n_bits: int) -> int:
    """The query vector's bucket id, computed driver-side with the same
    deterministic hyperplanes and float64 left-fold as the column form."""
    dim = len(query_vec)
    s = 0
    for b in range(n_bits):
        plane = _hyperplane(table, b, dim)
        proj = 0.0
        for x, p in zip(query_vec, plane):
            proj += float(x) * p
        if proj > 0:
            s |= 1 << b
    return s


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_bits: int = 10,
    n_tables: int = 4,
) -> DataFrame:
    """SCAN-FORM BASELINE: rows sharing the query's bucket in ANY table,
    re-ranked by exact cosine. Each call scans the table and recomputes
    ``n_tables`` signature folds per row — correct, but the wrong plan for
    repeated queries at scale. Production lookups should materialize the
    signatures once with ``with_ann_signatures`` and query through
    ``ann_topk_presigned`` (a partition/bucket-prunable point lookup)."""
    dim = len(query_vec)
    cond = F.lit(False)
    for t in range(n_tables):
        cond = cond | (
            lsh_signature(vec_col, dim, n_bits, t)
            == F.lit(query_signature(query_vec, t, n_bits))
        )
    candidates = df.filter(cond)
    return brute_force_topk(candidates, query_vec, k, vec_col, id_col)
