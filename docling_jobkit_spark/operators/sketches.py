"""Cardinality / frequency sketches for corpus analytics at scale.

Reference precedent: the reference keeps monotonic lifecycle COUNTERS in
Redis (``orchestrators/ray/models.py:71-93``) and computes job summary
counts per batch (``datamodel/result.py:3-28``) — exact counts over keys
it already holds. At 100 TB the analytics questions become "how many
DISTINCT urls / hosts / shingles does this crawl hold" and "what are the
most frequent n-grams" — questions whose exact answers need a full
shuffle of every key. This module answers them with sketches whose
shuffled state is BOUNDED regardless of corpus size:

- **HyperLogLog (from scratch, deterministic)** — Flajolet et al. 2007
  (+ the small-range linear-counting correction from the same paper).
  The per-partition state is at most ``m = 2^p`` (bucket, max-rho)
  pairs; the shuffle moves at most ``m`` rows per partition regardless
  of input size (map-side combined ``groupBy(bucket).agg(max(rho))``),
  vs. ``countDistinct``'s shuffle of every distinct key. Spark's own
  ``approx_count_distinct`` is the production shortcut; this
  implementation exists because its estimate must be REPRODUCIBLE in a
  second engine (DuckDB twin, pytest-pinned) — the same reason the
  minhash family re-derives its permutations from sha256 instead of
  using Spark's hash().

Determinism across engines (the repo's cross-engine rules, CLAUDE.md):
- hash = 60-bit sha256-prefix LONG (the established pattern);
- the harmonic-mean denominator is an EXACT INTEGER: register ``reg``
  contributes ``2^(S+1-reg)`` (scaled by ``2^(S+1)``, ``S = 60-p`` bits
  of remainder), absent buckets contribute ``2^(S+1)``; the worst-case
  total is ``m * 2^(S+1) = 2^61 < 2^63`` for EVERY p — overflow-free
  under ANSI mode (which this build enables; bigint overflow THROWS);
- exactly one float division (and one ``ln`` on the linear-counting
  branch) happens at the very end, rounded to 2 decimals — no
  order-dependent float summation anywhere.

- **Log-bucket quantile sketch (HdrHistogram-style)** — Tene's
  HdrHistogram / DDSketch (Masson et al., VLDB 2019) bucketing idea,
  realized with PURE INTEGER arithmetic so the sketch is bit-identical
  in any engine: bucket = (shift, top) where ``shift = max(msb -
  (sub_bits+1), 0)`` (msb via ``length(bin(v))``, the HLL rho trick)
  and ``top = v >> shift``. Unlike DDSketch's ``ceil(ln(x)/ln(gamma))``
  there is NO float log whose 1-ulp engine differences could flip a
  boundary value into the neighboring bucket. The bucket table is
  bounded (≤ ~2^(sub_bits+1) + (63-sub_bits)·2^sub_bits rows for any
  input), map-side combined, and merges by summing counts — the same
  rolling-corpus posture as ``hll_merge``/``cms_build``. Relative error:
  each bucket spans ``[top<<shift, ((top+1)<<shift)-1]``, width
  ``2^shift - 1 < lower / 2^sub_bits`` — ≤ 2^-sub_bits relative, and
  EXACT for values below ``2^(sub_bits+1)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import lit_doubles, tokens
from docling_jobkit_spark.functions.stamp import (
    check_stamp,
    merge_stamped,
    read_stamp,
    stamp,
)

# Flajolet et al. 2007 bias-correction constants.
_ALPHA = {4: 0.673, 5: 0.697, 6: 0.709}


def _alpha(p: int) -> float:
    return _ALPHA.get(p, 0.7213 / (1.0 + 1.079 / (1 << p)))


def _hash60(col) -> F.Column:
    """The repo-standard 60-bit sha256-prefix long (15 hex chars)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c.cast("string"), 256), 1, 15), 16, 10).cast(
        "long"
    )


def _hll_table(df: DataFrame, col: str, p: int, group_col: str | None) -> DataFrame:
    """The one HLL register builder: ``([grp,] bucket, register)`` with at
    most ``2^p`` rows per group. bucket = top ``p`` bits of the 60-bit
    hash; register = max over the bucket's keys of rho(remainder) =
    (#leading zero bits in the low ``S = 60-p`` bits) + 1. Rows with a
    null key (or null group) are dropped.

    Everything is whole-stage-codegen arithmetic (sha2/conv/floor/bin);
    the single groupBy is map-side combined and its key space is capped
    at ``2^p`` per group — THE scale property: the shuffle is O(m), not
    O(n). bit-length via ``length(bin(r))`` (no leading zeros in either
    engine's ``bin``); ``r = 0`` (bit length 0) is special-cased because
    ``bin(0) = '0'`` has string length 1 in both engines.
    """
    if not 4 <= p <= 18:
        raise ValueError(f"p must be in [4, 18], got {p}")
    s_bits = 60 - p
    h = _hash60(col)
    # shiftright, NOT floor(h / 2^S): Spark's `/` on longs is DOUBLE
    # division and h spans 60 bits > the 53-bit double significand —
    # bucket ids near register boundaries would round to the wrong side.
    bucket = F.shiftright(h, s_bits).cast("int")
    r = h % F.lit(1 << s_bits)
    bitlen = F.when(r == 0, F.lit(0)).otherwise(F.length(F.bin(r)))
    rho = (F.lit(s_bits) - bitlen + F.lit(1)).cast("int")
    keep = F.col(col).isNotNull()
    grp, by = [], []
    if group_col is not None:
        keep = keep & F.col(group_col).isNotNull()
        grp, by = [F.col(group_col).alias("grp")], ["grp"]
    return (
        df.where(keep)
        .select(*grp, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*by, "bucket")
        # register tables of different p merge into garbage: stamp p
        .agg(stamp(F.max("rho"), {"hll_p": p}, "register"))
    )


def hll_registers(df: DataFrame, col: str, p: int = 12) -> DataFrame:
    """The HLL register table for one key column: ``(bucket, register)``
    with at most ``2^p`` rows (see ``_hll_table``)."""
    return _hll_table(df, col, p, None)


def _require_p(registers: DataFrame, p: int, where: str) -> None:
    stored = read_stamp(registers, ["register"], ["hll_p"])
    check_stamp(
        stored,
        {"hll_p": p},
        required=False,
        mismatch=f"{where}: register table was built at p={stored.get('hll_p')}, "
        f"got p={p} — mismatched sketches never agree; rebuild with one p",
    )


def _hll_estimates(
    registers: DataFrame, p: int, where: str, by: list[str], head: list
) -> DataFrame:
    """The one HLL estimator: one row per ``by`` group (one row in all
    for ``by = []``), ``head`` columns first. The cardinality estimate
    carries the small-range linear-counting correction.

    ``Z_scaled = sum(2^(S+1-reg)) + v_zero * 2^(S+1)`` is an exact
    integer (≤ 2^61, see module docstring); the raw estimate is
    ``alpha_m * m^2 * 2^(S+1) / Z_scaled`` — one deterministic double
    division. When ``E_raw <= 2.5 m`` and some buckets are empty, linear
    counting ``m * ln(m / v_zero)`` is the better estimator (Flajolet
    §4); ``method`` records which branch fired so the oracle can branch
    identically. The aggregation runs over the bounded register rows
    (map-side combinable per group; nothing corpus-sized moves).
    """
    _require_p(registers, p, where)
    m = 1 << p
    s1 = (60 - p) + 1  # S + 1: scale exponent, also the rho=0 contribution
    alpha_m2_scaled = _alpha(p) * float(m) * float(m) * float(1 << s1)
    # shiftleft with a COLUMN bit count needs the SQL form (the pyspark
    # wrapper only accepts a literal int for numBits)
    contrib = F.expr(f"shiftleft(CAST(1 AS BIGINT), {s1} - register)")
    agg = registers.groupBy(*by).agg(
        F.count("*").alias("n_present"),
        # coalesce: SUM over an empty register table is NULL (empty/all-
        # null input column) — the all-empty sketch must still estimate 0
        F.coalesce(F.sum(contrib), F.lit(0)).cast("long").alias("z_present"),
    )
    v_zero = F.lit(m) - F.col("n_present")
    z_scaled = F.col("z_present") + v_zero * F.lit(1 << s1).cast("long")
    e_raw = F.lit(alpha_m2_scaled) / z_scaled.cast("double")
    use_lc = (e_raw <= F.lit(2.5 * m)) & (v_zero > 0)
    e_lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double"))
    return agg.select(
        *head,
        *by,
        v_zero.cast("int").alias("v_zero"),
        F.when(use_lc, F.lit("linear_counting"))
        .otherwise(F.lit("hll_raw"))
        .alias("method"),
        F.round(F.when(use_lc, e_lc).otherwise(e_raw), 2).alias("estimate"),
    )


def hll_estimate(registers: DataFrame, p: int, label: str) -> DataFrame:
    """One summary row ``(column, m, v_zero, method, estimate)`` from a
    register table (see ``_hll_estimates``)."""
    return _hll_estimates(
        registers,
        p,
        "hll_estimate",
        [],
        [F.lit(label).alias("column"), F.lit(1 << p).alias("m")],
    )


def hll_distinct(df: DataFrame, col: str, p: int = 12, label: str | None = None) -> DataFrame:
    """End-to-end: distinct-count estimate for ``df[col]``."""
    return hll_estimate(hll_registers(df, col, p), p, label or col)


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Union of sketches = element-wise max of registers — the property
    that makes HLL the right rolling-corpus state: persist one tiny
    (≤ 2^p rows) register table per crawl snapshot, and the distinct
    count of ANY union of snapshots is a merge of their sketches, never
    a rescan (the same incremental posture as minhash_index.py for
    fuzzy dedup). Exactly equal to sketching the concatenated input, not
    just approximately — pinned in tests."""
    return merge_stamped(
        register_tables,
        ["bucket"],
        F.max("register"),
        "register",
        ["hll_p"],
        "hll_merge: register tables built at different p — mismatched "
        "sketches never agree; rebuild with one p",
    )


def hll_oracle_sql(table_expr: str, col: str, p: int, label: str) -> str:
    """The exact DuckDB twin of ``hll_distinct`` — same 60-bit sha
    prefix, same integer-scaled denominator, same rounding. Kept beside
    the operator (like ``_minhash_oracle_sql``) so hash/branch changes
    update both engines in lockstep."""
    m = 1 << p
    s_bits = 60 - p
    s1 = s_bits + 1
    alpha_m2_scaled = _alpha(p) * float(m) * float(m) * float(1 << s1)
    return f"""
WITH hashed AS (
  SELECT ('0x' || substr(sha256(CAST({col} AS VARCHAR)), 1, 15))::UBIGINT::BIGINT AS h
  FROM {table_expr} WHERE {col} IS NOT NULL
), regs AS (
  SELECT CAST(h // {1 << s_bits} AS INT) AS bucket,
         MAX({s_bits} - (CASE WHEN h % {1 << s_bits} = 0 THEN 0
                              ELSE length(bin(h % {1 << s_bits})) END) + 1) AS register
  FROM hashed GROUP BY bucket
), agg AS (
  SELECT COUNT(*) AS n_present,
         CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ({s1} - register)), 0) AS BIGINT) AS z_present
  FROM regs
)
SELECT '{label}' AS "column", {m} AS m,
       CAST({m} - n_present AS INT) AS v_zero,
       CASE WHEN ({alpha_m2_scaled!r} / CAST(z_present + ({m} - n_present) * CAST({1 << s1} AS BIGINT) AS DOUBLE)) <= {2.5 * m!r}
             AND ({m} - n_present) > 0
            THEN 'linear_counting' ELSE 'hll_raw' END AS method,
       round(CASE WHEN ({alpha_m2_scaled!r} / CAST(z_present + ({m} - n_present) * CAST({1 << s1} AS BIGINT) AS DOUBLE)) <= {2.5 * m!r}
                   AND ({m} - n_present) > 0
                  THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_present AS DOUBLE))
                  ELSE {alpha_m2_scaled!r} / CAST(z_present + ({m} - n_present) * CAST({1 << s1} AS BIGINT) AS DOUBLE) END, 2) AS estimate
FROM agg
"""


def hll_intersect_estimate(
    a: DataFrame, b: DataFrame, p: int, label: str = "intersection"
) -> DataFrame:
    """Inclusion-exclusion estimate of |A ∩ B| from two register tables:
    est(A) + est(B) - est(A ∪ B), where the union estimate comes from
    ``hll_merge`` (exact sketch algebra) — the "how many urls do these
    two crawl snapshots share" answer without rescanning either corpus.

    HONEST LIMITS: unlike union (exact sketch-of-union), intersection by
    inclusion-exclusion inherits the additive error of THREE estimates —
    the relative error blows up when |A ∩ B| << |A ∪ B| (standard HLL
    caveat; a theta/KMV sketch is the right tool when small
    intersections must be resolved). The estimate is clamped at 0.
    p-stamp discipline enforced on both inputs via the merge."""
    est_a = hll_estimate(a, p, "a")
    est_b = hll_estimate(b, p, "b")
    est_u = hll_estimate(hll_merge(a, b), p, "u")
    # three one-row frames; a cross of 1×1×1 rows is a bounded scalar
    # join, not a data join
    joined = (
        est_a.select(F.col("estimate").alias("ea"))
        .crossJoin(est_b.select(F.col("estimate").alias("eb")))
        .crossJoin(est_u.select(F.col("estimate").alias("eu")))
    )
    return joined.select(
        F.lit(label).alias("column"),
        F.round(
            F.greatest(F.col("ea") + F.col("eb") - F.col("eu"), F.lit(0.0)), 2
        ).alias("estimate"),
    )


def hll_registers_by(
    df: DataFrame, group_col: str, col: str, p: int = 12
) -> DataFrame:
    """Grouped HLL: one register table PER GROUP — ``(grp, bucket,
    register)`` with at most ``2^p`` rows per group. The scale answer to
    "distinct urls per host / distinct docs per language" where an exact
    ``groupBy(g).agg(countDistinct(k))`` shuffles every (group, key)
    pair: here the shuffle is bounded by ``n_groups × 2^p`` regardless
    of corpus size, and the per-group state merges across snapshots like
    the global sketch (``hll_merge_by``). Same builder as
    ``hll_registers``; rows with a null group are dropped too."""
    return _hll_table(df, col, p, group_col)


def hll_estimate_by(registers: DataFrame, p: int) -> DataFrame:
    """One ``(grp, v_zero, method, estimate)`` row per group from a
    ``hll_registers_by`` table — the estimator of ``hll_estimate``,
    evaluated per group."""
    return _hll_estimates(registers, p, "hll_estimate_by", ["grp"], [])


def hll_merge_by(*register_tables: DataFrame) -> DataFrame:
    """Grouped-sketch merge: element-wise max per (group, bucket) —
    exactly the sketch of the unioned input, per group. Same p-stamp
    enforcement as ``hll_merge``."""
    return merge_stamped(
        register_tables,
        ["grp", "bucket"],
        F.max("register"),
        "register",
        ["hll_p"],
        "hll_merge_by: register tables built at different p — mismatched "
        "sketches never agree; rebuild with one p",
    )


def hll_grouped_oracle_sql(table_expr: str, group_col: str, col: str, p: int) -> str:
    """Exact DuckDB twin of ``hll_registers_by`` + ``hll_estimate_by``
    composed — same 60-bit sha prefix, integer-scaled denominator,
    branch rule, and rounding, evaluated per group."""
    m = 1 << p
    s_bits = 60 - p
    s1 = s_bits + 1
    alpha_m2_scaled = _alpha(p) * float(m) * float(m) * float(1 << s1)
    e_raw = (
        f"({alpha_m2_scaled!r} / CAST(z_present + ({m} - n_present)"
        f" * CAST({1 << s1} AS BIGINT) AS DOUBLE))"
    )
    return f"""
WITH hashed AS (
  SELECT {group_col} AS grp,
         ('0x' || substr(sha256(CAST({col} AS VARCHAR)), 1, 15))::UBIGINT::BIGINT AS h
  FROM {table_expr}
  WHERE {col} IS NOT NULL AND {group_col} IS NOT NULL
), regs AS (
  SELECT grp, CAST(h // {1 << s_bits} AS INT) AS bucket,
         MAX({s_bits} - (CASE WHEN h % {1 << s_bits} = 0 THEN 0
                              ELSE length(bin(h % {1 << s_bits})) END) + 1) AS register
  FROM hashed GROUP BY grp, bucket
), agg AS (
  SELECT grp, COUNT(*) AS n_present,
         CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ({s1} - register)), 0) AS BIGINT) AS z_present
  FROM regs GROUP BY grp
)
SELECT grp,
       CAST({m} - n_present AS INT) AS v_zero,
       CASE WHEN {e_raw} <= {2.5 * m!r} AND ({m} - n_present) > 0
            THEN 'linear_counting' ELSE 'hll_raw' END AS method,
       round(CASE WHEN {e_raw} <= {2.5 * m!r} AND ({m} - n_present) > 0
                  THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - n_present AS DOUBLE))
                  ELSE {e_raw} END, 2) AS estimate
FROM agg
"""


def cms_build(df: DataFrame, col: str, depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a DataFrame:
    ``(channel, bucket, cnt)`` with at most ``depth × width`` rows —
    like the HLL register table, a frequency summary whose SHUFFLED
    STATE is bounded regardless of corpus size (a full groupBy(key)
    shuffles every distinct key; the sketch shuffles ≤ d·w combined
    partial counts). Point queries overestimate with error ≤ εN
    (ε = e/width) at confidence 1-δ (δ = e^-depth) — never
    underestimate.

    Channels are independent 60-bit sha hashes of ``channel||key``
    (the salted-sha construction the minhash validation harness uses),
    so the DuckDB twin reproduces them verbatim. Sketches with equal
    (depth, width) merge by summing counts per cell — same rolling-
    corpus posture as ``hll_merge``."""
    c = F.col(col).cast("string")
    channels = F.array(
        *[
            F.struct(
                F.lit(d).alias("channel"),
                (
                    F.conv(
                        F.substring(
                            F.sha2(F.concat(F.lit(f"{d}|"), c), 256), 1, 15
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.lit(width)
                )
                .cast("int")
                .alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.where(c.isNotNull())
        .select(F.explode(channels).alias("ch"))
        .groupBy(F.col("ch.channel").alias("channel"), F.col("ch.bucket").alias("bucket"))
        # sketches of different shapes merge/probe into garbage: stamp it
        .agg(stamp(F.count("*"), {"cms_depth": depth, "cms_width": width}, "cnt"))
    )


_CMS_KEYS = ("cms_depth", "cms_width")


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union of inputs = cell-wise SUM of counts — the rolling-corpus
    merge (persist one bounded sketch per crawl snapshot; the frequency
    summary of any union is a merge, never a rescan). Exactly equal to
    sketching the concatenated input — count-sum is linear, pinned in
    tests. Raises when the inputs' stamped shapes differ."""
    return merge_stamped(
        sketches,
        ["channel", "bucket"],
        F.sum("cnt"),
        "cnt",
        _CMS_KEYS,
        "cms_merge: sketches built at different shapes — mismatched sketches "
        "never agree; rebuild with one shape",
    )


def cms_query(sketch: DataFrame, keys: DataFrame, col: str, depth: int = 4, width: int = 1024) -> DataFrame:
    """Estimated count per key: min over the ``depth`` channels of the
    key's bucket count (absent cells are exact zeros). ``keys`` is a
    small frame of distinct probe keys — the join broadcasts the probes'
    (channel, bucket) pairs against the bounded sketch; neither side is
    corpus-sized. Raises when the sketch's stamped shape differs from
    the probe parameters (the probe would hash into the wrong cells)."""
    stored = read_stamp(sketch, ["cnt"], _CMS_KEYS)
    check_stamp(
        stored,
        {"cms_depth": depth, "cms_width": width},
        required=False,
        mismatch="cms_query: sketch was built at (depth, width)="
        f"{tuple(stored.get(k) for k in _CMS_KEYS)}, got ({depth}, {width}) — "
        "mismatched sketches never agree; rebuild with one shape",
    )
    c = F.col(col).cast("string")
    probes = keys.select(
        c.alias("key"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("channel"),
                        (
                            F.conv(
                                F.substring(
                                    F.sha2(F.concat(F.lit(f"{d}|"), c), 256), 1, 15
                                ),
                                16,
                                10,
                            ).cast("long")
                            % F.lit(width)
                        )
                        .cast("int")
                        .alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("ch"),
    ).select("key", F.col("ch.channel").alias("channel"), F.col("ch.bucket").alias("bucket"))
    joined = probes.join(sketch, ["channel", "bucket"], "left").select(
        "key", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("key").agg(F.min("cnt").alias("est_count"))


def cms_oracle_sql(table_expr: str, col: str, keys_expr: str, depth: int, width: int) -> str:
    """Exact DuckDB twin of ``cms_build`` + ``cms_query`` composed —
    kept beside the operator so the hash construction drifts in
    lockstep."""
    def chan_hash(d: int) -> str:
        return (
            f"('0x' || substr(sha256('{d}' || '|' || CAST({col} AS VARCHAR)), 1, 15))"
            f"::UBIGINT::BIGINT % {width}"
        )

    chans_build = " UNION ALL ".join(
        f"SELECT {d} AS channel, CAST({chan_hash(d)} AS INT) AS bucket"
        f" FROM {table_expr} WHERE {col} IS NOT NULL"
        for d in range(depth)
    )
    chans_probe = " UNION ALL ".join(
        f"SELECT CAST({col} AS VARCHAR) AS key, {d} AS channel,"
        f" CAST({chan_hash(d)} AS INT) AS bucket"
        f" FROM {keys_expr}"
        for d in range(depth)
    )
    return f"""
WITH cells AS ({chans_build}),
sketch AS (
  SELECT channel, bucket, COUNT(*)::BIGINT AS cnt FROM cells GROUP BY 1, 2
),
probes AS ({chans_probe})
SELECT p.key, MIN(COALESCE(s.cnt, 0))::BIGINT AS est_count
FROM probes p LEFT JOIN sketch s USING (channel, bucket)
GROUP BY p.key
"""


_LOGH_META_KEY = "logh_sub_bits"


def logh_buckets(df: DataFrame, col: str, sub_bits: int = 6) -> DataFrame:
    """The log-bucket histogram for one non-negative integer metric
    column: ``(shift, top, cnt)`` — see module docstring for the
    encoding. Lexicographic (shift, top) order IS value order (the last
    bucket of shift s ends at ``(2^(sub_bits+1))<<s - 1``, strictly
    below the first bucket of s+1), which is what makes rank scans a
    single ordered sweep.

    A negative value RAISES (the mirrored-store extension of DDSketch is
    not implemented; silently folding negatives into garbage buckets is
    the failure mode that matters). NULLs are dropped, matching the
    other sketches. ``sub_bits`` is stamped in column metadata — the
    minhash_index/HLL discipline: sketches of different precision merge
    into silent garbage otherwise."""
    if not 1 <= sub_bits <= 20:
        raise ValueError(f"sub_bits must be in [1, 20], got {sub_bits}")
    c = F.col(col).cast("long")
    v = F.when(
        c < 0,
        F.raise_error(
            F.concat(
                F.lit(f"logh_buckets({col}): negative value "), c.cast("string")
            )
        ).cast("long"),
    ).otherwise(c)
    msb = F.when(F.col("_v") == 0, F.lit(0)).otherwise(F.length(F.bin("_v")))
    return (
        df.where(c.isNotNull())
        .select(v.alias("_v"))
        .select(
            "_v",
            F.greatest(msb - F.lit(sub_bits + 1), F.lit(0)).cast("int").alias("shift"),
        )
        # shiftright with a COLUMN bit count needs the SQL form (the
        # pyspark wrapper only accepts a literal int), same as the HLL
        # estimator's shiftleft
        .select("shift", F.expr("shiftright(_v, shift)").alias("top"))
        .groupBy("shift", "top")
        .agg(stamp(F.count("*"), {_LOGH_META_KEY: sub_bits}, "cnt"))
    )


def logh_merge(*sketches: DataFrame) -> DataFrame:
    """Sum of histograms == histogram of the concatenated input, EXACTLY
    (counts are additive per bucket) — persist one tiny bucket table per
    crawl snapshot and answer quantiles over any union of snapshots by
    merging sketches, never rescanning (the hll_merge posture)."""
    return merge_stamped(
        sketches,
        ["shift", "top"],
        F.sum("cnt"),
        "cnt",
        [_LOGH_META_KEY],
        "logh_merge: sketches built at different sub_bits — bucket "
        "boundaries differ; rebuild with one precision",
    )


def logh_quantiles(
    sketch: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    label: str = "value",
) -> DataFrame:
    """Quantile envelopes from a bucket table: one row per q with
    ``(metric, q, n_total, est_lower, est_upper)`` where the TRUE
    rank-``ceil(q*n)`` value is guaranteed inside [est_lower, est_upper]
    and ``est_upper - est_lower < est_lower / 2^sub_bits`` (exact
    below ``2^(sub_bits+1)``). Deterministic under any partitioning:
    rank scan = cumulative sum in (shift, top) order, which is value
    order by construction.

    The windows are single-partition ON PURPOSE: the bucket table is
    BOUNDED (≤ a few thousand rows for 63-bit inputs) regardless of
    corpus size — that is the sketch's contract; the corpus-sized work
    happened in logh_buckets' map-side-combined groupBy."""
    from pyspark.sql.window import Window

    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    w_all = Window.partitionBy(F.lit(1))
    w_cum = (
        Window.partitionBy(F.lit(1))
        .orderBy("shift", "top")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b = sketch.select(
        "shift",
        "top",
        F.sum("cnt").over(w_all).alias("n_total"),
        F.sum("cnt").over(w_cum).alias("cum"),
    )
    # bucket lower/upper bounds are STRICTLY increasing in (shift, top)
    # order (disjoint intervals), so min(lower)/min(upper) over the
    # buckets whose cum reaches the rank both come from the same — the
    # first — qualifying bucket; no argmin struct needed
    return (
        b.select(
            "*", F.explode(lit_doubles(float(q) for q in qs)).alias("q")
        )
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n_total")).cast("long"))
        .groupBy("q")
        .agg(
            F.max("n_total").alias("n_total"),
            F.min(F.expr("shiftleft(top, shift)")).alias("est_lower"),
            F.min(F.expr("shiftleft(top + 1, shift) - 1")).alias("est_upper"),
        )
        .select(F.lit(label).alias("metric"), "q", "n_total", "est_lower", "est_upper")
        .orderBy("q")
    )


def logh_quantile_sketch(
    df: DataFrame,
    col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    sub_bits: int = 6,
    label: str | None = None,
) -> DataFrame:
    """End-to-end: quantile envelopes for ``df[col]``."""
    return logh_quantiles(logh_buckets(df, col, sub_bits), qs, label or col)


def logh_oracle_sql(
    table_expr: str,
    col: str,
    qs: tuple[float, ...],
    sub_bits: int,
    label: str,
) -> str:
    """Exact DuckDB twin of ``logh_quantile_sketch`` — same integer
    bucketing (bin/length/shifts are bit-identical in both engines),
    same rank rule, kept beside the operator so encoding changes update
    both engines in lockstep."""
    q_list = ", ".join(repr(float(q)) for q in qs)
    t = sub_bits + 1
    return f"""
WITH vals AS (
  SELECT CAST({col} AS BIGINT) AS v FROM {table_expr} WHERE {col} IS NOT NULL
), bkt AS (
  SELECT CAST(greatest((CASE WHEN v = 0 THEN 0 ELSE length(bin(v)) END) - {t}, 0) AS INT) AS shift, v
  FROM vals
), sk AS (
  SELECT shift, v >> shift AS top, COUNT(*)::BIGINT AS cnt FROM bkt GROUP BY 1, 2
), c AS (
  SELECT shift, top,
         SUM(cnt) OVER () AS n_total,
         SUM(cnt) OVER (ORDER BY shift, top ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM sk
), qd AS (SELECT unnest(CAST([{q_list}] AS DOUBLE[])) AS q)
SELECT '{label}' AS metric, q, max(n_total)::BIGINT AS n_total,
       min(top << shift)::BIGINT AS est_lower,
       min(((top + 1) << shift) - 1)::BIGINT AS est_upper
FROM c JOIN qd ON c.cum >= CAST(ceil(qd.q * c.n_total) AS BIGINT)
GROUP BY q ORDER BY q
"""


def ngram_topk(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Corpus heavy hitters: the top-``k`` most frequent word ``n``-grams
    with a TOTAL ordering (count desc, gram asc) so the result is
    deterministic under any partitioning.

    Scale shape: explode → groupBy(gram).count() is map-side combined
    (partial counts per partition, only the combined (gram, count) pairs
    shuffle), and the final top-k is a TakeOrdered over the aggregated
    stream — no global sort materializes. ``min_count`` prunes the
    singleton long tail BEFORE the ordering (at web scale most n-grams
    are hapax legomena; dropping them cuts the ordered stream by ~half).
    Tokenization matches the repo's whitespace ``tokens()`` (lowercased),
    the same convention as repetition_signals' oracle.
    """
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    # the explode + per-token gram construction is the cost, not the
    # scan — guard against single-split inputs (no-op at corpus scale)
    df = spread_for_compute(df)
    toks = tokens(F.lower(F.col(text_col)))
    # guard, don't greatest(): sequence(1, 0) steps BACKWARD in Spark
    # ([1, 0]) — a < n-token doc must emit zero grams, not two bogus ones
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_count"))
        .where(F.col("n_count") >= min_count)
        .orderBy(F.col("n_count").desc(), F.col("gram"))
        .limit(k)
    )
