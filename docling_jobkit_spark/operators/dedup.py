"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Core training-data-pipeline ops (build brief), designed Spark-first:

- **exact**: hash-groupBy on the normalized-text sha256 — one shuffle on
  a uniform 256-bit key; min(doc_id) is the canonical representative.
- **jaccard pairs**: word-set Jaccard over a *blocked* self-join — the
  equi-join key caps the candidate space, Catalyst picks broadcast vs
  sort-merge. Exact arithmetic: |∩| and |∪| are ints.
- **MinHash+LSH**: shingle → 64 permutation-min signatures → band/bucket
  → bucket-join. Shingle hashes come from sha256 hex prefixes (stable_
  hash64) so signatures are reproducible in ANY engine; permutations are
  the classic (a·x + b) mod p family with hardcoded odd constants.
  All array math uses Spark higher-order functions (transform/aggregate)
  — zero Python in the plan.
- **SimHash**: 48-bit sign-sum over token hashes, Hamming-distance
  candidate pairs via band equality on hex slices.

Scale notes: LSH bucket join shuffles on (band, bucket) — uniformly
hashed keys, no skew; candidate verification is a narrow join of doc ids
then one gather of token sets. At 10^12 docs the band width/rows tune
recall vs shuffle volume; constants here follow the standard r=4,b=16
operating point for ~0.5 Jaccard threshold.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import (
    content_hash,
    lit_longs,
    single_eval,
    stable_hash64,
    tokens,
)

# 16 bands × 4 rows/band = 64 minhash channels over the 2^61-1 prime
# field. Each channel's permutation is h_i(x) = (hi(x)·A_i + lo(x)·C_i
# + B_i) mod p over the TWO 30-bit halves of a 60-bit sha base hash —
# the products reach ~2^61 so the mod genuinely wraps and each channel
# ranks the shingles differently (with small single-coefficient
# multipliers the affine map is monotone in x — no wrap — and all 64
# channels pick the SAME global-min shingle: a degenerate signature
# whose agreement is always 0/64 or 64/64 and whose per-band collision
# probability collapses from j^r to j; measured against salted-sha
# ideal MinHash this family estimates Jaccard with the theoretical
# sqrt(j(1-j)/64) error). Overflow-free by construction: hi,lo < 2^30,
# A,C < 2^31 → each product < 2^61, the 3-term sum < 2^63 — exact in a
# signed long in Spark, DuckDB, and Python alike.
MINHASH_PRIME = (1 << 61) - 1
N_HASHES = 64
BANDS = 16
ROWS_PER_BAND = N_HASHES // BANDS
_BASE_BITS = 60
_HALF = 1 << 30
_M64 = (1 << 64) - 1


def _splitmix64(seed: int):
    """splitmix64 (Steele et al. 2014, public constants) — deterministic
    stream for the permutation coefficients; pure Python ints."""
    s = seed & _M64
    while True:
        s = (s + 0x9E3779B97F4A7C15) & _M64
        z = s
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
        yield z ^ (z >> 31)


def _perm_consts() -> list[tuple[int, int, int]]:
    g = _splitmix64(0x6D696E68617368)  # b"minhash"
    out = []
    for _ in range(N_HASHES):
        a = _HALF | (next(g) % _HALF) | 1  # odd, in [2^30, 2^31)
        c = _HALF | (next(g) % _HALF) | 1
        b = next(g) % (1 << 60)
        out.append((a, c, b))
    return out


_PERMS = _perm_consts()


def spread_for_compute(df: DataFrame, key=None) -> DataFrame:
    """Guarantee CPU parallelism for compute-heavy projections.

    A small single-row-group parquet file scans as ONE task, which would
    serialize the shingle/signature computation (higher-order functions
    are interpreted, ~µs per element — the scan is not the cost, the
    expressions are). If the input has fewer partitions than
    ``spark.sql.shuffle.partitions``, repartition the RAW rows first (a
    tiny shuffle of text, far cheaper than serialized compute). At corpus
    scale the scan already has >= that many splits and this is a no-op —
    no shuffle is added on the 100 TB path.

    Partition inference is PLAN-ONLY: ``inputFiles()`` reads the scan's
    (already listed, driver-cached) file index — no ``df.rdd`` conversion
    of the analyzed plan per invocation. A file count below the target is
    treated as under-parallel; the one imprecision is a handful of giant
    files that would split into >= target scan partitions anyway, where
    this adds a harmless repartition — at corpus scale file counts exceed
    core counts by orders of magnitude and the branch is never taken.
    Non-file sources (in-memory test relations) report zero files and are
    repartitioned, which is exactly the single-partition case this guards.

    A derived plan that was ALREADY repartitioned to >= target (few leaf
    files, but an explicit exchange upstream) is detected from the
    analyzed logical plan and left alone — no redundant second shuffle.
    Only the OUTERMOST repartition-like node counts: the analyzed plan
    prints outermost-first, so the first ``Repartition``/
    ``RepartitionByExpression`` line is the one that determines the
    DataFrame's output partitioning. Matching anywhere in the string
    (the old behavior) would let an exchange buried below a later
    coalesce falsely skip the guard. ``Repartition n, false`` is a
    COALESCE — it never certifies parallelism. Anything uncertain (no
    match, a changed node format in a future Spark, an outermost
    coalesce) takes the conservative branch and repartitions. The check
    is string-plan-only: no physical planning, no ``df.rdd``.

    ``key`` (a unique-id column name/Column) switches the repartition
    from keyless round-robin to HASH partitioning on the key: every
    keyless ``repartition(n)`` first locally sorts its input rows
    (``spark.sql.execution.sortBeforeRepartition``, the determinism-
    under-retry mechanism — guide §2.5), and for wide text rows that
    sort is real CPU; a hash partition on a unique id is deterministic
    by construction and skips it (measured at sf0.1: gates-over-spread
    7.5 → 6.5 CPU-s, uniform 134-176 rows/partition on 32). Pass only
    genuinely-unique keys — a hot key would concentrate its rows."""
    target = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if len(df.inputFiles()) >= target:
        return df
    plan = df._jdf.queryExecution().analyzed().toString()
    m = re.search(
        r"Repartition (\d+), (true|false)|RepartitionByExpression \[.*?\], (\d+)",
        plan,
    )
    if m is not None:
        if m.group(3) is not None:  # RepartitionByExpression with explicit n
            n, shuffled = int(m.group(3)), True
        else:
            n, shuffled = int(m.group(1)), m.group(2) == "true"
        if shuffled and n >= target:
            return df
    if key is not None:
        return df.repartition(target, F.col(key) if isinstance(key, str) else key)
    return df.repartition(target)


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize a multi-consumer intermediate (filter-verify tables:
    shingle sets, ordered sets, signatures). localCheckpoint truncates
    lineage and its blocks are GC-released with the DataFrame — the right
    default for interactive/bench sessions where cached plans would pile
    up in the CacheManager. TRADEOFF: truncated lineage means an executor
    loss after materialization fails the job instead of recomputing a few
    tasks; a long-running production job on preemptible nodes should swap
    this single call site for .persist(StorageLevel.MEMORY_AND_DISK_2)
    or a reliable-storage checkpoint."""
    return df.localCheckpoint(eager=False)


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) texts: one row per content
    hash with the canonical id, member count, and member ids."""
    h = content_hash(text_col)
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count("*").alias("n_members"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
    )


def word_shingles(text_col, k: int = 3):
    """k-word shingles as strings (distinct), via higher-order functions:
    transform over token index range → slice-join.

    Documents with fewer than k tokens yield an EMPTY shingle set — the
    same semantics as the DuckDB oracle, whose ``words[i+1]||' '||words[i+2]``
    produces NULLs that ``list_distinct`` drops. (Previously Spark emitted
    one partial shingle here, a cross-engine divergence on <k-token docs.)"""
    toks = tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i, k), " "))
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang",),
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_k: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by set Jaccard within blocks.

    ``prefix_filter=True`` switches to the PPJoin-style prefix-filtered
    plan: identical output, but candidates come from an equi-join on
    rare prefix elements instead of the all-pairs block join — the
    variant that survives at corpus scale (measured: 233 s → seconds on
    5k docs; all-pairs is quadratic in block size).

    ``shingle_k=None`` compares distinct-word sets; ``shingle_k=k``
    compares k-word shingle sets (far more discriminative on
    small-vocabulary corpora — word sets saturate when most documents
    share the vocabulary). Jaccard ≥ num/den tested in integer
    arithmetic (deterministic): |∩| * den ≥ |∪| * num.
    """
    df = spread_for_compute(df, key=id_col)
    if shingle_k is not None:
        words = word_shingles(text_col, shingle_k)
    else:
        words = F.array_distinct(tokens(F.lower(F.col(text_col))))
    if prefix_filter:
        return _jaccard_pairs_prefix(
            df, words, id_col, block_cols, threshold_num, threshold_den
        )
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        words.alias("words"),
        F.size(words).alias("nw"),
    )
    a = base.select(
        F.col("id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("words").alias("words_a"),
        F.col("nw").alias("nw_a"),
    )
    b = base.select(
        F.col("id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("words").alias("words_b"),
        F.col("nw").alias("nw_b"),
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    # length-ratio prefilter (standard set-similarity-join pruning):
    # J(A,B) ≥ t ⇒ |A|/|B| and |B|/|A| ≥ t — a NECESSARY condition, so
    # the output is unchanged but the expensive intersect runs on far
    # fewer pairs (measured: 68 s → a few s on 5k docs at t=0.6)
    cond = (
        cond
        & (F.col("nw_a") * threshold_den >= F.col("nw_b") * threshold_num)
        & (F.col("nw_b") * threshold_den >= F.col("nw_a") * threshold_num)
    )
    joined = a.join(b, on=cond)
    inter = F.size(F.array_intersect("words_a", "words_b"))
    union = F.size(F.array_union("words_a", "words_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            inter.alias("n_common"),
            union.alias("n_union"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(
            (F.col("n_common") * threshold_den >= F.col("n_union") * threshold_num)
            & (F.col("n_union") > 0)
        )
    )


def _jaccard_pairs_prefix(
    df: DataFrame,
    words,
    id_col: str,
    block_cols: tuple[str, ...],
    threshold_num: int,
    threshold_den: int,
) -> DataFrame:
    """Prefix-filtered set-similarity join (PPJoin family, public
    algorithm): J(A,B) ≥ t implies A and B share at least one element
    among the first ``n - ceil(t·n) + 1`` elements under ANY global total
    order. The order used here is ASCENDING DOCUMENT FREQUENCY (rarest
    token first, ties broken lexicographically) — the classic PPJoin
    ordering, which makes prefixes carry the rarest tokens and shrinks the
    candidate equi-join by orders of magnitude versus a lexicographic
    prefix. The candidate join also applies the length-ratio filter
    (J ≥ t ⇒ t·|B| ≤ |A| ≤ |B|/t), so oversized/undersized pairs never
    reach verification. Exact verification afterwards — output identical
    to the all-pairs plan.

    Plan shape at scale: one token-frequency agg (shuffle on token), one
    doc re-group (shuffle on id), the prefix candidate equi-join (shuffle
    on rare tokens — uniform by construction: a token's fan-out is its
    document frequency, and prefixes prefer the LOW-frequency tokens),
    then an id-keyed verify join. No quadratic block join anywhere.

    Shingles travel as 52-bit sha-prefix HASHES (8-byte longs), not
    strings: the frequency agg, prefix join, and verify intersections all
    shuffle/compare longs — a large constant-factor win at corpus scale.
    |∩|/|∪| are unchanged (collision probability ~|vocab|²/2^53), and the
    DuckDB oracle hashes identically, so the check is still exact.

    The prefix rows are extracted with a WINDOW RANK over (df_t, t)
    within each doc, not by re-grouping every doc's shingles into a
    frequency-sorted array: only the PREFIX needs the global order (the
    verify intersections are order-independent sizes), and the former
    collect_list→array_sort→transform regroup plus the re-explode of the
    sorted arrays was the single largest CPU block of the operator
    (measured at sf0.1: 36.5 → 27.9 CPU-s end to end, identical pairs).
    One exchange (the window's hash partition by id) replaces two (the
    regroup and the prefix re-explode's lineage), and the per-doc
    interpreted array sort disappears."""
    from pyspark.sql import Window

    hashed = F.transform(words, lambda s: stable_hash64(s, bits=52))
    sets = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        hashed.alias("sh"),
    # materialized ONCE: the tokenize→shingle→sha chain is the dominant
    # interpreted cost and would otherwise re-run for the freq agg, the
    # prefix ranking, and both verify sides
    )
    sets = _materialize(sets)
    tok = sets.select(
        "id", *block_cols, F.size("sh").alias("n"), F.explode("sh").alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("df_t"))
    n = F.col("n")
    # ceil(n * num / den) in integer arithmetic
    tceil = F.floor((n * threshold_num + threshold_den - 1) / threshold_den).cast("int")
    plen = F.greatest(n - tceil + 1, F.lit(1))
    # rank each doc's shingles rarest-first under the global (df_t, t)
    # total order and keep only the prefix rows — these ARE the candidate
    # join input, no sorted-array rebuild, no second explode
    w = Window.partitionBy("id").orderBy(F.asc("df_t"), F.asc("t"))
    base = (
        tok.join(freq, on="t")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= plen)
        .select(F.col("t").alias("ptok"), *block_cols, "id", "n")
        # prefix rows feed BOTH sides of the candidate self-join;
        # without a materialization Spark recomputes the freq-join +
        # window chain per side — see _materialize for the
        # recoverability tradeoff
    )
    base = _materialize(base)
    left = base.select(
        F.col("ptok").alias("ptok_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        F.col("id").alias("id_a"),
        F.col("n").alias("n_a"),
    )
    right = base.select(
        F.col("ptok").alias("ptok_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("id").alias("id_b"),
        F.col("n").alias("n_b"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (F.col("ptok_a") == F.col("ptok_b"))
    for c in block_cols:
        cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
    # length-ratio filter at candidate time (necessary condition for J ≥ t)
    cond = (
        cond
        & (F.col("n_a") * threshold_den >= F.col("n_b") * threshold_num)
        & (F.col("n_b") * threshold_den >= F.col("n_a") * threshold_num)
    )
    cands = left.join(right, on=cond).select("id_a", "id_b").distinct()
    # verify against the UNORDERED materialized sets: |∩| and |∪| are
    # sizes, invariant to element order, so the prefix ranking never
    # needs to be re-attached to the full arrays
    verify_sets = sets.select("id", "sh")
    j = (
        cands.join(
            verify_sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            on="id_a",
        )
        .join(
            verify_sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            on="id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # one intersect per pair: the threshold filter would re-inline it
    stats = F.struct(inter.alias("nc"), union.alias("nu"))
    jj = j.select("id_a", "id_b", single_eval(stats).alias("_ps"))
    return jj.select(
        "id_a",
        "id_b",
        F.col("_ps")["nc"].alias("n_common"),
        F.col("_ps")["nu"].alias("n_union"),
        F.round(F.col("_ps")["nc"] / F.col("_ps")["nu"], 6).alias("jaccard"),
    ).filter(
        (F.col("n_common") * threshold_den >= F.col("n_union") * threshold_num)
        & (F.col("n_union") > 0)
    )


def minhash_signature(text_col, k: int = 3):
    """array<long> of N_HASHES permutation minima over shingle hashes."""
    return minhash_signature_from_shingles(word_shingles(text_col, k))


_SIG_INIT = 1 << 62  # aggregate() init per channel; empty shingle set = all-init


def minhash_signature_from_shingles(sh_col):
    """Signature from an ALREADY-COMPUTED shingle column — lets pipelines
    that also need the raw shingles (verification) tokenize once. The
    pure-Catalyst fold ``_minhash_oracle_sql`` mirrors."""
    sh = F.col(sh_col) if isinstance(sh_col, str) else sh_col
    # 60-bit base hash split into two 30-bit halves; see the family
    # derivation at the _PERMS definition (overflow-free, wraps mod p)
    base_hashes = F.transform(sh, lambda s: stable_hash64(s, bits=_BASE_BITS))
    # SINGLE PASS over the shingle hashes, updating all 64 minima at once.
    # The naive form (64 × array_min(transform(base_hashes, perm_i))) makes
    # Catalyst re-evaluate the whole tokenize→shingle→sha256 chain per
    # permutation — 64× the work (measured: ~15× slower end to end).
    # ONE py4j round trip for the whole coefficient array: the
    # column-API form (64 structs × 3 lit/cast/alias each) costs ~700
    # gateway calls ≈ 0.8-2 s of pure driver latency PER CALL — the
    # dominant fixed cost of every ingest commit (measured via cProfile;
    # the parsed expression tree is value-identical, test-pinned)
    consts = F.expr(
        "array("
        + ",".join(f"named_struct('a',{a}L,'c',{c}L,'b',{b}L)" for a, c, b in _PERMS)
        + ")"
    )
    init = F.expr(f"array_repeat(cast({_SIG_INIT} as bigint), {N_HASHES})")
    half_mask = F.lit(_HALF - 1).cast("long")
    return F.aggregate(
        base_hashes,
        init,
        lambda acc, x: F.zip_with(
            acc,
            consts,
            lambda m, k: F.least(
                m,
                (
                    F.shiftright(x, 30) * k.a
                    + x.bitwiseAND(half_mask) * k.c
                    + k.b
                )
                % MINHASH_PRIME,
            ),
        ),
    )


def with_minhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return spread_for_compute(df).withColumn("minhash", minhash_signature(text_col))


_BUCKET_BITS = 60  # band bucket key width (sha prefix → long)


def _minhash_bands(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The one MinHash signing and banding: ``(sh, bands)``.

    ``sh`` is the materialized ``(id, sh)`` shingle table (computed ONCE,
    so the signature fold and an exact-Jaccard verify share it) with
    empty-shingle docs dropped: <k-token docs have all-empty signatures,
    which are identical, collide in every band and would make a
    quadratic candidate set; they can never be near-duplicates. The
    filter sits ABOVE the materialization on purpose: below it, Catalyst
    pushes the predicate under the projection and re-inlines the whole
    shingle expression (measured ~+50% CPU for a "free" filter).

    ``bands`` is ``(band, bucket, id, sig)``, one row per (doc, band) —
    the persisted index's row shape. The bucket is the 60-bit sha256
    prefix of the band slice's JSON, a LONG (8 bytes against 64 for the
    hex string, per row × 16 rows per doc). A (≈2^-60) bucket collision
    only adds a candidate, which every caller's verify removes."""
    sh = _materialize(
        df.select(F.col(id_col).alias("id"), word_shingles(text_col).alias("sh"))
    ).filter(F.size("sh") > 0)
    # one signature fold per doc, not one per band slice
    sig = sh.select(
        "id", single_eval(minhash_signature_from_shingles("sh")).alias("sig")
    )
    r = ROWS_PER_BAND
    bands = sig.select(
        F.col("id"),
        F.col("sig"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: stable_hash64(
                    F.to_json(F.slice("sig", b * r + 1, r)), bits=_BUCKET_BITS
                ),
            )
        ).alias("band", "bucket"),
    ).select("band", "bucket", "id", "sig")
    return sh, bands


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    spread: bool = True,
) -> DataFrame:
    """Full MinHash pipeline: LSH candidates verified with exact Jaccard
    over word shingles (false positives removed; the standard
    filter-and-verify shape).

    Shingles are computed ONCE and materialized (localCheckpoint): the
    signature fold, both verify joins, and the banding all derive from the
    same shingle table instead of re-tokenizing the corpus per consumer.

    ``spread=False`` skips the entry parallelism guard — for callers
    whose input is ALREADY wide (a spread-then-checkpointed frame, whose
    LogicalRDD plan the guard cannot certify and would re-shuffle): the
    guard's keyless repartition moves the full text payload again for
    nothing (the curation funnel measured ~-1 s wall / -5 CPU-s dropping
    its two redundant inner spreads)."""
    if spread:
        df = spread_for_compute(df, key=id_col)
    sh, bands = _minhash_bands(df, text_col, id_col)
    left = bands.select("band", "bucket", F.col("id").alias("id_a"))
    right = bands.select("band", "bucket", F.col("id").alias("id_b"))
    cands = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    j = cands.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), on="id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), on="id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    # one intersect/union per pair: the threshold filter would re-inline it
    stats = F.struct(inter.alias("nc"), union.alias("nu"))
    jj = j.select("id_a", "id_b", single_eval(stats).alias("_ps"))
    # union > 0 guard: two empty shingle sets (sub-k-token docs) collide in
    # every LSH bucket but have no defined Jaccard — drop, both engines
    return jj.filter(
        (F.col("_ps")["nc"] * threshold_den >= F.col("_ps")["nu"] * threshold_num)
        & (F.col("_ps")["nu"] > 0)
    ).select(
        "id_a",
        "id_b",
        F.round(F.col("_ps")["nc"] / F.col("_ps")["nu"], 6).alias("jaccard"),
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 48


def simhash(text_col):
    """48-bit SimHash of the token multiset, via higher-order functions:
    per-bit sign sums of token hashes, no Python.

    bit_i(doc) = 1 iff Σ_tokens (hash(token) bit i ? +1 : -1) > 0
    """
    toks = tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))
    hashes = F.transform(toks, lambda t: stable_hash64(t))
    zeros = F.transform(
        F.sequence(F.lit(1), F.lit(SIMHASH_BITS)), lambda _: F.lit(0).cast("long")
    )
    # bit masks as an array literal — shiftleft/right need static shift
    # amounts in the DataFrame API, masks don't
    masks = lit_longs(1 << i for i in range(SIMHASH_BITS))
    # single pass: accumulate a 48-long sign-sum vector, then fold to bits
    sums = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) > 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    return spread_for_compute(df).withColumn("simhash", simhash(text_col))


def simhash_near_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Hamming-≤k pairs: band the 48-bit simhash into 4 12-bit chunks —
    any pair within distance 3 shares ≥1 exact chunk (pigeonhole), so the
    join is an equi-join on (chunk_idx, chunk_value), then verified with
    bit_count(xor)."""
    sh = spread_for_compute(df, key=id_col).select(
        F.col(id_col).alias("id"), simhash(text_col).alias("sh")
    )
    # materialize the signatures: the chunk explode feeds a self-join
    # (left/right) — without this the interpreted 48-bit sign-sum fold
    # recomputes per branch
    sh = _materialize(sh)
    chunks = sh.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), 12 * i).bitwiseAND(F.lit(0xFFF))
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    left = chunks.select("chunk_idx", "chunk_val", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = chunks.select("chunk_idx", "chunk_val", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = (
        left.join(right, on=["chunk_idx", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.select("id_a", "id_b", ham.alias("hamming")).filter(
        ham <= max_hamming
    )


# --- Segment (paragraph-level) corpus dedup --------------------------------


def segment_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_words: int = 3,
) -> DataFrame:
    """Corpus-level duplicated-segment statistics (CCNet/RefinedWeb-style
    paragraph dedup, adapted to newline-free text): split each document
    into consecutive NON-overlapping ``seg_words``-word segments, hash
    each segment, and report per document how many of its segment
    instances also occur in at least one OTHER document.

    Output: one row per doc with >= seg_words tokens — (id, n_segs,
    n_dup_segs, dup_seg_frac). A trailing remainder shorter than
    ``seg_words`` is ignored (deterministic; both engines agree).

    Plan shape (the 100 TB path): explode -> groupBy(seg_hash, id) with
    map-side combine -> groupBy(seg_hash) for the distinct-doc count ->
    one equi-join back on seg_hash -> groupBy(id). Every shuffle key is a
    uniform 56-bit content hash or doc id — no skew; the join carries
    only (hash, id, cnt) rows, never text. The segment hash is the
    cross-engine ``stable_hash64`` so the DuckDB oracle reproduces it
    bit-for-bit."""
    toks = tokens(F.lower(F.col(text_col)))
    n_full = F.floor(F.size(toks) / seg_words).cast("int")
    segs = F.when(
        F.size(toks) >= seg_words,
        F.transform(
            F.sequence(F.lit(0), n_full - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * seg_words + 1, seg_words)),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    seg_rows = (
        spread_for_compute(df, key=id_col)
        .select(F.col(id_col).alias("id"), F.explode(segs).alias("seg"))
        .select("id", stable_hash64("seg").alias("seg_hash"))
    )
    per_doc_seg = seg_rows.groupBy("seg_hash", "id").agg(F.count("*").alias("cnt"))
    freq = per_doc_seg.groupBy("seg_hash").agg(F.count("*").alias("n_docs_with_seg"))
    joined = per_doc_seg.join(freq, on="seg_hash")
    n_dup = F.sum(
        F.when(F.col("n_docs_with_seg") > 1, F.col("cnt")).otherwise(0)
    ).cast("int")
    n_segs = F.sum("cnt").cast("int")
    return joined.groupBy("id").agg(
        n_segs.alias("n_segs"),
        n_dup.alias("n_dup_segs"),
        F.round(n_dup / n_segs, 6).alias("dup_seg_frac"),
    )


# --- Near-dup cluster resolution (connected components) --------------------


def near_dup_clusters(
    pairs: DataFrame,
    max_iterations: int = 20,
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """Resolve pairwise near-duplicate output into CLUSTERS: connected
    components over the (id_a, id_b) edge set, labeling every member
    with the minimum doc id of its component — the canonical
    representative the keep-one-per-cluster step needs (pairwise dedup
    alone under-deletes: A~B and B~C may hold while A~C was never
    emitted, yet all three are one duplicate group).

    Algorithm: iterative min-label propagation WITH pointer jumping.
    Each round every node takes min(own label, neighbors' labels) via
    one shuffle join on the symmetrized edge list, then shortcuts
    through its label (label := label's label — a labels⋈labels self
    join), so chain-shaped components (templated pages drifting
    gradually) converge in O(log diameter) rounds instead of O(diameter)
    — 20 rounds covers diameters up to ~10^6. Near-dup components are
    usually star-like and converge in a handful of rounds regardless;
    the edge table is labels-joined only (two long columns), never text.
    Each round's result is localCheckpointed: without it the join
    lineage doubles per round and the final DAG re-evaluates every prior
    round per consumer.

    If the loop exhausts ``max_iterations`` with labels still changing,
    raises ``RuntimeError`` rather than silently returning split
    clusters (keep-one dedup over a partial merge under-deletes with no
    signal — the failure mode must be loud).

    Input: any DataFrame with long columns id_a, id_b (the output shape
    of jaccard_pairs / minhash_near_duplicates / simhash_near_duplicates
    / embedding_near_duplicates). Returns (id, cluster_id) for every id
    that appears in at least one pair; singletons never enter a pair and
    keep themselves by definition (left-join + coalesce at the caller,
    see canonical_ids)."""
    # pre-partitioned by dst: localCheckpoint preserves the output
    # partitioning, so every round's neighbor join reads the stored
    # layout instead of re-exchanging the edge list (one narrow shuffle
    # paid once vs once per round — the pagerank treatment, guide §2.4)
    edges = _materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .repartition("dst")
    )
    # SIZE-ADAPTIVE resolution (the AQE-broadcast analog): the edge set
    # is usually orders of magnitude smaller than the corpus (one row
    # per near-duplicate RELATION), and the distributed loop's per-round
    # fixed cost (3 joins + checkpoint + convergence count, each a
    # sequential job) dwarfs the actual work on a small graph. Below the
    # threshold (~3 MB of (long, long) rows — the same magnitude Spark
    # broadcasts without blinking) the materialized edges are pulled
    # once and resolved with an exact union-find; labels are identical
    # by construction (min-id per component is algorithm-independent,
    # pinned by test_near_dup_clusters_local_matches_distributed). The
    # count gate itself reads the checkpointed edges the loop needs
    # anyway. Above the threshold — any corpus at scale — the
    # distributed pointer-jumping loop below runs unchanged.
    n_edges = edges.count()
    if n_edges <= local_edge_threshold:
        pdf = edges.toPandas()
        parent: dict = {}

        def _find(x):
            r = parent.setdefault(x, x)
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            ra, rb = _find(a), _find(b)
            if ra != rb:
                # min root wins → the final root IS the component min id
                parent[max(ra, rb)] = min(ra, rb)
        import pandas as pd

        nodes = list(parent)
        out = pd.DataFrame(
            {
                "id": pd.Series(nodes, dtype="int64"),
                "cluster_id": pd.Series([_find(x) for x in nodes], dtype="int64"),
            }
        )
        return pairs.sparkSession.createDataFrame(
            out, "id bigint, cluster_id bigint"
        )
    labels = edges.groupBy("src").agg(F.min("dst").alias("nbr_min")).select(
        F.col("src").alias("id"),
        F.least(F.col("src"), F.col("nbr_min")).alias("cluster_id"),
    )
    labels = _materialize(labels)
    for it in range(max_iterations):
        nbr = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # the PRE-round label rides along as _old so convergence is a
        # filter over the round's own checkpointed output — the previous
        # labels⋈new_labels compare join was one extra shuffle join per
        # round, pure fixed latency on an iterative loop
        new_labels = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                "id",
                F.col("cluster_id").alias("_old"),
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nbr_label"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        # pointer jump: label := label's label. Every label IS a node id
        # (mins over node ids) and labels covers every node, so the self
        # join always resolves; labels[x].cluster_id <= x keeps the min
        # invariant. This is the doubling step that makes chains O(log d).
        # Skipped in round 1: star-like components (the near-dup common
        # case) converge in 1-2 rounds where the jump join is pure
        # overhead (+44% CPU measured at sf0.1); chains still converge in
        # O(log d) overall with the jump active from round 2.
        if it > 0:
            parent = new_labels.select(
                F.col("id").alias("_pid"), F.col("cluster_id").alias("_plabel")
            )
            new_labels = (
                new_labels.join(
                    parent, new_labels["cluster_id"] == parent["_pid"], "left"
                )
                .select(
                    "id",
                    "_old",
                    F.coalesce(F.col("_plabel"), F.col("cluster_id")).alias(
                        "cluster_id"
                    ),
                )
            )
        new_labels = _materialize(new_labels)
        changed = (
            new_labels.filter(F.col("cluster_id") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("id", "cluster_id")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} rounds "
            "(component diameter > ~2^rounds with pointer jumping); returning "
            "partially merged clusters would silently under-delete"
        )
    return labels


def canonical_ids(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Stamp every document with its dedup cluster id (itself for
    singletons) and the keep/drop decision: keep iff the doc IS its
    cluster's canonical (minimum) id."""
    c = clusters.withColumnRenamed("id", id_col)
    out = df.join(c, on=id_col, how="left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return out.withColumn("is_canonical", F.col("cluster_id") == F.col(id_col))
