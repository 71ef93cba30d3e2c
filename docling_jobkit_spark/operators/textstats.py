"""Text-analysis operators for training-data pipelines.

Beyond the reference's own surface (per the build brief): language-ID,
quality scoring, token counting, fingerprinting — each a pure relational
expression (no Python UDFs, whole-stage codegen end to end) so Catalyst
can fuse them with the scan and each has an exact DuckDB oracle.

Scale note: every function here is a narrow projection — at 100 TB these
run at scan speed with full column pruning; nothing shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import (
    fingerprint,
    normalized_text,
    single_eval,
    token_count,
    tokens,
)

# Tiny per-language stopword inventories (public common-word lists).
# Deterministic language-ID: argmax of distinct-stopword hits with a fixed
# priority order for ties (en > de > fr > es > it).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "on"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "für", "von"),
    "fr": ("le", "la", "et", "les", "des", "est", "pour", "dans", "que", "une"),
    "es": ("el", "la", "que", "de", "los", "por", "con", "una", "para", "es"),
    "it": ("il", "la", "che", "di", "per", "con", "una", "sono", "del", "non"),
}
LANG_ORDER = ("en", "de", "fr", "es", "it")

PUNCT_CLASS = r"[.,!?;:]"


def _words_lower(text_col) -> Column:
    return tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))


def lang_hits(text_col, lang: str) -> Column:
    """Distinct stopword hits for one language (array_intersect is
    distinct-semantics in both Spark and DuckDB's list_intersect)."""
    return F.size(
        F.array_intersect(
            _words_lower(text_col), F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        )
    )


def lang_id(text_col) -> Column:
    """Argmax language with deterministic tie-break: scan LANG_ORDER and
    pick the first language achieving the max hit count ('und' if zero)."""
    hits = {lg: lang_hits(text_col, lg) for lg in LANG_ORDER}
    best = F.greatest(*[hits[lg] for lg in LANG_ORDER])
    expr = F.lit("und")
    # build right-to-left so earlier languages win ties
    for lg in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (hits[lg] == best), F.lit(lg)).otherwise(expr)
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / digit ratio features — the usual
    web-corpus quality signals, all codegen-friendly.

    Ratios are exact rational values of integer counts (deterministic
    across engines; division order fixed)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tok = token_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_CLASS), 0))
    n_digit = F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), 0))
    n_stop_en = lang_hits(text_col, "en")
    return df.select(
        "*",
        n_chars.alias("n_chars_q"),
        n_tok.alias("n_tokens"),
        n_punct.cast("int").alias("n_punct"),
        n_digit.cast("int").alias("n_digit"),
        F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(n_digit / F.greatest(n_chars, F.lit(1)), 6).alias("digit_ratio"),
        F.round(
            n_chars / F.greatest(n_tok, F.lit(1)), 6
        ).alias("avg_token_len"),
        n_stop_en.cast("int").alias("n_stopwords_en"),
    )


def _rep_counts(toks: Column, n: int) -> Column:
    """(n_grams, n_distinct, top_count) struct for one n-gram size,
    computed PER DOCUMENT with no shuffle: hash each n-gram window
    (xxhash64 over the joined window — equal grams hash equal; distinct
    grams collide with probability ~m²/2^64 per doc, negligible at any
    document length), sort the hash array, and fold once over the sorted
    runs (distinct count = run starts, top count = longest run). A doc
    with < n tokens yields the empty array → all-zero counts."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    sg = F.when(
        F.size(toks) >= n,
        F.array_sort(F.transform(grams, lambda g: F.xxhash64(g))),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    acc0 = F.struct(
        F.lit(None).cast("bigint").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("mx"),
        F.lit(0).alias("nd"),
        F.lit(0).alias("n"),
    )
    # ONE aggregate call producing the final struct via the finish
    # lambda: HOF expressions are CodegenFallback (no subexpression
    # elimination), so a spelling that referenced the fold twice
    # (nd, mx) and the sorted array three times (size + the two fold
    # references) re-ran the whole hash+sort chain per reference —
    # the accumulator carries the element count instead of a separate
    # size(sg), and finish() projects the result struct in place.
    return F.aggregate(
        sg,
        acc0,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(a["prev"].isNotNull() & (a["prev"] == x), a["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                a["mx"],
                F.when(a["prev"].isNotNull() & (a["prev"] == x), a["run"] + 1)
                .otherwise(F.lit(1)),
            ).alias("mx"),
            (
                a["nd"]
                + F.when(a["prev"].isNull() | (a["prev"] != x), 1).otherwise(0)
            ).alias("nd"),
            (a["n"] + 1).alias("n"),
        ),
        lambda a: F.struct(
            a["n"].cast("int").alias("n_grams"),
            a["nd"].cast("int").alias("n_distinct"),
            a["mx"].cast("int").alias("top_count"),
        ),
    )


def _rep_frac_cols(rep: Column) -> list[Column]:
    """The long-form output columns from a ``_rep_counts`` struct."""
    nn = rep["n_grams"]
    return [
        rep["n_grams"].alias("n_grams"),
        rep["n_distinct"].alias("n_distinct"),
        rep["top_count"].alias("top_count"),
        F.when(nn > 0, F.round((nn - rep["n_distinct"]) / nn, 6))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
        F.when(nn > 0, F.round(rep["top_count"] / nn, 6))
        .otherwise(F.lit(0.0))
        .alias("top_frac"),
    ]


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_sizes: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style per-document repetition signals, long-form: one row
    per (doc, gram_n) with total/distinct n-gram counts, the duplicate
    n-gram fraction (1 - distinct/total), and the top-n-gram fraction
    (most frequent n-gram's share) — the standard repeated-content
    filters of web-corpus curation (Gopher §A.1.1 / RefinedWeb rules).

    Plan shape: the statistics are PER DOCUMENT, so nothing shuffles —
    one codegen+HOF projection per n-gram size (hash windows, sort,
    one fold over the sorted runs; ``_rep_counts``) and a union across
    sizes. The former spelling (explode every gram → two corpus-wide
    aggregations) shuffled one row per gram occurrence; at sf0.1 the
    rewrite measured 26 → 14 CPU-s and removed both exchanges, with
    bit-identical output (the per-doc counts are the same numbers). At
    100 TB this is embarrassingly parallel scan-shaped work; per-doc
    state is bounded by the max document length.
    """
    toks = tokens(F.lower(F.col(text_col)))
    tagged = F.array(
        *[
            F.struct(
                F.lit(n).alias("gram_n"), _rep_counts(toks, n).alias("rep")
            )
            for n in ngram_sizes
        ]
    )
    rep = F.col("_t")["rep"]
    return df.select(F.col(id_col), F.explode(tagged).alias("_t")).select(
        id_col,
        F.col("_t")["gram_n"].alias("gram_n"),
        *_rep_frac_cols(rep),
    )


def gopher_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    max_dup_2gram: float = 0.06,
    max_top_2gram: float = 0.08,
    min_avg_token_len: float = 3.0,
    max_avg_token_len: float = 8.0,
) -> DataFrame:
    """Gopher-style document quality gate: compose length, repetition,
    token-shape, and language signals into one pass/fail with a fixed
    reason precedence (the Gopher §A.1.1 / RefinedWeb rule family; the
    numeric defaults are tuned to THIS corpus's distributions, production
    corpora retune them).

    Never drops rows — stamps ``quality_ok`` + ``quality_reject_reason``
    (first failing rule wins: too_short > too_long > repetitive_2gram >
    dominant_2gram > token_length > lang_unknown).

    Plan shape: ONE scan-fused stage — the scalar signals and the
    per-doc 2-gram repetition stats (``_rep_counts``: hash windows,
    sort, one fold) compute together; no aggregation, no join, no
    shuffle at any corpus size. (The former spelling aggregated the
    exploded grams corpus-wide and joined the stats back by id.)"""
    t = F.col(text_col)
    n_tok = token_count(t)
    rep = _rep_counts(tokens(F.lower(t)), 2)
    inner = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(F.length(t) / F.greatest(n_tok, F.lit(1)), 6).alias("avg_token_len"),
        lang_id(text_col).alias("lang_pred"),
        # one rep fold per row, read by every fraction and survivor filter
        single_eval(rep).alias("_r"),
    )
    fr = _rep_frac_cols(F.col("_r"))
    j = inner.select(
        id_col,
        "n_tokens",
        "avg_token_len",
        "lang_pred",
        fr[3],  # dup_frac
        fr[4],  # top_frac
    )
    reason = _gopher_reason(
        F.col("n_tokens"),
        F.col("avg_token_len"),
        F.col("dup_frac"),
        F.col("top_frac"),
        F.col("lang_pred"),
        min_tokens,
        max_tokens,
        max_dup_2gram,
        max_top_2gram,
        min_avg_token_len,
        max_avg_token_len,
    )
    return j.select(
        id_col,
        "n_tokens",
        "avg_token_len",
        "dup_frac",
        "top_frac",
        "lang_pred",
        reason.alias("quality_reject_reason"),
        reason.isNull().alias("quality_ok"),
    )


def _gopher_reason(
    n_tokens,
    avg_token_len,
    dup_frac,
    top_frac,
    lang_pred,
    min_tokens: int,
    max_tokens: int,
    max_dup_2gram: float,
    max_top_2gram: float,
    min_avg_token_len: float,
    max_avg_token_len: float,
) -> Column:
    """The gopher verdict precedence over already-computed signals —
    shared by ``gopher_filter`` and the inline ``gopher_stamp``."""
    return (
        F.when(n_tokens < min_tokens, F.lit("too_short"))
        .when(n_tokens > max_tokens, F.lit("too_long"))
        .when(dup_frac > max_dup_2gram, F.lit("repetitive_2gram"))
        .when(top_frac > max_top_2gram, F.lit("dominant_2gram"))
        .when(
            (avg_token_len < min_avg_token_len)
            | (avg_token_len > max_avg_token_len),
            F.lit("token_length"),
        )
        .when(lang_pred == "und", F.lit("lang_unknown"))
        .otherwise(F.lit(None).cast("string"))
    )


def gopher_stamp(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    max_dup_2gram: float = 0.06,
    max_top_2gram: float = 0.08,
    min_avg_token_len: float = 3.0,
    max_avg_token_len: float = 8.0,
) -> DataFrame:
    """``gopher_filter``'s verdict appended IN PLACE: every input column
    plus ``quality_reject_reason`` / ``quality_ok``, bit-identical to the
    join of ``gopher_filter``'s verdict columns by id — but as a pure
    projection of ``df`` (one Generate barrier, zero joins). Composite
    pipelines (the curation funnel) previously re-scanned the corpus for
    ``gopher_filter``'s projection and equi-joined the verdicts back on;
    this removes the second scan branch and the join exchange from the
    plan (guide §2.4 — remove shuffles outright)."""
    t = F.col(text_col)
    n_tok = token_count(t)
    rep = _rep_counts(tokens(F.lower(t)), 2)
    others = df.columns
    # the verdict below reads only stored columns: one rep fold per row
    inner = df.select(
        "*",
        n_tok.alias("_gq_ntok"),
        F.round(F.length(t) / F.greatest(n_tok, F.lit(1)), 6).alias("_gq_avg"),
        lang_id(text_col).alias("_gq_lang"),
        single_eval(rep).alias("_gq_r"),
    )
    fr = _rep_frac_cols(F.col("_gq_r"))
    reason = _gopher_reason(
        F.col("_gq_ntok"),
        F.col("_gq_avg"),
        fr[3],
        fr[4],
        F.col("_gq_lang"),
        min_tokens,
        max_tokens,
        max_dup_2gram,
        max_top_2gram,
        min_avg_token_len,
        max_avg_token_len,
    )
    # column order matches the former verdict-join spelling:
    # (quality_ok, quality_reject_reason) appended after the input columns
    return inner.select(
        *others,
        reason.isNull().alias("quality_ok"),
        reason.alias("quality_reject_reason"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("lang_pred", lang_id(text_col))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fp", fingerprint(text_col)).withColumn(
        "norm_text", normalized_text(text_col)
    )


def corpus_report(df: DataFrame, text_col: str = "text", lang_col: str = "lang") -> DataFrame:
    """Dataset-card summary: one row per language with document/word
    counts, corpus share, and the exact-duplicate footprint (docs whose
    canonical content_hash appears more than once ANYWHERE in the
    corpus, attributed to the language of each copy) — the numbers a
    corpus release publishes next to the download link.

    Plan shape at 100 TB: ONE scan of the text (hash + token count
    computed in the same projection), then only (hash) and small
    (lang, counters) rows shuffle — the duplicate detection is a
    groupBy on the uniform sha256 hash followed by a hash-only
    join-back (the segment-dedup pattern), never a payload shuffle.
    The final per-language rollup is a handful of rows."""
    from pyspark.sql import Window

    from docling_jobkit_spark.functions.scalar import content_hash, token_count

    base = df.select(
        F.col(lang_col).alias("lang"),
        token_count(F.col(text_col)).alias("_w"),
        content_hash(F.col(text_col)).alias("_h"),
    )
    # multi-consumer intermediate: materialize once (repo invariant —
    # interpreted expression chains recompute per consumer otherwise)
    base = base.localCheckpoint(eager=False)
    dup_hashes = (
        base.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > 1)
        .select("_h")
    )
    flagged = base.join(dup_hashes, "_h", "left_semi").groupBy(
        "lang"
    ).agg(F.count(F.lit(1)).alias("n_dup_docs"))
    per_lang = base.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_w").cast("long").alias("n_words"),
        F.round(F.avg("_w"), 6).alias("mean_words_per_doc"),
    )
    total = Window.partitionBy()
    return (
        per_lang.join(flagged, "lang", "left")
        .withColumn("n_dup_docs", F.coalesce("n_dup_docs", F.lit(0)).cast("long"))
        .withColumn(
            "pct_docs",
            F.round(F.col("n_docs") / F.sum("n_docs").over(total), 6),
        )
        .select(
            "lang", "n_docs", "pct_docs", "n_words",
            "mean_words_per_doc", "n_dup_docs",
        )
    )
