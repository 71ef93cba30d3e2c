"""C4-style line-level cleaning and three-sentence-span corpus dedup.

Public precedent: C4 (Raffel et al. 2020, arXiv:1910.10683 §2.2) — the
cleaning recipe behind T5's pre-training corpus, reused by Gopher / LLaMA
/ RefinedWeb lineages:

- keep only lines ending in a terminal punctuation mark (period,
  exclamation mark, question mark, end quotation mark);
- keep only lines with >= 5 words; drop any page left with < 3 lines;
- drop lines containing "javascript" (case-insensitive substring — the
  published tensorflow-datasets implementation tests containment, not
  word equality);
- drop pages containing the phrase "lorem ipsum" or a curly bracket;
- deduplicate the corpus at three-line-span granularity: of any span of
  three consecutive lines occurring more than once in the corpus, keep
  the first occurrence (smallest (doc, position)) and remove the lines
  of every other occurrence.

The reference repo (docling-jobkit) has no corpus-cleaning stage; this
family is part of the training-data-pipeline surface the build brief
adds (same tier as gopher_filter / segment_dup in this repo).

Everything is pure relational Spark:

- the line filter is a single codegen projection (split / filter /
  array_join) — scan-speed at 100 TB, nothing shuffles;
- span dedup explodes only (id, start, span_hash) rows — the 56-bit
  cross-engine ``stable_hash64`` of the normalized span — so the two
  shuffles (window over span_hash, groupBy id) carry hashes and ints,
  never text. The final edit join brings each doc's drop-index array
  back to its payload row; the drop side is duplication-bounded (empty
  for a clean corpus) and AQE broadcast-joins it when small, which is
  the common case — an editing dedup inherently has to co-locate edits
  with payloads once.

The synthetic ``documents`` testdata has no newlines or punctuation, so
``lined_documents`` derives a deterministic lined corpus from it (same
policy as ``pages_from_documents``' sectioned variant: pure JVM string
functions, no RNG) — line boundaries, punctuation, and the policy-token
injections are all hash-of-content decisions, so exact-duplicate
documents decorate identically and genuinely share spans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import single_eval, stable_hash64, tokens

# Raffel et al. §2.2: "a period, exclamation mark, question mark, or end
# quotation mark".
TERMINAL_PUNCT = (".", "!", "?", '"')
MIN_WORDS_PER_LINE = 5
MIN_LINES_PER_PAGE = 3
SPAN_LINES = 3


def _trimmed_lines(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    # NOT `F.transform(..., F.trim)`: trim has an optional 2nd param, so
    # transform would call it as (element, index) -> two-param trim with
    # the element INDEX as the trim character set (whitespace survives).
    return F.transform(F.split(c, "\n"), lambda x: F.trim(x))


def _line_words(t: Column) -> Column:
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def _line_kept(t: Column, min_words: int) -> Column:
    ends_ok = F.substring(t, -1, 1).isin(*TERMINAL_PUNCT)
    return (
        (t != "")
        & ends_ok
        & (_line_words(t) >= min_words)
        & ~F.contains(F.lower(t), F.lit("javascript"))
    )


def c4_line_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = MIN_WORDS_PER_LINE,
    min_lines_per_page: int = MIN_LINES_PER_PAGE,
) -> DataFrame:
    """Per-document C4 line-filter verdict — one codegen projection.

    Output: (id, n_lines, n_kept_lines, has_lorem_ipsum, has_brace,
    page_kept, clean_text). ``clean_text`` is the kept lines re-joined
    with newlines (NULL for dropped pages)."""
    t = F.col(text_col)
    lines = _trimmed_lines(text_col)
    kept = F.filter(lines, lambda x: _line_kept(x, min_words_per_line))
    has_lorem = F.contains(F.lower(t), F.lit("lorem ipsum"))
    has_brace = F.contains(t, F.lit("{"))
    page_kept = (
        ~has_lorem & ~has_brace & (F.size(kept) >= min_lines_per_page)
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept_lines"),
        has_lorem.alias("has_lorem_ipsum"),
        has_brace.alias("has_brace"),
        page_kept.alias("page_kept"),
        F.when(page_kept, F.array_join(kept, "\n")).alias("clean_text"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = MIN_WORDS_PER_LINE,
    min_lines_per_page: int = MIN_LINES_PER_PAGE,
) -> DataFrame:
    """Surviving pages with ``text_col`` replaced by the cleaned text.

    Same logic as ``c4_line_stats`` fused with the page gate — still
    zero shuffles."""
    lines = _trimmed_lines(text_col)
    kept = F.filter(lines, lambda x: _line_kept(x, min_words_per_line))
    t = F.col(text_col)
    others = [c for c in df.columns if c != text_col]
    inner = df.select(
        *others,
        t.alias("_t_raw"),
        # one line-filter chain per page, read by the gate and the output
        single_eval(kept).alias("_kept"),
    )
    page_kept = (
        ~F.contains(F.lower(F.col("_t_raw")), F.lit("lorem ipsum"))
        & ~F.contains(F.col("_t_raw"), F.lit("{"))
        & (F.size("_kept") >= min_lines_per_page)
    )
    return inner.where(page_kept).select(
        *others, F.array_join("_kept", "\n").alias(text_col)
    )


def _norm_line(x: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(x), r"\s+", " "))


def c4_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_lines: int = SPAN_LINES,
) -> DataFrame:
    """Three-line-span corpus dedup (C4's "all but one of any
    three-sentence span occurring more than once").

    Semantics (single pass, deterministic): spans are every window of
    ``span_lines`` consecutive trimmed lines, hashed after per-line
    normalization (lowercase, collapsed whitespace). For each span hash
    occurring more than once corpus-wide, the occurrence with the
    smallest (id, start) survives; every line belonging to any OTHER
    occurrence is removed. Documents shorter than ``span_lines`` lines
    never match (same as the oracle).

    Output: one row per input doc — (id, n_lines, n_removed_lines,
    clean_text) where clean_text re-joins the surviving lines.

    Plan shape at 100 TB: the exploded relation carries only (id,
    start, span_hash) — one shuffle keyed on the uniform 56-bit hash
    for the occurrence window, one on id for the drop-set rollup; the
    payload text joins the duplication-bounded drop arrays last (AQE
    broadcasts the drop side when small — the common case)."""
    lines = _trimmed_lines(text_col)
    # base is consumed twice (span explode + final edit join) and its
    # upstream may be an expensive derived projection: materialize it
    # once (repo invariant — multi-consumer lineage otherwise re-runs
    # the whole expression chain per consumer). The NORMALIZED lines are
    # materialized alongside: each line participates in span_lines
    # overlapping spans, so normalizing inside the span hash re-ran the
    # lowercase+regexp chain 3x per line (the concat of pre-normalized
    # lines is byte-identical, so span hashes are unchanged).
    base = df.select(
        F.col(id_col).alias("_id"),
        lines.alias("_lines"),
        F.transform(lines, _norm_line).alias("_norm"),
    ).localCheckpoint(eager=False)
    n = F.size(F.col("_lines"))
    m = n - (span_lines - 1)

    def span_hash(i: Column) -> Column:
        return stable_hash64(
            F.concat_ws("\x1f", F.slice(F.col("_norm"), i, span_lines))
        )
    spans = (
        base.where(m >= 1)
        .select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), m),
                    lambda i: F.struct(
                        i.alias("start"), span_hash(i).alias("h")
                    ),
                )
            ).alias("_s"),
        )
        .select("_id", F.col("_s.start").alias("start"), F.col("_s.h").alias("h"))
    )
    w = Window.partitionBy("h")
    rk = F.row_number().over(w.orderBy(F.asc("_id"), F.asc("start")))
    occ = spans.select(
        "_id",
        "start",
        rk.alias("_rk"),
        F.count(F.lit(1)).over(w).alias("_n_occ"),
    )
    drops = (
        occ.where((F.col("_n_occ") > 1) & (F.col("_rk") > 1))
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (span_lines - 1))
            ).alias("_li"),
        )
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set("_li")).alias("_drop"))
    )
    out = base.join(drops, on="_id", how="left")
    kept = F.when(
        F.col("_drop").isNull(), F.col("_lines")
    ).otherwise(
        F.filter(
            F.col("_lines"),
            lambda x, i: ~F.array_contains(F.col("_drop"), i + 1),
        )
    )
    return out.select(
        F.col("_id").alias(id_col),
        F.size("_lines").cast("int").alias("n_lines"),
        F.coalesce(F.size("_drop"), F.lit(0)).cast("int").alias(
            "n_removed_lines"
        ),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def c4_clean(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The full C4 cleaning pass in paper order: line filter + page
    gates first, then the corpus-wide three-line-span dedup over the
    survivors."""
    filtered = c4_line_filter(df, text_col=text_col, id_col=id_col)
    return c4_span_dedup(filtered, text_col=text_col, id_col=id_col)


# --- deterministic lined-corpus derivation (test/bench harness) ------------


def lined_documents(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Derive a deterministic LINED corpus from the newline-free
    ``documents`` testdata so the C4 family has real work to do: split
    each doc's token stream at content-independent positions (boundary
    after position i iff a splitmix-style integer mix of i lands on
    0 mod 7 — position-keyed, so exact-duplicate documents line-break
    identically), then decorate each line by sha-hash of (position,
    content): ~3/4 get terminal punctuation, ~1/29 get a trailing
    " javascript" policy token; a hash-selected ~1/41 of pages gain a
    "lorem ipsum" line and ~1/43 a curly-brace code line. Pure JVM
    expressions, no RNG — the same doc always derives the same lined
    text under any partitioning.

    Shape note: every expensive subexpression is referenced O(1) times
    per ROW, never per line — interpreted higher-order functions
    re-evaluate a referenced subtree on EVERY reference (the first
    draft's ``F.get(bnds, j-1)`` inside the line lambda re-ran the
    boundary filter per line: measured 12 ms/doc; the zip_with
    (prev, end) pairing below references the boundary array 3 times per
    row total and runs ~20x faster). The boundary rule itself is
    integer-only (an earlier draft's sha256-per-position was 35k
    sha/doc after re-inlining); the per-line sha runs inside a NESTED
    transform chain so raw text and its hash are computed once per
    line, never once per downstream reference."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # Knuth 32-bit odd-constant multiply (no 64-bit overflow under ANSI
    # mode for any realistic token index), mid bits taken mod 7 —
    # geometric ~7-token lines, varied lengths.
    _MIX = 2654435761

    bnds = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (
            F.pmod(
                F.shiftrightunsigned(i.cast("long") * F.lit(_MIX), 15),
                F.lit(7),
            )
            == 0
        )
        | (i == n),
    )
    # (prev-boundary, end-boundary) pairs: line i spans tokens
    # prevs[i]+1 .. bnds[i]. bnds is referenced 3x per row (zip input,
    # slice, size) instead of twice per line.
    prevs = F.concat(
        F.array(F.lit(0)),
        F.slice(bnds, 1, F.greatest(F.size(bnds) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        prevs,
        bnds,
        lambda s, e: F.struct(s.alias("s"), e.alias("e")),
    )
    raw_j = F.transform(
        pairs,
        lambda p, j: F.struct(
            F.concat_ws(
                " ", F.slice(toks, p["s"] + 1, p["e"] - p["s"])
            ).alias("raw"),
            j.cast("string").alias("j"),
        ),
    )
    hashed = F.transform(
        raw_j,
        lambda p: F.struct(
            p["raw"].alias("raw"),
            stable_hash64(F.concat_ws("|", p["j"], p["raw"])).alias("hl"),
        ),
    )

    def _decorate(q: Column) -> Column:
        raw, hl = q["raw"], q["hl"]
        withjs = F.when(
            hl % 29 == 5, F.concat(raw, F.lit(" javascript"))
        ).otherwise(raw)
        return (
            F.when(hl % 4 == 1, F.concat(withjs, F.lit(".")))
            .when(hl % 4 == 2, F.concat(withjs, F.lit(".")))
            .when(hl % 4 == 3, F.concat(withjs, F.lit("?")))
            .otherwise(withjs)
        )

    body = F.transform(hashed, _decorate)
    hd = stable_hash64(F.col(text_col))
    extras = F.concat(
        F.when(hd % 41 == 7, F.array(F.lit("lorem ipsum dolor sit amet.")))
        .otherwise(F.expr("CAST(array() AS array<string>)")),
        F.when(hd % 43 == 11, F.array(F.lit("function f() { return 1; }")))
        .otherwise(F.expr("CAST(array() AS array<string>)")),
    )
    lined = F.array_join(F.concat(body, extras), "\n")
    others = [c for c in df.columns if c != text_col]
    return df.select(*others, lined.alias(text_col))
