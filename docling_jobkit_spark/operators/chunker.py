"""Chunking — the explode-style UDTF (SURVEY §2.4 C1-C3).

Reference: ``DocumentChunkerManager.chunk_document``
(``convert/chunking.py:201-264``) produces per-document chunk lists with
contextualized text, token counts, headings, sorted-distinct page
numbers; failures propagate as zero chunks with FAILURE status
(``tests/test_chunking.py:75-101``).

Two Spark-first forms:

- **token-window chunker over extraction results** — pure Python logic on
  the already-extracted text, applied via mapInPandas (1 row → N chunk
  rows, the UDTF shape). Deterministic: whitespace tokens, fixed window/
  overlap, block-boundary metadata from the spans column; page numbers
  derived from PAGE_JOIN offsets, emitted sorted-distinct
  (``chunking.py:229-231`` analog = array_sort ∘ array_distinct).
- **fixed-width char chunker** — a pure relational posexplode(sequence)
  + substring, used where SQL-oracle checkability matters.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TOKEN_RE = re.compile(r"\S+")

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("chunk_index", T.IntegerType()),
        T.StructField("text", T.StringType()),       # contextualized
        T.StructField("raw_text", T.StringType()),   # the bare window
        T.StructField("num_tokens", T.IntegerType()),
        T.StructField("headings", T.ArrayType(T.StringType())),
        T.StructField("captions", T.ArrayType(T.StringType())),
        T.StructField("page_numbers", T.ArrayType(T.IntegerType())),
        T.StructField("doc_items", T.ArrayType(T.StringType())),
        T.StructField("has_image", T.BooleanType()),
        T.StructField("status", T.StringType()),
    ]
)


def chunk_text(
    text: str,
    spans: list[dict] | None,
    max_tokens: int = 64,
    overlap: int = 8,
) -> list[dict]:
    """Deterministic token-window chunking of one document.

    Headings: the most recent heading span whose start precedes the
    chunk's first character (document-order context, the analog of the
    reference chunker's heading propagation). Page numbers: 1-based pages
    (PAGE_JOIN-delimited) overlapped by the chunk, sorted distinct.

    CONTEXTUALIZATION (ref ``chunking.py:236-262`` — ``contextualize()``
    prepends heading context into the chunk text): ``text`` carries the
    nearest preceding heading prepended with a newline — but only when the
    heading lies FULLY BEFORE the window (a chunk that starts inside the
    heading already contains it); ``raw_text`` is the bare window.
    Metadata mirrors the reference chunk payload: ``captions`` (caption
    spans overlapping the window), ``doc_items`` (structural paths of
    overlapped spans), ``has_image`` (constant False: the text extractor's
    tokenizer emits no image blocks — images produce no text).
    """
    return _window_loop(text, *_parse_doc(text, spans), max_tokens, overlap)


def _parse_doc(text: str, spans: list[dict] | None):
    """Shared per-doc parse: token offsets, page boundaries, sorted
    heading/span tuples. A doc without tokens parses to empty lists."""
    from docling_jobkit_spark.extractor.extract import PAGE_JOIN

    # token offsets (start, end) in document order. \S+ matches exactly
    # str.split()'s tokens (Python re \s is Unicode-aware incl. the
    # \x1c-\x1f file separators — verified), ~3x faster than the
    # split+index scan this replaces (profiled as the post-linearization
    # hot spot).
    toks: list[tuple[int, int]] = [
        m.span() for m in _TOKEN_RE.finditer(text or "")
    ]
    if not toks:
        return [], [], [], []

    # page boundary offsets
    page_starts = [0]
    idx = text.find(PAGE_JOIN)
    while idx != -1:
        page_starts.append(idx + len(PAGE_JOIN))
        idx = text.find(PAGE_JOIN, idx + 1)

    headings = sorted(
        (
            (int(s["start"]), int(s["end"]), text[int(s["start"]) : int(s["end"])])
            for s in (spans or [])
            if s.get("kind") == "heading"
        ),
    )
    all_spans = sorted(
        (int(s["start"]), int(s["end"]), s.get("kind", ""), s.get("path", ""))
        for s in (spans or [])
    )
    return toks, page_starts, headings, all_spans


def _check_window(max_tokens: int, overlap: int) -> None:
    """Window parameters every chunker needs: ``1 <= max_tokens`` and
    ``0 <= overlap < max_tokens``. A negative overlap would step past
    tokens (silently dropping them) and ``max_tokens = 0`` would fail
    inside the task; chunk_documents and token_window_chunks run this at
    plan time, since a mis-configuration is a caller bug, not a
    document row."""
    if max_tokens < 1 or not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need 1 <= max_tokens and 0 <= overlap < max_tokens, "
            f"got max_tokens={max_tokens}, overlap={overlap}"
        )


def _window_loop(
    text: str,
    toks: list[tuple[int, int]],
    page_starts: list[int],
    headings: list[tuple[int, int, str]],
    all_spans: list[tuple[int, int, str, str]],
    max_tokens: int,
    overlap: int,
    ci0: int = 0,
    cost=None,
) -> list[dict]:
    """The token-window sweep over one contiguous token run — the one
    sweep of every chunking mode. Only the window END differs by mode:
    ``cost=None`` takes ``max_tokens`` tokens; a per-token ``cost(i)``
    extends the window greedily while the summed cost stays within
    ``max_tokens`` (≥1 token always), and ``num_tokens`` reports that
    sum. Each window advances by its length minus ``overlap`` tokens
    (≥1), so fixed windows start at multiples of ``max_tokens - overlap``.

    Linear sweep (windows advance monotonically in lo and hi, so
    per-chunk rescans of spans/pages/headings are unnecessary — the
    rescan form was the #1 CPU consumer in the round-3 bench at
    O(chunks × spans)):
    - pages/headings: bisect over their sorted start offsets
    - spans: an active list; a span enters once when its start drops
      below hi (pointer over start-sorted spans) and leaves permanently
      once its end <= lo (lo is nondecreasing, so no re-entry). Appends
      happen in sorted order and filtering preserves order, so the
      emitted overlapped list is byte-identical to the naive rescan
      (differential-tested)."""
    from bisect import bisect_right

    _check_window(max_tokens, overlap)
    n = len(toks)
    chunks = []
    ci = ci0
    heading_starts = [s for s, _, _ in headings]
    span_ptr = 0
    active: list[tuple[int, int, str, str]] = []
    t0 = 0
    while t0 < n:
        if cost is None:
            t1 = min(t0 + max_tokens, n)
            num_tokens = t1 - t0
        else:
            num_tokens = cost(t0)
            t1 = t0 + 1
            while t1 < n:
                c = cost(t1)
                if num_tokens + c > max_tokens:
                    break
                num_tokens += c
                t1 += 1
        lo, hi = toks[t0][0], toks[t1 - 1][1]
        chunk_str = text[lo:hi]
        # all pages the chunk crosses (1-based), sorted distinct
        p_lo = bisect_right(page_starts, lo)
        p_hi = bisect_right(page_starts, hi - 1)
        pages = list(range(p_lo, p_hi + 1))
        h_idx = bisect_right(heading_starts, lo) - 1
        nearest = [headings[h_idx]] if h_idx >= 0 else []
        # contextualize: heading prepended only when fully before the window
        if nearest and nearest[0][1] <= lo:
            ctx_text = nearest[0][2] + "\n" + chunk_str
        else:
            ctx_text = chunk_str
        while span_ptr < len(all_spans) and all_spans[span_ptr][0] < hi:
            active.append(all_spans[span_ptr])
            span_ptr += 1
        active = [sp for sp in active if sp[1] > lo]
        chunks.append(
            {
                "chunk_index": ci,
                "text": ctx_text,
                "raw_text": chunk_str,
                "num_tokens": num_tokens,
                "headings": [h for _, _, h in nearest],
                "captions": [
                    text[s:e] for s, e, kind, _ in active if kind == "caption"
                ],
                "page_numbers": pages,
                "doc_items": [p for _, _, _, p in active],
                "has_image": False,
            }
        )
        ci += 1
        if t1 >= n:
            break
        t0 += max(t1 - t0 - overlap, 1)
    return chunks


def chunk_text_hierarchical(
    text: str,
    spans: list[dict] | None,
    max_tokens: int = 64,
    overlap: int = 8,
) -> list[dict]:
    """Structure-aware chunking: split the document into SECTIONS at
    heading-span starts, then token-window each section independently —
    no window ever crosses a section boundary, so every chunk carries
    exactly its own section's heading context. The reference's
    hierarchical chunker analog (``convert/chunking.py:109-199``: split
    on structure boundaries, then merge/split to the token budget; its
    hybrid mode = hierarchical + windowing, which is exactly
    section-split + ``_window_loop``).

    Sections: [0, h1), [h1, h2), ..., [hk, end) for heading starts h1..hk
    (a preamble before the first heading is its own heading-less
    section). Chunk indices stay globally sequential; metadata (pages,
    captions, doc_items) uses global offsets, identical semantics to
    ``chunk_text``. Windows restart at each boundary — the LAST window of
    a section may carry fewer than ``max_tokens`` tokens (by design:
    structure wins over window fill)."""
    from bisect import bisect_left

    toks, page_starts, headings, all_spans = _parse_doc(text, spans)

    tok_starts = [s for s, _ in toks]
    # distinct heading starts define section boundaries
    bounds = sorted({s for s, _, _ in headings})
    cut_idxs = [0] + [bisect_left(tok_starts, b) for b in bounds] + [len(toks)]
    chunks: list[dict] = []
    for sec_i in range(len(cut_idxs) - 1):
        t_lo, t_hi = cut_idxs[sec_i], cut_idxs[sec_i + 1]
        if t_lo >= t_hi:
            continue
        chunks.extend(
            _window_loop(
                text,
                toks[t_lo:t_hi],
                page_starts,
                headings,
                all_spans,
                max_tokens,
                overlap,
                ci0=len(chunks),
            )
        )
    return chunks


def chunk_text_budgeted(
    text: str,
    spans: list[dict] | None,
    cost_fn,
    max_tokens: int = 64,
    overlap: int = 8,
) -> list[dict]:
    """Token-BUDGET windowing: the window extends greedily while the sum
    of per-word costs stays within ``max_tokens`` (≥1 word always), and
    advances by ``window_len - overlap`` WORDS. With a real tokenizer
    cost (e.g. trained-BPE counts from ``functions.bpe``) this is the
    reference HybridChunker's budget semantics — windows sized by what
    the downstream model tokenizer will see, not by whitespace counts
    (``convert/chunking.py:109-199``: merge-to-budget). ``num_tokens``
    reports the window's BUDGET cost. With ``cost_fn = lambda w: 1`` it
    degenerates to exactly ``chunk_text`` (differential-tested).

    ``cost_fn`` is called once per distinct word (memoized here), so the
    per-doc cost is near-linear for Zipfian text."""
    toks, page_starts, headings, all_spans = _parse_doc(text, spans)
    memo: dict[str, int] = {}

    def cost(i: int) -> int:
        w = text[toks[i][0] : toks[i][1]]
        c = memo.get(w)
        if c is None:
            c = memo[w] = cost_fn(w)
        return c

    return _window_loop(
        text, toks, page_starts, headings, all_spans, max_tokens, overlap,
        cost=cost,
    )


def _chunk_batches(
    batches: Iterator[pd.DataFrame], max_tokens: int, overlap: int, chunk_fn=chunk_text
) -> Iterator[pd.DataFrame]:
    chunk_keys = (
        "chunk_index", "text", "raw_text", "num_tokens", "headings",
        "captions", "page_numbers", "doc_items", "has_image",
    )
    for pdf in batches:
        out: dict[str, list] = {k: [] for k in ("url", *chunk_keys, "status")}
        for url, status, extracted_text, spans in zip(
            pdf["url"], pdf["status"], pdf["extracted_text"], pdf["spans"]
        ):
            spans = list(spans) if spans is not None else []
            if status == "FAILURE":
                # failure propagation: zero chunks (test_chunking.py:75-101)
                continue
            for ch in chunk_fn(extracted_text, spans, max_tokens, overlap):
                out["url"].append(url)
                for k in chunk_keys:
                    out[k].append(ch[k])
                out["status"].append(status)
        if out["url"]:
            # an all-filtered batch would make pandas infer float64 for the
            # list columns, which Arrow can't cast to list<string>
            yield pd.DataFrame(out)


def chunk_documents(
    results: DataFrame,
    max_tokens: int = 64,
    overlap: int = 8,
    mode: str = "window",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Extraction results → chunk rows (1→N explode via mapInPandas).

    ``mode="window"`` is the flat token-window chunker (``chunk_text``);
    ``mode="hierarchical"`` splits on heading boundaries first
    (``chunk_text_hierarchical``); ``mode="budgeted"`` windows by a
    TRAINED-BPE token budget (``chunk_text_budgeted`` with the merge
    table from ``functions.bpe.train_bpe_from_df`` — the reference
    HybridChunker sizes chunks by what the model tokenizer counts, not
    by whitespace words; ``convert/chunking.py:109-199``). The merge
    table rides the UDF closure (a few KB per executor)."""
    _check_window(max_tokens, overlap)
    if mode == "budgeted":
        if merges is None:
            raise ValueError("mode='budgeted' requires a trained merges table")
        from docling_jobkit_spark.functions.bpe import bpe_encode

        ranks = {tuple(m): i for i, m in enumerate(merges)}

        def chunk_fn(text, spans, max_tokens, overlap):
            return chunk_text_budgeted(
                text, spans, lambda w: len(bpe_encode(w, ranks)),
                max_tokens, overlap,
            )
    else:
        if merges is not None:
            raise ValueError(f"merges applies only to mode='budgeted', not {mode!r}")
        try:
            chunk_fn = {
                "window": chunk_text,
                "hierarchical": chunk_text_hierarchical,
            }[mode]
        except KeyError:
            raise ValueError(f"unknown chunking mode {mode!r}") from None
    cols = results.select("url", "status", "extracted_text", "spans")
    return cols.mapInPandas(
        lambda it: _chunk_batches(it, max_tokens, overlap, chunk_fn),
        schema=CHUNK_SCHEMA,
    )


def token_window_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 32,
    overlap: int = 4,
) -> DataFrame:
    """Relational token-window chunker over RAW text — the SQL-oracle-
    checkable twin of ``chunk_documents``' windowing: whitespace tokens,
    fixed window/stride, chunk text re-joined with single spaces (the
    DEFINED semantics of this variant). Pure explode+slice+array_join —
    zero Python, scan-parallel, identical window boundaries to
    ``chunk_text`` (windows start at multiples of max_tokens-overlap; the
    final window is the first one reaching the end)."""
    from docling_jobkit_spark.functions.scalar import tokens

    _check_window(max_tokens, overlap)
    step = max_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_windows = (
        F.floor((F.greatest(n - max_tokens, F.lit(0)) + step - 1) / step).cast("int")
        + 1
    )
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col),
            toks.alias("_toks"),
            n.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            F.array_join(
                F.slice("_toks", F.col("chunk_index") * step + 1, max_tokens), " "
            ).alias("chunk_text"),
            F.least(F.lit(max_tokens), F.col("_n") - F.col("chunk_index") * step)
            .cast("int")
            .alias("num_tokens"),
        )
    )


def char_chunks(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 100
) -> DataFrame:
    """Fixed-width char chunking — fully relational (posexplode+substring),
    SQL-oracle-checkable; the degenerate-but-scalable chunker."""
    # greatest(...,0) guard: Spark's sequence(0,-1) would generate a
    # DESCENDING sequence for empty docs instead of an empty one
    n_chunks = F.greatest(
        F.ceil(F.length(text_col) / F.lit(width)).cast("int"), F.lit(1)
    )
    return df.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index", "_i"),
        F.length(text_col).alias("n_chars_doc"),
        F.substring(F.col(text_col), F.col("_i") * width + 1, width).alias("chunk_text"),
    ).drop("_i").filter(F.length("chunk_text") > 0)
