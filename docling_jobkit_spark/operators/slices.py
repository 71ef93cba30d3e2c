"""Page-slice fan-out + reassembly (F1/F2 in SURVEY §2.3).

The reference splits huge PDFs into page ranges, converts slices
concurrently, and reassembles in slice order:
- slice plan: ``orchestrators/ray/serve_deployment.py:437-464``;
- dispatch: ``:1656-1725``; reassembly (sort by slice_index, concat,
  status = SUCCESS iff all slices SUCCESS else PARTIAL, errors merged):
  ``:510-549``;
- shared-payload intent (slices reference plasma bytes, never copy the
  whole doc per slice): ``serve_deployment.py:1253-1317``.

Spark-first re-expression:
- page COUNTING is pure JVM (split on the literal marker — binary→string
  cast is an unchecked byte wrap, so this works even on invalid UTF-8);
- the SPLIT materializes one row per slice carrying ONLY that slice's
  pages' bytes (one mapInPandas pass over oversized docs — the payload
  crosses the Arrow boundary once, not once per slice);
- slice rows are hash-REPARTITIONED on (_doc_key, slice_index) before
  extraction, so the slices of one giant document genuinely run on many
  cores — the whole point of the fan-out: a 400-page doc would otherwise
  pin one task for minutes;
- REASSEMBLY groups by a per-input-row ``_doc_key`` (urls are NOT unique —
  the corpus deliberately contains duplicate urls with different
  payloads; grouping by url would interleave two documents' slices);
- byte-exactness is by construction: ``extract()`` DEFINES full-document
  text as the page-wise extraction joined by PAGE_JOIN, and a slice's
  payload is exactly its pages re-joined by the marker (see extract.py);
  a PDF slice is a self-contained sub-PDF carrying exactly its pages'
  object closure, and PDF layout analysis is per-page
  (``extractor/pdf.py::split_pdf``);
- ONE path for every payload format: the PDF/HTML decision is made once
  per document as a column (``extract_op.payload_is_pdf``) and rides
  into the slice rows, so the splitter and the slice extractor each
  dispatch per row instead of forking the plan per format.

Only oversized documents are routed here (``extract_documents_sliced``),
so the slice shuffle touches a small fraction of rows — and only
slice-sized payloads, never whole documents.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_jobkit_spark.operators.extract_op import (
    ERROR_TYPE,
    RESULT_SCHEMA,
    SPAN_TYPE,
    extract_decided,
    extract_one,
    payload_is_pdf,
    pdf_sniff_col,
    with_document_identity,
)

PAGE_BREAK_STR = "<!--PAGE_BREAK-->"

SLICE_SCHEMA = T.StructType(
    [
        T.StructField("_doc_key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("slice_index", T.IntegerType()),
        T.StructField("slice_html", T.BinaryType()),
        T.StructField("_as_pdf", T.BooleanType()),
        T.StructField("clean", T.BooleanType()),
        T.StructField("page_lo", T.IntegerType()),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

SLICE_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("_doc_key", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("slice_index", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("error", ERROR_TYPE),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("timings", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def page_count_col(html_col="html") -> Column:
    """JVM-side page count: marker occurrences + 1, 0 for NULL payloads.

    ``cast(binary as string)`` wraps the bytes unchecked and the marker is
    pure ASCII, so the count is correct even for payloads that are not
    valid UTF-8 (verified by test). No Python, no Arrow crossing — the
    routing decision costs a codegen projection.

    Occurrences are counted as a LENGTH DIFFERENCE (replace the marker
    with '' and divide the shrinkage by the marker length) instead of
    ``size(split(...))``: split would materialize every page substring
    just to count them, doubling transient memory for every large doc on
    the admission path (a 70 MB doc briefly held 140 MB per row)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    s = c.cast("string")
    marker_len = len(PAGE_BREAK_STR)
    n_markers = (
        F.length(s) - F.length(F.replace(s, F.lit(PAGE_BREAK_STR), F.lit("")))
    ) / F.lit(marker_len)
    return (
        F.when(c.isNull(), F.lit(0)).otherwise(n_markers + F.lit(1)).cast("int")
    )


def _occurrences(s: Column, needle: str) -> Column:
    """Non-overlapping substring count as a length difference (the
    page_count_col technique: replace-and-measure, no per-page substring
    materialization, pure codegen)."""
    return (
        F.length(s) - F.length(F.replace(s, F.lit(needle), F.lit("")))
    ) / F.lit(len(needle))


def pdf_page_count_col(payload_col="pdf") -> Column:
    """JVM-side PDF page-count ESTIMATE for slice routing: occurrences of
    the page-leaf marker ``/Type /Page`` (both spacings) minus the
    ``/Type /Pages`` tree nodes the shorter needle also matches, over the
    unchecked binary→string wrap. NULL payloads and payloads failing the
    ``%PDF-`` sniff (``pdf_sniff_col``, the twin of ``is_pdf``) estimate
    1: single-shot admission handles them, and slicing one would let the
    tolerant object scan 'repair' a document the single-shot path
    rejects. Counting bytes this way can miss pages (object-stream PDFs)
    or over-count (the marker inside compressed data) — both mis-routes
    are output-identical, see ``extract_documents_sliced``; exact counting
    stays in the Python ``pdf_page_count`` used by the splitter itself."""
    c = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    s = c.cast("string")
    est = (
        _occurrences(s, "/Type /Page")
        - _occurrences(s, "/Type /Pages")
        + _occurrences(s, "/Type/Page")
        - _occurrences(s, "/Type/Pages")
    )
    return (
        F.when(~pdf_sniff_col(c), F.lit(1))
        .otherwise(F.greatest(est, F.lit(1)))
        .cast("int")
    )


def _split_batches(
    batches: Iterator[pd.DataFrame], pages_per_slice: int
) -> Iterator[pd.DataFrame]:
    from docling_jobkit_spark.extractor.extract import PAGE_BREAK
    from docling_jobkit_spark.extractor.pdf import pdf_page_count, split_pdf

    k = pages_per_slice
    for batch in batches:
        out: dict[str, list] = {f.name: [] for f in SLICE_SCHEMA.fields}
        for key, url, raw, as_pdf in zip(
            batch["_doc_key"], batch["url"], batch["html"], batch["_as_pdf"]
        ):
            payload = bytes(raw)
            if as_pdf:
                clean = True  # PDFs have no decode-partial state
                try:
                    # self-contained sub-PDFs + the EXACT page total
                    parts, n = split_pdf(payload, k)
                except Exception:
                    # split failed (unparseable OR unserializable): degrade
                    # to one full-payload slice — its extraction row IS the
                    # single-shot row; count pages exactly so a slice that
                    # still extracts reports the single-shot n_pages
                    parts, n = [payload], pdf_page_count(payload)
            else:
                try:
                    payload.decode("utf-8", errors="strict")
                    clean = True
                except UnicodeDecodeError:
                    clean = False
                pages = payload.split(PAGE_BREAK)
                n = len(pages)
                parts = [PAGE_BREAK.join(pages[lo : lo + k]) for lo in range(0, n, k)]
            for si, part in enumerate(parts):
                out["_doc_key"].append(int(key))
                out["url"].append(url)
                out["slice_index"].append(si + 1)
                out["slice_html"].append(part)
                out["_as_pdf"].append(bool(as_pdf))
                out["clean"].append(clean)
                out["page_lo"].append(si * k + 1)
                out["n_pages"].append(int(n))
                out["n_bytes"].append(len(payload))
        yield pd.DataFrame(out)


def split_slices(big_docs: DataFrame, pages_per_slice: int) -> DataFrame:
    """(_doc_key, url, html[, _as_pdf]) → one row per slice carrying ONLY
    its pages' bytes: HTML splits on the page marker, PDFs into
    self-contained sub-PDFs (``extractor/pdf.py::split_pdf``; reference:
    single-PDF slice plan ``serve_deployment.py:437-464``). Rows without
    an ``_as_pdf`` decision are HTML. One Arrow round-trip of the payload
    total — per-slice rows sum to ~the document size, so the downstream
    shuffle and extraction never move whole-document bytes again. The
    carried ``n_pages`` is the splitter's exact total; the JVM routing
    estimate never reaches output rows."""
    as_pdf = F.col("_as_pdf") if "_as_pdf" in big_docs.columns else F.lit(False)
    cols = big_docs.select("_doc_key", "url", "html", as_pdf.alias("_as_pdf"))
    return cols.mapInPandas(
        lambda it: _split_batches(it, pages_per_slice), schema=SLICE_SCHEMA
    )


def _extract_slice_batches(
    batches: Iterator[pd.DataFrame], profile: str = "default"
) -> Iterator[pd.DataFrame]:
    import re
    import time

    from docling_jobkit_spark.extractor.errors import classify_failure
    from docling_jobkit_spark.extractor.extract import PROFILES, Span, extract_page_range

    prof = PROFILES[profile]
    page_re = re.compile(r"^p(\d+)/")

    for batch in batches:
        out: dict[str, list] = {f.name: [] for f in SLICE_RESULT_SCHEMA.fields}
        for key, url, sidx, raw, as_pdf, clean, page_lo, n_pages, n_bytes in zip(
            batch["_doc_key"], batch["url"], batch["slice_index"], batch["slice_html"],
            batch["_as_pdf"], batch["clean"], batch["page_lo"], batch["n_pages"],
            batch["n_bytes"],
        ):
            payload = bytes(raw)
            if as_pdf:
                # a sub-PDF is a whole document; its pages renumber from
                # 1, so shift the span-path page prefix back to document
                # numbering (sliced == single-shot)
                res = extract_one(payload, url, True, None, prof)
                status, text, error, timings = res.status, res.text, res.error, res.timings
                shift = int(page_lo) - 1
                spans = [
                    Span(
                        s.start, s.end, s.kind,
                        page_re.sub(lambda m: f"p{int(m.group(1)) + shift}/", s.path),
                    )
                    for s in res.spans
                ] if shift else res.spans
            else:
                # status comes from the whole document's decode (``clean``)
                t0 = time.perf_counter()
                try:
                    text, spans, _ = extract_page_range(payload, 1, 1 << 30, prof)
                    status = "SUCCESS" if clean else "PARTIAL_SUCCESS"
                    error, timings = None, {"extract": time.perf_counter() - t0}
                except Exception as exc:
                    status, text, spans, timings = "FAILURE", "", [], {}
                    error = classify_failure(exc)
            out["_doc_key"].append(int(key))
            out["url"].append(url)
            out["slice_index"].append(int(sidx))
            out["status"].append(status)
            out["extracted_text"].append(text)
            out["spans"].append(spans)  # Span NamedTuples → Arrow structs
            out["error"].append(error.as_dict() if error else None)
            out["n_pages"].append(int(n_pages))
            out["n_bytes"].append(int(n_bytes))
            out["timings"].append(timings)
        yield pd.DataFrame(out)


def extract_slices(slices: DataFrame, profile: str = "default") -> DataFrame:
    """Per-slice extraction. Each slice row is self-contained (its own
    pages' bytes + the carried format decision, doc-level clean flag and
    totals), so this map runs wherever the repartition put the row."""
    cols = slices.select(
        "_doc_key", "url", "slice_index", "slice_html", "_as_pdf", "clean",
        "page_lo", "n_pages", "n_bytes",
    )
    return cols.mapInPandas(
        lambda it: _extract_slice_batches(it, profile), schema=SLICE_RESULT_SCHEMA
    )


def _reassemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Mirror of the reference's ``_assemble_slice_results``: sort by
    slice_index, join texts with the page separator, shift span offsets,
    SUCCESS iff every slice SUCCESS (else PARTIAL; FAILURE if all failed)."""
    from docling_jobkit_spark.extractor.extract import PAGE_JOIN

    pdf = pdf.sort_values("slice_index")
    parts: list[str] = []
    spans: list[dict] = []
    offset = 0
    statuses = list(pdf["status"])
    first_error = None
    merged_timings: dict[str, float] = {}
    for status, err, row_spans, row_t, text in zip(
        pdf["status"], pdf["error"], pdf["spans"], pdf["timings"], pdf["extracted_text"]
    ):
        if status == "FAILURE":
            if first_error is None and err is not None:
                first_error = err
            continue
        if parts:
            offset += len(PAGE_JOIN)
        for s in row_spans if row_spans is not None else []:
            spans.append(
                {
                    "start": int(s["start"]) + offset,
                    "end": int(s["end"]) + offset,
                    "kind": s["kind"],
                    "path": s["path"],
                }
            )
        if row_t is not None:
            # F3 map-merge: sum per stage across slices
            for k, v in dict(row_t).items():
                merged_timings[k] = merged_timings.get(k, 0.0) + float(v)
        parts.append(text)
        offset += len(text)
    if all(s == "FAILURE" for s in statuses):
        status = "FAILURE"
    elif all(s == "SUCCESS" for s in statuses):
        status = "SUCCESS"
    else:
        status = "PARTIAL_SUCCESS"
    text = PAGE_JOIN.join(parts)
    if status == "SUCCESS" and not text:
        status = "PARTIAL_SUCCESS"
    # all-FAILURE docs mirror the single-shot failure row exactly: extract()
    # only fails through its exception backstop, where n_pages keeps the
    # ExtractResult default of 1 — emitting the slice-carried page total
    # here would diverge from the 'output identical either way' contract
    n_pages = 1 if status == "FAILURE" else int(pdf["n_pages"].max())
    return pd.DataFrame(
        {
            "url": [pdf["url"].iloc[0]],
            "status": [status],
            "extracted_text": [text],
            "spans": [spans],
            "error": [first_error],
            "n_pages": [n_pages],
            "n_bytes": [int(pdf["n_bytes"].iloc[0])],
            "n_spans": [len(spans)],
            "timings": [merged_timings],
        }
    )


def reassemble_slices(slice_results: DataFrame) -> DataFrame:
    """Group by the unique per-input-row _doc_key, NOT url: the corpus
    contains duplicate urls with distinct payloads, and a url-keyed group
    would merge two documents' slices into one corrupted row."""
    return slice_results.groupBy("_doc_key").applyInPandas(
        _reassemble_group, schema=RESULT_SCHEMA
    )


def spread_slices(slices: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Hash-repartition slice rows on (_doc_key, slice_index) so one
    document's slices run on many cores. The partition count is EXPLICIT
    (defaults to spark.sql.shuffle.partitions): AQE would coalesce a
    count-less repartition of a small slice set back into one task,
    defeating the fan-out."""
    if num_partitions is None:
        num_partitions = int(
            slices.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    return slices.repartition(
        num_partitions, F.col("_doc_key"), F.col("slice_index")
    )


def extract_documents_sliced(
    pages: DataFrame,
    pages_per_slice: int = 2,
    slice_min_pages: int = 3,
    max_bytes: int | None = None,
    profile: str = "default",
    slice_partitions: int | None = None,
    payload_format: str = "html",
    payload_col: str = "html",
) -> DataFrame:
    """Route: multi-page docs above the slice threshold go through
    split → repartition → slice-extract → reassemble; everything else
    (including over-``max_bytes`` docs, which must receive the POLICY
    FAILURE row the single-shot oracle produces) takes the direct map.
    Output schema identical either way; values byte-identical by
    construction.

    ``payload_format`` is decided once per row (``payload_is_pdf``) and
    the decision rides into the slice rows, so every format plans the
    same three maps and one reassembly. PDF page counts for ROUTING are
    a pure-JVM structural estimate (``pdf_page_count_col``), not a
    Python parse: at corpus scale an admission-path pandas UDF would pay
    a full object scan per document just to pick a branch. The estimate
    may be wrong either way because both mis-routes are output-identical:
    an undercount sends a multi-page doc to the direct map (the oracle
    itself); an overcount slices a document into one slice or fails the
    split, which degrades to a single full-payload slice whose extraction
    row reassembles to the single-shot row (FAILURE rows pin n_pages=1
    on both paths)."""
    as_pdf = payload_is_pdf(payload_format, payload_col)
    if "_doc_key" in pages.columns:
        # adopting a caller-provided key: it MUST be the long id this
        # module's schemas expect, and unique per row (the pipeline's
        # pre-shuffle monotonically_increasing_id). The underscore name
        # makes accidental collision with user data unlikely; a wrong
        # TYPE would otherwise surface as a task failure inside the
        # splitter, violating the failures-are-rows invariant.
        dtype = pages.schema["_doc_key"].dataType
        if not isinstance(dtype, T.LongType):
            raise ValueError(
                f"_doc_key column must be LongType (unique per row), got {dtype}"
            )
    else:
        # Unique per input ROW (urls may repeat); assigned before the
        # branch so slice rows inherit it through every shuffle.
        # DETERMINISM CONTRACT: monotonically_increasing_id is stable only
        # when the input's row order is — true for scans/createDataFrame,
        # NOT for a post-shuffle DataFrame (fetch order varies across
        # recomputation, which could remap keys under task retry).
        # Callers that shuffle first must assign _doc_key themselves
        # upstream of the shuffle (ExtractionPipeline does exactly this).
        pages = pages.withColumn("_doc_key", F.monotonically_increasing_id())
    docs = pages.select(
        "_doc_key", "url", F.col(payload_col).alias("html"), as_pdf.alias("_as_pdf")
    )
    n_pages = F.when(F.col("_as_pdf"), pdf_page_count_col("html")).otherwise(
        page_count_col("html")
    )
    size_ok = (
        F.lit(True) if max_bytes is None else (F.length("html") <= F.lit(max_bytes))
    )
    route_sliced = (
        F.col("html").isNotNull() & (n_pages >= F.lit(slice_min_pages)) & size_ok
    )
    direct = extract_decided(docs.filter(~route_sliced), max_bytes, profile)
    # spread one document's slices across tasks — hash of (_doc_key,
    # slice_index) is uniform, and only slice-sized bytes move
    slices = spread_slices(
        split_slices(docs.filter(route_sliced), pages_per_slice), slice_partitions
    )
    # identity stamped over the FINAL reassembled rows — same projection
    # as the direct branch (inside extract_decided), identical values by
    # construction
    sliced = with_document_identity(reassemble_slices(extract_slices(slices, profile)))
    return direct.unionByName(sliced)


def extract_pdf_documents_sliced(
    pages: DataFrame,
    pages_per_slice: int = 2,
    slice_min_pages: int = 3,
    max_bytes: int | None = None,
    payload_col: str = "pdf",
    slice_partitions: int | None = None,
) -> DataFrame:
    """``extract_documents_sliced`` over a column of PDFs."""
    return extract_documents_sliced(
        pages, pages_per_slice, slice_min_pages, max_bytes,
        slice_partitions=slice_partitions, payload_format="pdf", payload_col=payload_col,
    )
