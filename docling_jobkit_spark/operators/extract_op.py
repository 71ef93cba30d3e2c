"""The flagship per-document map as a Spark operator.

Re-expresses the reference's ``convert_documents``
(``docling_jobkit/convert/manager.py:1725-1745``) + per-batch worker
(``cli/multiproc.py:247-368``) as ONE ``mapInPandas`` over the pages
table. Design points, each mapped to reference behavior:

- **Arrow-batched, no per-row Python at the Spark boundary** — the
  iterator-of-DataFrames form streams Arrow batches through a generator,
  the same laziness as the reference's one-doc-in-flight generator
  (``convert/chunk_execution.py:44-71``); batch size is capped in
  session.py for binary payloads.
- **Init-once-per-worker** — the reference LRU-caches expensive converter
  objects keyed by an options hash (``convert/manager.py:369-479``). Our
  extractor is a pure function so the only per-worker state is the
  compiled regexes, imported once per Python worker process.
- **Failures are rows** — per-document try/except inside ``extract()``
  yields an ``error`` struct column; a malformed page can never fail the
  Spark task (``serve_deployment.py:1590-1627`` degrade precedent).
- **One map for every payload format** — HTML, PDF and mixed corpora
  run the same batch loop; each row carries its PDF/HTML decision as a
  JVM column (``payload_is_pdf``) and ``extract_one`` dispatches on it.
- **Per-partition metrics rows** — emitted via a companion operator in
  metrics.py (the reference's ``BatchResult``, ``cli/multiproc.py:54-63``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.LongType()),
            T.StructField("end", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("path", T.StringType()),
        ]
    )
)

ERROR_TYPE = T.StructType(
    [
        T.StructField("category", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("retryable", T.BooleanType()),
        T.StructField("phase", T.StringType()),
    ]
)

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("error", ERROR_TYPE),
        T.StructField("n_pages", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_spans", T.IntegerType()),
        T.StructField("timings", T.MapType(T.StringType(), T.DoubleType())),
    ]
)

# document-identity columns stamped ON TOP of RESULT_SCHEMA by every
# extraction operator (the reference's ExportableDocument carries
# document_hash + confidence, ``datamodel/exportable_document.py:53-122``)
FULL_RESULT_SCHEMA = T.StructType(
    [
        *RESULT_SCHEMA.fields,
        T.StructField("content_hash", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
    ]
)


def with_document_identity(results: DataFrame) -> DataFrame:
    """Stamp the canonical dedup key + a confidence proxy onto extraction
    results (ref ``exportable_document.py:53-122``: document_hash,
    confidence ride in the result payload):

    - ``content_hash``: THE canonical dedup key — the same normalized
      sha256 every dedup/curation operator uses (functions.scalar), so
      downstream dedup consumes the stamped column instead of
      re-normalizing corpus-scale text. NULL for FAILURE rows: failed
      docs all have empty text and must not collapse into one group.
    - ``confidence``: extracted-to-input character density, clipped to
      [0,1] — a deterministic proxy for the reference's model-derived
      confidence (boilerplate-heavy or barely-parsed pages score low).
      0.0 for FAILURE rows.

    A pure codegen projection over the FINAL rows, so the sliced and
    single-shot paths stamp byte-identical values by construction."""
    from docling_jobkit_spark.functions.scalar import content_hash

    failed = F.col("status") == "FAILURE"
    density = F.least(
        F.lit(1.0),
        F.length("extracted_text").cast("double")
        / F.greatest(F.col("n_bytes"), F.lit(1)).cast("double"),
    )
    return results.withColumn(
        "content_hash",
        F.when(failed, F.lit(None).cast("string")).otherwise(
            content_hash("extracted_text")
        ),
    ).withColumn(
        "confidence",
        F.when(failed, F.lit(0.0)).otherwise(F.round(density, 6)),
    )


def pdf_sniff_col(payload) -> Column:
    """JVM twin of ``extractor.pdf.is_pdf``, the one PDF/HTML sniff: the
    ``%PDF-`` magic within the first 1024 BYTES. ``decode(...,
    'ISO-8859-1')`` maps each byte to one character, so ``instr`` sees
    exactly the bytes ``is_pdf`` sees — a ``cast(binary as string)`` wrap
    would count UTF-8 characters, and a stray lead byte would swallow the
    magic. NULL payloads are not PDFs. Pure codegen, no Python node."""
    c = F.col(payload) if isinstance(payload, str) else payload
    head = F.decode(F.substring(c, 1, 1024), "ISO-8859-1")
    return F.coalesce(F.instr(head, "%PDF-") > 0, F.lit(False))


def payload_is_pdf(payload_format: str, payload_col: str) -> Column:
    """The per-row PDF/HTML decision every extraction path dispatches on,
    made once as a JVM column and carried with the row: constant for
    "html" and "pdf", the content sniff for "auto" (mixed crawl payloads;
    the reference resolves a backend per document, ``convert/manager.py:
    1554-1565``). The one check of ``payload_format``: the batch pipeline
    and streaming both reach it through the extraction operators."""
    if payload_format not in ("html", "pdf", "auto"):
        raise ValueError(f"payload_format must be html|pdf|auto, got {payload_format!r}")
    if payload_format == "auto":
        return pdf_sniff_col(payload_col)
    return F.lit(payload_format == "pdf")


def extract_one(payload, url, as_pdf: bool, max_bytes, profile):
    """The one per-document dispatch: the from-scratch PDF layout
    extractor (extractor/pdf.py — the analog of the reference's PDF
    pipeline selection, ``convert/manager.py:1672-1723``) or the HTML
    extractor. Both never raise; failures are ``ExtractResult`` rows."""
    from docling_jobkit_spark.extractor.extract import extract
    from docling_jobkit_spark.extractor.pdf import extract_pdf

    if as_pdf:
        return extract_pdf(payload, url, max_bytes=max_bytes)
    return extract(payload, url, max_bytes=max_bytes, profile=profile)


def _extract_batches(
    batches: Iterator[pd.DataFrame], max_bytes: int | None, profile: str
) -> Iterator[pd.DataFrame]:
    # import inside the worker so the function closure stays tiny when
    # pickled to executors (standard pandas-UDF pattern); the profile
    # travels as its NAME and resolves once per worker — the analog of
    # the reference's options-hash converter cache (manager.py:369-479)
    from docling_jobkit_spark.extractor.extract import PROFILES

    prof = PROFILES[profile]

    for batch in batches:
        out: dict[str, list] = {f.name: [] for f in RESULT_SCHEMA.fields}
        for url, raw, as_pdf in zip(
            batch["url"].tolist(), batch["html"].tolist(), batch["_as_pdf"].tolist()
        ):
            payload = bytes(raw) if raw is not None else None
            res = extract_one(payload, url, as_pdf, max_bytes, prof)
            out["url"].append(url)
            out["status"].append(res.status)
            out["extracted_text"].append(res.text)
            # Span is a NamedTuple: pyarrow converts tuples to struct
            # values directly — no per-span dict materialization
            out["spans"].append(res.spans)
            out["error"].append(res.error.as_dict() if res.error else None)
            out["n_pages"].append(res.n_pages)
            out["n_bytes"].append(len(payload) if payload is not None else 0)
            out["n_spans"].append(len(res.spans))
            out["timings"].append(res.timings)
        yield pd.DataFrame(out)


def extract_decided(docs: DataFrame, max_bytes: int | None, profile: str) -> DataFrame:
    """(url, html, _as_pdf) → results(FULL_RESULT_SCHEMA): the one batch
    loop, for rows whose format decision (``payload_is_pdf``) is already
    a column — the slice router's direct branch reuses it as is."""
    mapped = docs.select("url", "html", "_as_pdf").mapInPandas(
        lambda it: _extract_batches(it, max_bytes, profile), schema=RESULT_SCHEMA
    )
    return with_document_identity(mapped)


def extract_documents(
    pages: DataFrame,
    max_bytes: int | None = None,
    profile: str = "default",
    payload_format: str = "html",
    payload_col: str = "html",
) -> DataFrame:
    """pages(url, <payload_col>, ...) → results(FULL_RESULT_SCHEMA).

    ``payload_format`` picks the extractor per row: "html", "pdf" (the
    whole column is PDFs) or "auto" (``%PDF-`` sniff, so a crawl table
    whose binary column mixes formats converts in a single pass).

    Column pruning: Catalyst prunes the parquet scan down to (url,
    payload) (verify with ``.explain``: ReadSchema contains those two
    only); the Arrow batches carry them plus the boolean decision.
    """
    docs = pages.select(
        "url",
        F.col(payload_col).alias("html"),
        payload_is_pdf(payload_format, payload_col).alias("_as_pdf"),
    )
    return extract_decided(docs, max_bytes, profile)
