"""Structured-Streaming variant — the queue-semantics analog.

The reference's durable-queue orchestrators (asyncio FIFO
``orchestrators/local/orchestrator.py:41-135``, Redis LPUSH + dispatcher
``ray/dispatcher.py:290-405``, RQ worker ``rq/worker.py``) exist to give
batch conversion *queue semantics*: new work arrives continuously, gets
dispatched under backpressure, and completed work is durably recorded.

Structured Streaming gives all of that natively:

- arrival: ``readStream`` on the pages table/directory — new parquet
  files are the queue (``latestFirst``/``maxFilesPerTrigger`` = the
  dispatcher's admission + backpressure knobs, O8);
- processing: the SAME ``extract_documents`` operator — mapInPandas is
  streaming-transparent, zero code change;
- durability/exactly-once: the sink checkpointLocation + file-sink
  manifest give first-terminal-state-wins semantics (the Redis
  WATCH/MULTI analog, O5) — a restarted query replays only uncommitted
  files;
- drain-and-stop: ``Trigger.AvailableNow`` processes the backlog with
  backpressure then exits — the batch-job-over-a-queue shape the
  reference's CLI paths implement by hand.
- batch-machinery consumers (fuzzy dedup, sketch state, ingest) run
  inside ``foreachBatch``, which is at-least-once: a crash before a
  batch's ``commits/<id>`` entry replays it. Each consumer is
  idempotent per ``batch_id`` instead — verdicts overwrite their own
  ``batch_id=<id>`` dir, sketch state publishes ``<prefix><batch_id>``
  versions through one loop (``_stream_sketch_state``) over
  checkpoint.py's Hadoop-FS primitives (any scheme), and ingest
  replays are no-ops past the ledger marker.

No watermarks/stateful operators are needed: per-document conversion is
stateless (the reference has no event-time semantics either, SURVEY
§2.8). Aggregation of metrics in streaming mode uses the same
relational ``partition_metrics`` over the committed output table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from docling_jobkit_spark.checkpoint import latest_version
from docling_jobkit_spark.operators.extract_op import extract_documents

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _read_stream(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str = PAGES_SCHEMA_DDL,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over a parquet arrival directory (the queue);
    ``max_files_per_trigger`` is the backpressure knob."""
    reader = spark.readStream.schema(schema_ddl).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def _start_foreach_batch(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str,
    fn,
    checkpoint_dir: str,
    available_now: bool,
    max_files_per_trigger: int | None,
):
    """Run ``fn(batch, batch_id)`` on every micro-batch of the arrival
    directory under ``checkpoint_dir``; ``available_now`` drains the
    backlog and stops. Returns the started StreamingQuery."""
    writer = (
        _read_stream(spark, input_dir, schema_ddl, max_files_per_trigger)
        .writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
    max_bytes: int | None = None,
    payload_format: str = "html",
) -> DataFrame:
    """readStream over a pages directory → streaming extraction DF.

    ``max_files_per_trigger`` is the backpressure knob (the reference's
    per-tenant ``max_queued_tasks`` / admission gate, O8).
    ``payload_format``: "html", "pdf", or "auto" (per-row content sniff)
    — the batch pipeline's format routing through the same
    ``extract_documents``, which rejects any other value; a plain
    mapInPandas transform, so it lifts to Structured Streaming unchanged.
    """
    pages = _read_stream(
        spark, input_dir, max_files_per_trigger=max_files_per_trigger
    )
    return extract_documents(pages, max_bytes=max_bytes, payload_format=payload_format)


def stream_hourly_rollup(
    spark: SparkSession,
    input_dir: str,
    schema_ddl: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """Watermarked event-time windowed aggregation — the stateful
    streaming rollup (late events beyond the watermark are dropped,
    state is bounded). The streaming twin of the batch ``events_hourly``
    query; the reference has no event-time semantics (SURVEY §2.8), this
    is engine-completeness for the streaming surface.
    """
    from pyspark.sql import functions as F

    events = _read_stream(spark, input_dir, schema_ddl)
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n"),
            F.col("total_value"),
        )
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication — the arrival-time twin of
    ``dedup.exact_duplicates``: first document per normalized-content
    hash passes, later duplicates within the watermark horizon are
    dropped. ``dropDuplicatesWithinWatermark`` keys the state store on
    the 256-bit hash and EVICTS state older than the watermark, so at
    continuous-crawl scale the state is bounded by the horizon's unique
    hashes, not the corpus (a plain dropDuplicates would grow forever).
    Cross-horizon dedup belongs to the batch operator over committed
    output."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.functions.scalar import content_hash

    pages = _read_stream(spark, input_dir)
    # NULL-text rows must NOT dedupe against each other (null keys compare
    # equal in the state store — all-but-one would be silently dropped);
    # give them a surrogate key derived from the row's REMAINING content
    # (url, timestamp, html-byte hash). Deterministic on purpose: a task
    # retry / checkpoint replay re-evaluates the expression and MUST
    # produce the same key, or replayed rows double-emit under new
    # identities and downstream reconciliation keyed on content_hash can
    # never match (an earlier uuid() variant had exactly that flaw).
    # Rows identical in all of url+ts+html are true duplicates and DO
    # collapse — correct. concat_ws tolerates a NULL url (a plain concat
    # would go NULL and collapse every null-url row into one state entry).
    hashed = pages.withColumn(
        "content_hash",
        F.coalesce(
            content_hash("text"),
            F.concat_ws(
                "@",
                F.lit("no-text"),
                F.coalesce(F.col("url"), F.lit("")),
                F.col("warc_ts").cast("string"),
                F.sha2(F.coalesce(F.col("html"), F.lit(b"")), 256),
            ),
        ),
    )
    return hashed.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def start_file_stream(
    results: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming sink with exactly-once file commits.

    ``Trigger.AvailableNow`` = drain the current queue then stop (the
    batch-CLI shape); pass ``available_now=False`` for a continuous
    micro-batch service (the Ray-orchestrator shape).
    """
    writer = (
        results.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_curate(
    spark: SparkSession,
    input_dir: str,
    blocked_domains: tuple[str, ...] = (),
    blocked_exts: tuple[str, ...] = (),
) -> DataFrame:
    """Streaming curation stamp: the STATELESS signal family (URL gate,
    PII counts + redaction, scalar quality features, language ID)
    applied to pages as they arrive — pure projections are
    streaming-transparent, so this is byte-identical to running the same
    operators in batch over the same files (test-pinned).

    The aggregation-shaped signals (repetition_signals, segment_dup,
    gopher_filter's 2-gram stats) are deliberately NOT here: they
    aggregate over an unbounded per-doc key and belong to the batch pass
    over committed output — the same arrival-vs-corpus split as
    stream_dedup_exact vs the batch dedup families."""
    pages = _read_stream(spark, input_dir)
    return _curate_stamp(pages, blocked_domains, blocked_exts)


def _curate_stamp(
    pages: DataFrame,
    blocked_domains: tuple[str, ...],
    blocked_exts: tuple[str, ...],
) -> DataFrame:
    """The shared batch/stream projection (one definition so the
    streaming==batch equivalence holds by construction)."""
    from docling_jobkit_spark.operators.pii import pii_signals
    from docling_jobkit_spark.operators.textstats import lang_id, quality_features
    from docling_jobkit_spark.operators.webfilter import url_filter

    out = url_filter(
        pages, blocked_domains=blocked_domains, blocked_exts=blocked_exts
    )
    out = pii_signals(out)
    out = quality_features(out).withColumn("lang_pred", lang_id("text"))
    return out


def stream_dedup_fuzzy(
    spark: SparkSession,
    input_dir: str,
    index: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    tau: float = 0.8,
    schema_ddl: str = "doc_id bigint, text string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming fuzzy dedup against the PERSISTED MinHash band index
    (operators/minhash_index.py): documents arrive as parquet files,
    each micro-batch is probed with the exact batch machinery
    (``dedup_incremental``) inside ``foreachBatch``, and the per-doc
    verdicts land in ``output_dir/batch_id=<id>``.

    Why foreachBatch and not a streaming-native plan: the signature
    pipeline materializes its shingle intermediate (localCheckpoint —
    repo invariant: the interpreted higher-order fold re-runs per
    consumer otherwise), which a continuous streaming plan cannot do;
    a micro-batch IS a batch frame, so the probe runs the identical
    code path — streaming == batch holds by construction and the
    equivalence is test-pinned.

    foreachBatch is at-least-once: after a crash between a batch's
    write and its ``commits/<id>`` entry, the restart replays it. The
    probe is stateless per batch (the state lives in the index), so a
    replay computes the same verdicts, and each batch overwrites only
    its own ``batch_id=<id>`` directory — a replay replaces its earlier
    output instead of appending a second copy (test-pinned).

    The index side stays a static DataFrame loaded once; per batch the
    delta's bands broadcast (the steady-state plan shape pinned for the
    batch probe). Returns the started StreamingQuery."""
    from docling_jobkit_spark.operators.minhash_index import dedup_incremental

    def _probe(batch: DataFrame, batch_id: int) -> None:
        dedup_incremental(batch, index, tau=tau).write.mode("overwrite").parquet(
            f"{output_dir.rstrip('/')}/batch_id={batch_id}"
        )

    return _start_foreach_batch(
        spark, input_dir, schema_ddl, _probe, checkpoint_dir,
        available_now, max_files_per_trigger,
    )


def _stream_sketch_state(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str,
    build,
    merge,
    prefix: str,
    available_now: bool,
    max_files_per_trigger: int | None,
):
    """The one versioned-sketch loop behind every ``stream_<sketch>``:
    ONE bounded sketch table maintained across micro-batches.

    Per batch: sketch the delta (``build(batch)``), merge it with the
    newest COMPLETE persisted version strictly older than this batch
    (``merge(prev, delta)``), and publish ``<prefix><batch_id>`` gated
    on Spark's ``_SUCCESS`` marker — versioned PUTs, no rename, torn
    writes are simply never read. Listing and the ``_SUCCESS`` gate go
    through ``checkpoint.latest_version`` (Hadoop FS), so the state dir
    may be any scheme. A replayed batch re-merges the same delta
    against the same older version and overwrites its own directory;
    merging its own output back in would self-overwrite the directory
    it reads. That makes every merge exact under replay: max-merge (HLL)
    is idempotent even under duplicated data, and count-sum (logh, CMS)
    rides on the file source's checkpoint putting each input file in
    exactly one batch_id."""

    def _publish(batch: DataFrame, batch_id: int) -> None:
        sk = build(batch)
        prev = latest_version(state_dir, prefix, before=batch_id)
        if prev is not None:
            sk = merge(batch.sparkSession.read.parquet(prev), sk)
        # one tiny job over the bounded sketch; coalesce(1) keeps the
        # state a single file per version
        sk.coalesce(1).write.mode("overwrite").parquet(
            f"{state_dir.rstrip('/')}/{prefix}{batch_id}"
        )

    return _start_foreach_batch(
        spark, input_dir, schema_ddl, _publish, checkpoint_dir,
        available_now, max_files_per_trigger,
    )


def _read_sketch_state(spark: SparkSession, state_dir: str, prefix: str) -> DataFrame:
    """The newest complete sketch version (raises if none published)."""
    latest = latest_version(state_dir, prefix)
    if latest is None:
        raise FileNotFoundError(f"no complete {prefix}* state under {state_dir}")
    return spark.read.parquet(latest)


def stream_hll_distinct(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    p: int = 12,
    schema_ddl: str = "doc_id bigint, text string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming cardinality: one HyperLogLog register table
    (operators/sketches.py) kept by ``_stream_sketch_state`` as
    ``registers_v<batch_id>`` — the "how many distinct urls has this
    crawl seen so far" answer with O(2^p) state, where streaming
    dropDuplicates-then-count would keep every key in the state store
    forever. ``hll_merge`` is element-wise max. streaming == batch is
    pinned in tests/test_streaming.py. Returns the started
    StreamingQuery."""
    from docling_jobkit_spark.operators.sketches import hll_merge, hll_registers

    return _stream_sketch_state(
        spark, input_dir, state_dir, checkpoint_dir, schema_ddl,
        lambda b: hll_registers(b, col, p), hll_merge, "registers_v",
        available_now, max_files_per_trigger,
    )


def read_hll_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest complete register table (raises if none published)."""
    return _read_sketch_state(spark, state_dir, "registers_v")


def stream_logh_quantiles(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    sub_bits: int = 6,
    schema_ddl: str = "doc_id bigint, text string, n_chars bigint",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming quantiles: one log-bucket histogram
    (operators/sketches.py::logh_*) kept by ``_stream_sketch_state`` as
    ``buckets_v<batch_id>`` — the "what is the p99 document size of
    everything this crawl has seen so far" answer with BOUNDED state,
    where a streaming exact percentile would retain every value.
    ``logh_merge`` sums counts. streaming == batch is pinned in
    tests/test_streaming.py over disjoint arrival slices. Returns the
    started StreamingQuery."""
    from docling_jobkit_spark.operators.sketches import logh_buckets, logh_merge

    return _stream_sketch_state(
        spark, input_dir, state_dir, checkpoint_dir, schema_ddl,
        lambda b: logh_buckets(b, col, sub_bits), logh_merge, "buckets_v",
        available_now, max_files_per_trigger,
    )


def read_logh_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest complete bucket table (raises if none published)."""
    return _read_sketch_state(spark, state_dir, "buckets_v")


def stream_cms_counts(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    col: str,
    depth: int = 4,
    width: int = 1024,
    schema_ddl: str = "doc_id bigint, text string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming frequencies: one Count-Min sketch
    (operators/sketches.py::cms_*) kept by ``_stream_sketch_state`` as
    ``cms_v<batch_id>`` — the "how often has this crawl seen each
    host/token so far" answer with d×w-bounded state, where a streaming
    exact groupBy(key) count keeps every distinct key in the state store
    forever. ``cms_merge`` sums cells. streaming == batch (cell-for-cell
    equality with ``cms_build`` over the full static input) is pinned in
    tests/test_streaming.py. Returns the started StreamingQuery."""
    from docling_jobkit_spark.operators.sketches import cms_build, cms_merge

    return _stream_sketch_state(
        spark, input_dir, state_dir, checkpoint_dir, schema_ddl,
        lambda b: cms_build(b, col, depth, width), cms_merge, "cms_v",
        available_now, max_files_per_trigger,
    )


def read_cms_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest complete CMS cell table (raises if none published)."""
    return _read_sketch_state(spark, state_dir, "cms_v")


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema_ddl: str = "doc_id bigint, url string, text string",
    config=None,
    benchmark: DataFrame | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of the incremental ingest loop (plans/ingest.py):
    documents arrive as parquet files and EVERY micro-batch runs the
    full batch machinery inside ``foreachBatch`` — curation funnel,
    history dedup against every previously committed micro-batch, and
    the ordered corpus/seen/index/shards/zonemap/ledger commit — with
    ``batch_id = mb-<zero-padded micro-batch id>``.

    Exactly-once falls out of composing two at-least-once halves:
    foreachBatch replays a micro-batch after a crash, and
    ``ingest_batch`` replays are no-ops past the ledger commit marker
    (and exact before it — probes never read the replayed batch's own
    partial deltas). So the state directory converges to the same
    bytes no matter how many times a batch is delivered; streaming ==
    sequential-batch is pinned in tests/test_streaming.py.

    A micro-batch IS a batch frame, so the materializing funnel path
    (localCheckpoint before the probe joins) runs verbatim — the same
    reason stream_dedup_fuzzy uses foreachBatch. Returns the started
    StreamingQuery."""
    from docling_jobkit_spark.plans.ingest import ingest_batch

    def _commit(batch: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch.sparkSession,
            batch,
            state_dir,
            f"mb-{batch_id:09d}",
            benchmark=benchmark,
            config=config,
        )

    return _start_foreach_batch(
        spark, input_dir, schema_ddl, _commit, checkpoint_dir,
        available_now, max_files_per_trigger,
    )
