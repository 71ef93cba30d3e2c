"""Incremental corpus ingestion — the composed production loop.

One batch of documents in; out comes everything a rolling 100 TB
training-data corpus accretes per crawl snapshot, under ONE state
directory, batch-versioned and replay-idempotent:

    curation funnel (plans/curation.py, within-batch)
      → history dedup (exact content-hash + fuzzy MinHash-index probe
        against EVERY previously committed batch — never recomputed)
      → commit: corpus parquet + seen-hash table + MinHash index delta
        + gzip-JSONL training shards + zone-map and Bloom manifests +
        attrition ledger.

Reference parity: docling-jobkit's job model is exactly this loop run
by hand — convert a batch, cache results keyed by task identity, feed
targets (reference ``docling_jobkit/connectors`` result stores +
``targets``); this plan is that loop as one deterministic Spark
composition with the curation/dedup semantics a webtext pipeline
needs (FineWeb/RefinedWeb-style funnel, CCNet-style rolling dedup).

State layout (all per-batch families are ``<family>/batch=<id>``):

    corpus/batch=<id>/   committed docs (doc_id, url, text,
                         content_hash, n_chars) — text is post-PII
    seen/batch=<id>/     distinct content hashes of that batch
    index/batch=<id>/    MinHash band delta (band-partitioned,
                         family-digest stamped — minhash_index.py)
    shards/batch=<id>/   gzip JSONL training shards
    zonemap/             per-file min/max manifest over corpus/
                         (operators/zonemap.py)
    bloomidx/            per-file Bloom manifest over corpus/
                         (operators/bloom_index.py); both are shared
                         and reconciled by ``_reconcile_manifests``
    ledger/batch=<id>/   per-stage attrition rows; its _SUCCESS is
                         the batch's COMMIT MARKER (written last)

Replay contract (at-least-once driver, exactly-once state):

- A batch whose ledger marker exists is committed: ``ingest_batch``
  returns the recorded result without running anything.
- History probes read only family dirs whose OWN ``_SUCCESS`` exists
  and whose batch id differs from the current one, so a crash between
  any two commit steps replays exactly: the rerun cannot see its own
  partial appends (probe-BEFORE-append generalized to probe-NEVER-
  SELF), and per-batch dirs are rewritten mode=overwrite. The pipeline
  is deterministic given (input batch, committed history), so a
  partially committed delta another batch may already have probed is
  byte-identical to what the replay rewrites.
- The shared manifests are reconciled against ONE listing of the
  files on disk every commit (only unseen files are indexed); losing
  either entirely just means one full rebuild.

Single-writer per state_dir: batches commit sequentially (a crawl
cadence, not a concurrency domain). The intra-batch exactly-once
machinery for page extraction remains checkpoint.py's manifest PUT.

Scale shape: the delta is small next to history, so both history
probes broadcast the DELTA and stream the history side map-side —
the index is never shuffled (minhash_index steady-state plan) and the
seen table is never shuffled (broadcast hash semi-join). Stage stamps
and dedup joins move (id, hash)-narrow rows only; document text
crosses the wire exactly once, into the commit writes.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import (
    _list_parquet_files,
    certified_rewrite,
    committed_dirs,
    delete,
    exists,
    list_status,
)
from docling_jobkit_spark.functions.scalar import (
    content_hash,
    empty_frame,
    stable_hash64,
)
from docling_jobkit_spark.operators.minhash_index import (
    banded_signatures,
    dedup_incremental,
    read_minhash_index,
    write_minhash_index,
)
from docling_jobkit_spark.operators.bloom_index import (
    prune_files_bloom,
    read_bloom_index,
    update_bloom_index,
    write_bloom_index,
)
from docling_jobkit_spark.operators.zonemap import (
    _data_files,
    read_zonemap,
    update_zonemap,
    write_zonemap,
)
from docling_jobkit_spark.plans.curation import (
    STAGES,
    CurationConfig,
    _drop_flagged,
    curate_corpus,
    funnel_ledger,
)
from docling_jobkit_spark.sinks.writers import write_training_shards

HISTORY_STAGES = ("history_exact", "history_fuzzy")
INGEST_STAGES = STAGES + HISTORY_STAGES

_BATCH_ID_RE = re.compile(r"^[A-Za-z0-9._-]+$")

# Explicit read schemas: an all-dropped batch commits EMPTY dirs
# (marker only, no part files) and schema inference would fail there.
CORPUS_SCHEMA = (
    "doc_id bigint, url string, text string, content_hash string, n_chars bigint"
)
SEEN_SCHEMA = "content_hash string"
LEDGER_SCHEMA = (
    "stage_order int, stage string, docs_in bigint, "
    "docs_dropped bigint, docs_kept bigint"
)
_CORPUS_COLS = tuple(p.split()[0] for p in CORPUS_SCHEMA.split(","))

# the per-batch families, and the tmp roots of the three in-place
# rewrites (checkpoint.certified_rewrite): compaction, corpus takedown
# and shard purge — each tmp is ``<root>/batch=<id>``
_BATCH_FAMILIES = ("corpus", "seen", "index", "shards", "ledger")
_COMPACT_TMP = "corpus_compact"
_TAKEDOWN_TMP = "corpus_takedown"
_SHARD_TMP = "shards_takedown"
_TMP_FAMILIES = (_COMPACT_TMP, _TAKEDOWN_TMP, _SHARD_TMP)
# the two pruning manifests over corpus/ (operators/zonemap.py,
# operators/bloom_index.py), one dir each
_ZONEMAP, _BLOOMIDX = "zonemap", "bloomidx"


@dataclass(frozen=True)
class IngestConfig:
    curation: CurationConfig = field(default_factory=CurationConfig)
    tau: float = 0.8  # fuzzy threshold vs history (est. Jaccard)
    # file-level min/max manifest over the corpus. Empty tuple disables.
    zonemap_cols: tuple[str, ...] = ("n_chars",)
    # file-level Bloom index over the corpus (point lookups: audits /
    # takedown "which files hold this doc" — zone maps can't prune a
    # hash column). Empty tuple disables.
    bloom_cols: tuple[str, ...] = ("content_hash",)
    max_records_per_file: int = 50_000
    max_shard_bytes: int | None = None


@dataclass(frozen=True)
class IngestResult:
    batch_id: str
    replayed: bool  # True = commit marker existed; nothing ran
    ledger: DataFrame  # read back from the COMMITTED ledger dir
    kept: DataFrame  # read back from the COMMITTED corpus dir
    n_new_zonemap_files: int  # footers read this commit (0 on replay)


def docs_from_extraction(results: DataFrame) -> DataFrame:
    """Extraction results (operators/extract_op.py RESULT schema) →
    the ingest doc shape (doc_id, url, text). FAILURE rows carry no
    text and are dropped here — the extraction pipeline's own metrics
    account for them (metrics.job_summary); the ingest ledger accounts
    for curation/history attrition only. doc_id is a deterministic
    56-bit hash of (url, content_hash): stable under any partitioning,
    distinct for same-url re-crawls with different payloads (repo
    invariant: urls are NOT unique)."""
    ok = results.where(F.col("status") != "FAILURE")
    return ok.select(
        stable_hash64(
            F.concat_ws("\x1f", F.col("url"), F.col("content_hash"))
        ).alias("doc_id"),
        F.col("url"),
        F.col("extracted_text").alias("text"),
    )


def _check_batch_id(batch_id: str) -> None:
    if not _BATCH_ID_RE.match(batch_id):
        raise ValueError(
            f"batch_id must match {_BATCH_ID_RE.pattern}, got {batch_id!r}"
        )


def _has_data_files(path: str) -> bool:
    """False for an absent dir too (an expired batch's payload)."""
    return any(
        not st.getPath().getName().startswith(("_", ".")) for st in list_status(path)
    )


def history_exact_hits(hist_hashes: DataFrame, delta_hashes: DataFrame) -> DataFrame:
    """Delta rows whose content_hash is already committed. The history
    side (years of hashes) streams MAP-SIDE against the broadcast
    delta — the seen table, like the MinHash index, is never shuffled
    (plan-pinned in tests/test_ingest.py). ``delta_hashes`` carries
    (id, content_hash); the id column rides through."""
    return hist_hashes.join(F.broadcast(delta_hashes), on="content_hash").drop(
        "content_hash"
    )


def _history_dirs(
    spark: SparkSession, family_root: str, current: str
) -> list[str]:
    """Committed, non-empty, non-self batch dirs — an all-dropped batch
    commits a marker-only dir that carries nothing to probe."""
    dirs = committed_dirs(family_root)
    return [
        d
        for b, d in sorted(dirs.items())
        if b != current and _has_data_files(d)
    ]


def ingest_batch(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: str,
    benchmark: DataFrame | None = None,
    config: IngestConfig | None = None,
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str = "text",
) -> IngestResult:
    """Run one snapshot through the full loop (module docstring).
    ``docs`` needs (id, url, text) — raw pages go through
    ``extract_documents`` + ``docs_from_extraction`` first."""
    cfg = config or IngestConfig()
    _check_batch_id(batch_id)
    root = state_dir.rstrip("/")
    corpus_root = f"{root}/corpus"
    seen_root = f"{root}/seen"
    index_root = f"{root}/index"
    shards_root = f"{root}/shards"
    ledger_root = f"{root}/ledger"
    corpus_dir = f"{corpus_root}/batch={batch_id}"
    ledger_dir = f"{ledger_root}/batch={batch_id}"

    # -- replay guard: the ledger marker IS the commit record ---------
    # An EXPIRED batch (payload reclaimed by expire_batch_payload) has
    # the marker but no corpus dir: still a committed no-op replay —
    # its dedup memory (seen/index) is intact; kept is empty.
    if exists(f"{ledger_dir}/_SUCCESS"):
        return IngestResult(
            batch_id=batch_id,
            replayed=True,
            ledger=spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir),
            kept=(
                spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)
                if exists(corpus_dir)
                else empty_frame(spark, CORPUS_SCHEMA)
            ),
            n_new_zonemap_files=0,
        )

    # -- within-batch curation funnel (8 stages, first-fail stamps) ---
    cur = curate_corpus(
        docs,
        benchmark=benchmark,
        config=cfg.curation,
        text_col=text_col,
        id_col=id_col,
        url_col=url_col,
    )
    stamped = cur.stamped  # carries redacted_text for survivors

    # -- history exact: committed content hashes, self-batch excluded -
    # History streams map-side against the broadcast delta (the delta
    # is the small side at steady state) — the seen table, like the
    # index, is NEVER shuffled.
    seen_dirs = _history_dirs(spark, seen_root, batch_id)
    if seen_dirs:
        hist_hashes = (
            spark.read.option("basePath", seen_root)
            .schema(SEEN_SCHEMA)
            .parquet(*seen_dirs)
            .select("content_hash")
        )
        delta_hashes = stamped.where(F.col("drop_stage").isNull()).select(
            F.col(id_col),
            content_hash(F.col("redacted_text")).alias("content_hash"),
        )
        flagged = history_exact_hits(hist_hashes, delta_hashes).select(id_col)
        stamped = _drop_flagged(
            stamped, flagged, id_col, "history_exact", F.lit("seen_content_hash")
        )

    # -- history fuzzy: MinHash probe of committed index deltas -------
    # The delta is signed ONCE (banded_signatures, localCheckpointed —
    # repo invariant: signature intermediates are materialized): the
    # probe consumes the bands here and the index-delta commit below
    # reuses them via a semi-join on the committed ids — signing is the
    # dominant per-doc cost of the family, never paid twice per batch.
    surv_banded = None
    idx_dirs = _history_dirs(spark, index_root, batch_id)
    if idx_dirs:
        idx = read_minhash_index(spark, idx_dirs, base_path=index_root)
        surv = stamped.where(F.col("drop_stage").isNull()).select(
            F.col(id_col).alias("doc_id"),
            F.col("redacted_text").alias("text"),
        )
        surv_banded = banded_signatures(surv).localCheckpoint(eager=False)
        verdicts = dedup_incremental(surv, idx, tau=cfg.tau, new_banded=surv_banded)
        flagged = verdicts.where(F.col("is_dup")).select(
            F.col("doc_id").alias(id_col)
        )
        stamped = _drop_flagged(
            stamped, flagged, id_col, "history_fuzzy", F.lit("near_dup_of_history")
        )

    # The final stamped frame feeds the ledger AND the commit writes —
    # materialize once past the probe joins (repo invariant:
    # multi-consumer lineage recomputes otherwise); delta-sized. LAZY:
    # the first commit write materializes it inside its own job — an
    # eager checkpoint here was a separate blocking job per batch (the
    # lifecycle entries' dominant fixed cost was 21 eager-checkpoint
    # jobs per run, cProfile session 13). Eager remains REQUIRED only
    # where a frame must be materialized before its source dir is
    # rewritten (zonemap/bloom keep-and-rewrite paths).
    stamped = stamped.localCheckpoint(eager=False)

    # -- commit (ordered; ledger marker LAST) --------------------------
    kept = stamped.where(F.col("drop_stage").isNull()).select(
        F.col(id_col).alias("doc_id"),
        F.col(url_col).alias("url"),
        F.col("redacted_text").alias("text"),
    )
    kept = kept.withColumn("content_hash", content_hash(F.col("text"))).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    # honor the target-file-size knob on the corpus too (the JSONL
    # shard sink already does): a batch larger than one task's slice
    # splits into bounded files, which keeps per-file Bloom / zone-map
    # pruning granular instead of one-manifest-row-per-batch
    kept.write.option(
        "maxRecordsPerFile", cfg.max_records_per_file
    ).mode("overwrite").parquet(corpus_dir)
    # every downstream artifact derives from the COMMITTED bytes
    committed = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)

    committed.select("content_hash").distinct().write.mode("overwrite").parquet(
        f"{seen_root}/batch={batch_id}"
    )
    # reuse the probe's bands for the committed subset (identical by
    # construction: committed text IS the redacted text that was
    # signed); first batch has no probe, so it signs here
    delta_banded = (
        surv_banded.join(
            committed.select(F.col("doc_id").alias("id")), on="id", how="left_semi"
        )
        if surv_banded is not None
        else None
    )
    write_minhash_index(
        committed.select("doc_id", "text"),
        f"{index_root}/batch={batch_id}",
        mode="overwrite",
        banded=delta_banded,
    )
    write_training_shards(
        committed,
        f"{shards_root}/batch={batch_id}",
        text_col="text",
        meta_cols=("url", "content_hash"),
        max_records_per_file=cfg.max_records_per_file,
        max_shard_bytes=cfg.max_shard_bytes,
    )

    # both pruning manifests reconcile against ONE listing of the
    # corpus, which nothing writes to from here on
    n_new, _ = _reconcile_manifests(spark, root, (cfg.zonemap_cols, cfg.bloom_cols))

    ledger = funnel_ledger(stamped, stages=INGEST_STAGES)
    ledger.coalesce(1).write.mode("overwrite").parquet(ledger_dir)

    return IngestResult(
        batch_id=batch_id,
        replayed=False,
        ledger=spark.read.schema(LEDGER_SCHEMA).parquet(ledger_dir),
        kept=committed,
        n_new_zonemap_files=n_new,
    )


@dataclass(frozen=True)
class CompactBatchStats:
    batch_id: str
    n_files_before: int
    n_files_after: int
    healed: bool  # True = a complete tmp left by a prior call was finished
    skipped: str | None  # non-None = nothing to do (reason)


def compact_ingest_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> CompactBatchStats:
    """In-place compaction of one committed batch's corpus dir — the
    maintenance op a daily-snapshot corpus needs once hundreds of small
    ``batch=`` dirs have accreted (sinks/maintenance.py economics,
    applied to the ingest layout; the dir name must stay ``batch=<id>``
    because replays read it directly).

    Object-store-safe (no rename): one ``checkpoint.certified_rewrite``
    through ``corpus_compact/batch=<id>`` (OUTSIDE the corpus root so
    the zone-map listing never sees it) — compaction must be a pure
    layout change, so the content signature certifies every hop:

        1. compact src → tmp; a tmp whose signature differs from src is
           deleted and the call raises, src untouched
        2. compact tmp → src (overwrite; same scan-side packing confs),
           reconcile the zone-map and Bloom manifests (stale rows drop,
           new files get footer-statted)
        3. verify sig(src) == sig(tmp), then delete the tmp

    Crash recovery makes the op idempotent: a complete tmp (its
    _SUCCESS present) found on entry is re-applied from step 2 whatever
    src holds — a crash inside step 2's delete-then-write window can
    leave src absent or torn — and reported as ``healed=True``. Only
    committed batches compact (ledger marker required) — compacting an
    in-flight batch would race its writer.

    Same-session caveat: DataFrames created over this batch dir BEFORE
    compaction (e.g. an earlier ``IngestResult.kept``) hold the
    pre-rewrite file listing and will fail with FileNotFound if
    re-executed — re-read the path after compacting (plain Spark
    overwrite semantics, same as any path rewrite)."""
    from docling_jobkit_spark.sinks.maintenance import compact_files

    _check_batch_id(batch_id)
    root = state_dir.rstrip("/")
    src = f"{root}/corpus/batch={batch_id}"
    tmp = f"{root}/{_COMPACT_TMP}/batch={batch_id}"
    if not exists(f"{root}/ledger/batch={batch_id}/_SUCCESS"):
        raise ValueError(f"batch {batch_id!r} is not committed; refusing to compact")
    n_src_files = len(_list_parquet_files(spark, src)) if exists(src) else 0
    if n_src_files <= 1 and not exists(f"{tmp}/_SUCCESS"):
        reason = "already one file" if n_src_files else "empty batch dir"
        return CompactBatchStats(batch_id, n_src_files, n_src_files, False, reason)

    def read(path: str) -> DataFrame:
        return spark.read.schema(CORPUS_SCHEMA).parquet(path)

    def stage(path: str) -> DataFrame:
        compact_files(spark, src, path, target_file_bytes)
        return read(src)

    def apply(path: str) -> DataFrame:
        compact_files(spark, path, src, target_file_bytes)
        _reconcile_manifests(spark, root)
        return read(src)

    healed = certified_rewrite(tmp, read, "content_hash", apply, stage)
    n_after = len(_list_parquet_files(spark, src))
    return CompactBatchStats(batch_id, n_src_files, n_after, healed, None)


@dataclass(frozen=True)
class ExpireBatchStats:
    batch_id: str
    n_files_deleted: int
    bytes_reclaimed: int
    already_expired: bool  # True = payload was gone on entry (no-op)


def expire_batch_payload(
    spark: SparkSession, state_dir: str, batch_id: str
) -> ExpireBatchStats:
    """Storage reclaim for an old committed batch — the Iceberg
    ``expire_snapshots`` analog for the ingest layout, WITHOUT
    forgetting what was ingested: deletes the batch's corpus parquet
    dir and JSONL shards but KEEPS its ledger (the commit marker), its
    seen-hash delta, and its MinHash index delta, so history dedup for
    every future batch is bit-unchanged (the probes read seen/index
    only, never corpus payload). Replays of the expired batch itself
    still no-op (marker intact) and return an empty ``kept``.

    Torn-safety ordering — the zone-map manifest stops referencing the
    files BEFORE any file is deleted (``scan_pruned`` reads survivors
    by explicit manifest path; the reverse order would leave a window
    where a pruned scan references deleted files):

        1. rewrite zonemap without this batch's file rows
        2. delete ``corpus/batch=<id>`` (recursive)
        3. delete ``shards/batch=<id>``

    A crash between any two steps replays exactly: step 1 is a no-op
    once the rows are gone, deletes are idempotent. Uncommitted batches
    refuse (expiring an in-flight batch would race its writer)."""
    _check_batch_id(batch_id)
    root = state_dir.rstrip("/")
    if not exists(f"{root}/ledger/batch={batch_id}/_SUCCESS"):
        raise ValueError(f"batch {batch_id!r} is not committed; refusing to expire")
    corpus_dir = f"{root}/corpus/batch={batch_id}"
    shards_dir = f"{root}/shards/batch={batch_id}"

    # 1. manifests first: drop this batch's file rows (metadata-sized)
    _drop_manifest_rows(spark, root, _in_batch(batch_id))

    # 2-3. delete payload dirs (idempotent; sizes counted before)
    already = not exists(corpus_dir)
    n_files = len(_list_parquet_files(spark, corpus_dir)) if not already else 0
    n_bytes = delete(corpus_dir) + delete(shards_dir)
    return ExpireBatchStats(batch_id, n_files, n_bytes, already)


@dataclass(frozen=True)
class RollbackStats:
    batch_id: str
    existed: bool  # False = no trace of the batch anywhere (pure no-op)
    was_committed: bool  # marker stood on entry (False = torn-rollback retry)
    n_dirs_deleted: int
    bytes_reclaimed: int


def rollback_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: str,
    allow_non_latest: bool = False,
) -> RollbackStats:
    """Un-commit a batch — the exact inverse of ``ingest_batch`` and
    the Iceberg rollback-to-snapshot analog for the ingest layout, and
    the action the ``ingest_drift_report`` gate feeds: a flagged crawl
    snapshot (parser regression, spam wave) is rolled back, the crawl
    is fixed, and the SAME batch id re-ingests fresh.

    Contrast the other two deletion ops: ``expire_batch_payload`` drops
    storage but keeps the commit and all dedup memory; ``delete_content``
    removes specific documents but leaves tombstones so they can never
    re-enter. Rollback FORGETS: the batch's seen hashes and MinHash
    index delta are deleted, so its content re-enters the corpus
    cleanly on the next crawl — precisely what a re-ingest after a bad
    snapshot requires (tombstoning a regression's output would block
    the corrected re-crawl as a near-duplicate of garbage).

    By default only the LATEST committed batch may roll back (later
    batches' history-dedup decisions were made against this batch's
    seen/index deltas; un-committing mid-history silently orphans those
    drops — a doc dropped from batch B as a dup of A is lost from BOTH
    if A alone disappears). Iceberg's rollback has the same shape: you
    roll back TO a snapshot, discarding everything after. Pass
    ``allow_non_latest=True`` for a surgical mid-history removal where
    that orphaning is understood and acceptable.

    Crash-safety ordering (every reader gates on the ledger marker):

        1. delete ``ledger/batch=<id>/_SUCCESS`` — ONE file delete is
           the whole un-commit: replay guard, history probes,
           time-travel, reports, and vacuum all stop seeing the batch
           at this instant
        2. drop the batch's rows from BOTH pruning manifests (the
           expire ordering — manifests stop referencing files before
           any file is deleted)
        3. delete every per-batch family dir (corpus / seen / index /
           shards / ledger) AND every two-phase tmp for the batch
           (``corpus_compact`` / ``corpus_takedown`` /
           ``shards_takedown``) — tmps go even when CERTIFIED: a heal
           copy for a batch that no longer exists would let a later
           ``delete_content`` heal pass resurrect rolled-back payload

    A crash after step 1 leaves ordinary uncommitted debris: retrying
    the rollback completes it (``was_committed=False``), a replay of
    ``ingest_batch`` overwrites it, and ``vacuum_ingest_state`` reclaims
    it. All deletes are idempotent; calling again after completion
    returns ``existed=False``.

    Reference parity: docling-jobkit's result stores are append-only
    caches with no un-commit (``docling_jobkit/connectors``) — rollback
    completes the snapshot lifecycle alongside expire and takedown."""
    _check_batch_id(batch_id)
    root = state_dir.rstrip("/")
    committed = committed_dirs(f"{root}/ledger")
    was_committed = batch_id in committed
    if was_committed and not allow_non_latest:
        later = sorted(b for b in committed if b > batch_id)
        if later:
            raise ValueError(
                f"batch {batch_id!r} is not the latest committed batch "
                f"(later: {later}); their history-dedup decisions depend "
                f"on it — pass allow_non_latest=True to roll back anyway"
            )

    # 1. the un-commit point: one marker delete, then the batch is
    # invisible to every reader and the rest is debris cleanup
    if was_committed:
        delete(f"{root}/ledger/batch={batch_id}/_SUCCESS")

    # 2. manifests first (expire ordering)
    _drop_manifest_rows(spark, root, _in_batch(batch_id))

    # 3. every per-batch dir, families and tmps alike
    existed = was_committed
    n_dirs = 0
    n_bytes = 0
    for family in _BATCH_FAMILIES + _TMP_FAMILIES:
        path = f"{root}/{family}/batch={batch_id}"
        if exists(path):
            existed = True
            n_bytes += delete(path)
            n_dirs += 1
    return RollbackStats(
        batch_id=batch_id,
        existed=existed,
        was_committed=was_committed,
        n_dirs_deleted=n_dirs,
        bytes_reclaimed=n_bytes,
    )


def read_corpus_asof(
    spark: SparkSession,
    state_dir: str,
    batch_id: str,
    on_expired: str = "raise",
) -> DataFrame:
    """Time-travel read — the corpus exactly as it stood after
    ``batch_id`` committed (the Iceberg ``VERSION AS OF`` analog for
    the ingest layout): the union of every committed batch whose id
    sorts ``<= batch_id``. Batch ids order lexicographically, which is
    chronological for the ISO-dated ids the loop uses ("2026-01").

    ``batch_id`` itself must be committed (reading "as of" a snapshot
    that never existed is an error, same as Iceberg). If any batch in
    the window had its payload reclaimed by ``expire_batch_payload``,
    that history is no longer reconstructible: ``on_expired="raise"``
    (default) refuses loudly, naming the expired batches;
    ``on_expired="skip"`` returns the surviving subset — an explicit
    partial-history opt-in, never a silent one.

    Plan shape: an explicit committed-dir list under one ``basePath``,
    so the ``batch`` partition column rides the rows and Catalyst can
    partition-prune any ``WHERE batch = ...`` on top; marker-only
    (all-dropped) batch dirs contribute zero files. Metadata cost is
    one driver listing — no data file is opened to resolve the window.
    """
    if on_expired not in ("raise", "skip"):
        raise ValueError(f"on_expired must be 'raise' or 'skip', got {on_expired!r}")
    root = state_dir.rstrip("/")
    committed = committed_dirs(f"{root}/ledger")
    if batch_id not in committed:
        raise ValueError(
            f"batch {batch_id!r} is not committed; cannot time-travel to it"
        )
    window = sorted(b for b in committed if b <= batch_id)
    expired = [
        b for b in window if not exists(f"{root}/corpus/batch={b}")
    ]
    if expired and on_expired == "raise":
        raise ValueError(
            f"time travel to {batch_id!r} crosses expired payload "
            f"(batches {expired}); pass on_expired='skip' to read the "
            f"surviving subset"
        )
    dirs = [
        f"{root}/corpus/batch={b}" for b in window if b not in set(expired)
    ]
    if not dirs:
        return empty_frame(spark, CORPUS_SCHEMA + ", batch string")
    return (
        spark.read.option("basePath", f"{root}/corpus")
        .schema(CORPUS_SCHEMA)
        .parquet(*dirs)
        # partition-type inference would make a purely numeric id an
        # int column; batch ids are strings everywhere else
        .withColumn("batch", F.col("batch").cast("string"))
    )


def read_corpus_latest(
    spark: SparkSession,
    state_dir: str,
    on_expired: str = "raise",
) -> DataFrame:
    """Merge-on-read upsert view — the newest copy of every url across
    all committed batches (the Iceberg MOR / ``MERGE INTO`` read-side
    analog for the ingest layout, and the view ``supersede_batch``
    materializes copy-on-write). A url re-crawled with CHANGED content
    survives history dedup as a new doc in a later batch; this view
    resolves the race: for each url, only rows from the NEWEST committed
    batch containing it remain (all of that batch's rows for the url —
    same-url distinct-payload docs within one batch are siblings, not
    versions; repo invariant: urls are NOT unique).

    Plan shape (payload never shuffles): supersession is the exception,
    so the LOSER set — rows of a url's non-newest batches — is
    delta-scale (bounded by total re-crawls, not corpus size). It is
    computed on a narrow (doc_id, url, batch) projection (the only
    frame that exchanges), then removed with a broadcast LEFT ANTI join
    on doc_id — document text crosses no Exchange (plan-pinned in
    tests/test_supersede.py). doc_id is a sound anti-join key:
    it hashes (url, content_hash) and content_hash is unique
    corpus-wide (within-batch exact dedup + history_exact).

    Reference parity: docling-jobkit result stores key task results by
    identity and newer runs shadow older entries on read
    (``docling_jobkit/connectors`` result-store get semantics); this is
    that shadowing over the batch-versioned corpus."""
    root = state_dir.rstrip("/")
    committed = committed_dirs(f"{root}/ledger")
    if not committed:
        return empty_frame(spark, CORPUS_SCHEMA + ", batch string")
    latest = max(committed)
    corpus = read_corpus_asof(spark, root, latest, on_expired=on_expired)
    narrow = corpus.select("doc_id", "url", "batch")
    newest = narrow.groupBy("url").agg(F.max("batch").alias("_newest"))
    losers = (
        narrow.join(newest, on="url")
        .where(F.col("batch") < F.col("_newest"))
        .select("doc_id")
    )
    return corpus.join(F.broadcast(losers), on="doc_id", how="left_anti")


@dataclass(frozen=True)
class VacuumStats:
    n_dirs_deleted: int
    bytes_reclaimed: int
    deleted: tuple[str, ...]
    n_kept_recovery: int  # complete rewrite tmps left for heal


def vacuum_ingest_state(
    spark: SparkSession, state_dir: str, min_age_seconds: float = 86400.0
) -> VacuumStats:
    """Orphan cleanup — the Iceberg ``remove_orphan_files`` analog for
    the ingest layout. Deletes exactly two kinds of debris, both
    unreachable by every reader:

    1. per-batch family dirs (``corpus/seen/index/shards/ledger``)
       whose batch has NO ledger commit marker — a torn commit's
       partial writes. History probes already ignore them
       (probe-NEVER-SELF gates on each dir's own ``_SUCCESS``), replay
       rewrites them mode=overwrite; they are pure dead storage.
    2. INCOMPLETE rewrite tmps (``corpus_compact``, ``corpus_takedown``
       or ``shards_takedown`` ``/batch=<id>`` with no ``_SUCCESS``) —
       ``certified_rewrite`` never reads an uncertified tmp (it restarts
       from the source), so these are dead too. A COMPLETE tmp is NEVER
       touched: it is the certified recovery copy a torn apply heals
       from (a tmp that fails its certificate is deleted by its
       writer); deleting it could orphan the only intact copy of a
       damaged source.

    ``min_age_seconds`` (default 24 h) is the same writer-race guard
    Iceberg uses: a dir younger than the cutoff might belong to the
    single in-flight writer and is skipped. Age is the dir's own
    modification time — the last touch of a torn write is the crash
    moment. Deletes are idempotent; a crash mid-vacuum just leaves
    fewer orphans for the rerun."""
    import time

    root = state_dir.rstrip("/")
    committed = set(committed_dirs(f"{root}/ledger"))
    cutoff_ms = (time.time() - float(min_age_seconds)) * 1000.0

    def _old_batch_dirs(family: str, keep: set[str]) -> list[str]:
        return [
            st.getPath().toString()
            for st in list_status(f"{root}/{family}", "batch=")
            if st.isDirectory()
            and st.getPath().getName()[len("batch="):] not in keep
            and st.getModificationTime() < cutoff_ms
        ]

    doomed = [
        d
        for family in _BATCH_FAMILIES
        for d in _old_batch_dirs(family, committed)
    ]
    # every rewrite tmp family: an INCOMPLETE tmp is debris, a COMPLETE
    # one is the certified heal copy
    n_kept_recovery = 0
    for family in _TMP_FAMILIES:
        certified = set(committed_dirs(f"{root}/{family}"))
        n_kept_recovery += len(certified)  # never vacuumed
        doomed += _old_batch_dirs(family, certified)

    return VacuumStats(
        n_dirs_deleted=len(doomed),
        bytes_reclaimed=sum(delete(d) for d in doomed),
        deleted=tuple(sorted(doomed)),
        n_kept_recovery=n_kept_recovery,
    )


def locate_content(
    spark: SparkSession, state_dir: str, hashes: list[str]
) -> tuple[DataFrame, int, int]:
    """Point lookup across every committed batch's corpus files — the
    audit / takedown query ("which files hold these documents?"):
    returns (matching corpus rows + their file path, files_read,
    files_total). With the Bloom manifest present the scan reads ONLY
    the survivor files by explicit path (at 10^6 corpus files a
    takedown probe opens a handful); without it (bloom_cols=() configs,
    or a legacy state dir) it degrades to the full corpus scan — the
    index is an accelerator, never a correctness dependency. Expired
    batches' files are absent from the manifest by the expire ordering,
    so a probe never references deleted payload."""
    if not hashes:
        raise ValueError("hashes must be non-empty")
    root = state_dir.rstrip("/")
    corpus_root = f"{root}/corpus"
    bloom_dir = f"{root}/{_BLOOMIDX}"
    if exists(f"{bloom_dir}/_SUCCESS"):
        idx = read_bloom_index(spark, bloom_dir)
        # a fully-expired corpus has an empty manifest: nothing to find
        files, total = prune_files_bloom(idx, "content_hash", hashes)
    else:
        files = [p for p, _ in _list_parquet_files(spark, corpus_root)]
        total = len(files)
    if not files:
        return empty_frame(spark, CORPUS_SCHEMA + ", file string"), 0, total
    df = (
        spark.read.schema(CORPUS_SCHEMA)
        .parquet(*files)
        .where(F.col("content_hash").isin([str(h) for h in hashes]))
        .withColumn("file", F.input_file_name())
    )
    return df, len(files), total


@dataclass(frozen=True)
class DeleteContentStats:
    n_docs_deleted: int  # corpus rows removed (content_hash is unique)
    n_files_deleted: int  # corpus data files rewritten away
    n_rows_rewritten: int  # survivor rows moved into replacement files
    n_batches_rewritten: int
    n_shard_batches_rewritten: int
    healed: tuple[str, ...]  # batches finished from a prior torn call


_TAKEDOWN_SCHEMA = CORPUS_SCHEMA + ", src_file string"
_SHARD_SCHEMA = "text string, url string, content_hash string"


def _in_batch(batch_id: str) -> Column:
    return F.col("file").contains(f"/batch={batch_id}/")


def _manifests() -> tuple[tuple, ...]:
    """(dir name, read, write, update) of each pruning manifest over
    ``corpus/``. Built per call, so the updaters are looked up by their
    module-level names when a reconcile runs (a wrapper set on this
    module, such as perfbench's span tracer, sees every call)."""
    return (
        (_ZONEMAP, read_zonemap, write_zonemap, update_zonemap),
        (_BLOOMIDX, read_bloom_index, write_bloom_index, update_bloom_index),
    )


def _drop_manifest_rows(spark: SparkSession, root: str, drop: Column) -> None:
    """Both pruning manifests stop referencing the files matching the
    ``drop`` predicate (over their ``file`` column) BEFORE any file is
    deleted — the expire ordering: the reverse leaves a window where a
    pruned scan (which reads survivors by explicit manifest path)
    references deleted payload. Metadata-sized: one ``count_if``
    aggregate per manifest, and a rewrite only where it counts rows."""
    for name, read, write, _ in _manifests():
        path = f"{root}/{name}"
        if exists(f"{path}/_SUCCESS"):
            manifest = read(spark, path)
            if manifest.select(F.count_if(drop)).head()[0]:
                write(manifest.where(~drop).localCheckpoint(eager=True), path)


def _reconcile_manifests(
    spark: SparkSession, root: str, cols: tuple[tuple[str, ...], ...] | None = None
) -> list[int]:
    """The one reconciliation of the pruning manifests with the corpus
    files on disk, after a commit or a layout change: ONE listing of
    ``corpus/``; each manifest is read behind its ``_SUCCESS`` gate (a
    torn overwrite degrades to a rebuild, never a failed read of a
    partial dir), reconciled (stale rows drop, unseen files are
    indexed, O(new files)) and rewritten only if a file was added or
    dropped. ``cols`` holds the columns to index per manifest, in
    ``_manifests()`` order (``ingest_batch``'s config; an empty tuple
    skips that manifest); None reconciles only the manifests that
    exist, over the columns each already indexes (compaction,
    takedown). Returns each manifest's new-file count."""
    corpus_root = f"{root}/corpus"
    listing = _data_files(spark, corpus_root)
    n_new = []
    for i, (name, read, write, update) in enumerate(_manifests()):
        path = f"{root}/{name}"
        want = None if cols is None else cols[i]
        prev = read(spark, path) if exists(f"{path}/_SUCCESS") else None
        disabled = want is not None and not want
        # a layout change keeps what exists; a commit creates what is
        # missing, except a Bloom manifest over an empty corpus (no stamp)
        absent = prev is None and (want is None or (name == _BLOOMIDX and not listing))
        if disabled or absent:
            n_new.append(0)
            continue
        merged, n, n_drop = update(spark, corpus_root, prev, want, listing=listing)
        if prev is None or n + n_drop:
            # the overwrite reads lazily from the dir it replaces
            write(merged.localCheckpoint(eager=True), path)
        n_new.append(n)
    return n_new


def _rewrite_corpus(
    spark: SparkSession, root: str, batch_id: str, stage=None
) -> tuple[int, int]:
    """One certified takedown rewrite of a batch's corpus dir through
    ``corpus_takedown/batch=<id>`` (``delete_content`` docstring has the
    tmp layout and the apply steps). Returns (n_files_deleted,
    n_rows_appended)."""
    batch_dir = f"{root}/corpus/batch={batch_id}"
    tmp = f"{root}/{_TAKEDOWN_TMP}/batch={batch_id}"
    if not exists(batch_dir):
        # the batch's payload was expired wholesale after this tmp was
        # written — a strictly stronger delete already happened; the
        # manifests dropped the batch's rows at expire time
        delete(tmp)
        return 0, 0
    n_del = n_add = 0

    def survivors(path: str) -> DataFrame:
        return (
            spark.read.schema(_TAKEDOWN_SCHEMA)
            .parquet(path)
            .where(F.col("content_hash").isNotNull())
            .select(*_CORPUS_COLS)
        )

    def apply(path: str) -> DataFrame:
        nonlocal n_del, n_add
        affected = sorted(
            r["src_file"]
            for r in spark.read.schema(_TAKEDOWN_SCHEMA)
            .parquet(path).select("src_file").distinct().collect()
        )
        _drop_manifest_rows(spark, root, F.col("file").isin(affected))
        for p in affected:
            if exists(p):
                delete(p)
                n_del += 1
        keep = survivors(path)
        # materialize before the self-append: the anti-join must
        # evaluate against the PRE-append file listing exactly once
        missing = keep.join(
            spark.read.schema(CORPUS_SCHEMA).parquet(batch_dir)
            .select("content_hash"),
            on="content_hash",
            how="left_anti",
        ).localCheckpoint(eager=True)
        n_add = missing.count()
        if n_add:
            missing.select(*_CORPUS_COLS).write.mode("append").parquet(batch_dir)
        _reconcile_manifests(spark, root)
        got = spark.read.schema(CORPUS_SCHEMA).parquet(batch_dir)
        n_dup = got.groupBy("content_hash").count().where(F.col("count") > 1).count()
        if n_dup:
            raise RuntimeError(
                f"takedown left {n_dup} duplicated hashes in batch "
                f"{batch_id!r} (certified tmp kept at {path})"
            )
        return got.join(keep.select("content_hash"), on="content_hash", how="left_semi")

    certified_rewrite(tmp, survivors, "content_hash", apply, stage)
    return n_del, n_add


def _rewrite_shards(
    spark: SparkSession, root: str, batch_id: str, stage=None
) -> None:
    """One certified shard-purge rewrite of a batch's JSONL shards
    through ``shards_takedown/batch=<id>``."""
    sdir = f"{root}/shards/batch={batch_id}"

    def read(path: str) -> DataFrame:
        return spark.read.schema(_SHARD_SCHEMA).json(path)

    def apply(path: str) -> DataFrame:
        write_training_shards(
            read(path), sdir, text_col="text", meta_cols=("url", "content_hash")
        )
        return read(sdir)

    certified_rewrite(
        f"{root}/{_SHARD_TMP}/batch={batch_id}", read, "content_hash", apply, stage
    )


def delete_content(
    spark: SparkSession,
    state_dir: str,
    hashes: list[str],
    purge_shards: bool = True,
) -> DeleteContentStats:
    """Targeted copy-on-write deletion by content hash — the Iceberg
    ``DELETE FROM`` / GDPR-takedown analog for the ingest layout, and
    the op ``locate_content`` is the read half of. Unlike
    ``expire_batch_payload`` (drops whole old batches, history stays
    reconstructible until then), takedown REWRITES HISTORY: the content
    is removed from every committed batch in place, so time-travel reads
    after a takedown see the post-takedown corpus at every version —
    exactly what a legal erasure requires.

    100 TB shape: the Bloom manifest bounds the write set at file
    granularity — ``locate_content`` opens only the survivor files, and
    only the files that actually HOLD target rows are rewritten (a
    10^6-file corpus rewrites a handful; untouched files are never read
    or written). Per affected batch, the rewrite is one
    ``checkpoint.certified_rewrite`` through a self-describing tmp
    (``corpus_takedown/batch=<id>``: every row of the affected files,
    each target row a stub with only ``src_file`` set, so the tmp names
    every affected file) — object-store-safe (no rename), idempotent at
    every step, and healed on entry: any complete tmp left by a torn
    prior call is finished FIRST, using nothing but the tmp itself.
    Applying a tmp is itself idempotent:

        1. drop manifest rows for the affected files (expire ordering)
        2. delete the affected files (skip already-gone)
        3. append the survivors NOT already present — content_hash is
           unique corpus-wide (within-batch exact dedup + history_exact
           guarantee it), so presence is exact membership and a torn
           append can never double a row
        4. reconcile manifests (replacement files get statted); refuse
           a batch dir holding any content_hash twice

    Dedup memory is deliberately KEPT: the deleted content's hash stays
    in the ``seen`` table and its bands stay in the MinHash index, so
    the content can never re-enter the corpus through a later crawl — a
    takedown tombstone (pinned in tests). Shard purge (``purge_shards``)
    rewrites the affected batches' JSONL shards batch-granularly
    (signature certified, the same primitive through
    ``shards_takedown/batch=<id>``); a crash between the corpus apply
    and the shard rewrite is completed by RETRYING the takedown with the
    same hashes (the corpus half no-ops, the shard half still sees the
    targets).

    Reference parity: docling-jobkit's result stores are immutable
    caches with no erasure path (``docling_jobkit/connectors``) — this
    completes the corpus lifecycle the reference leaves to operators.
    Returns stats; raises if any target row survives the apply."""
    if not hashes:
        raise ValueError("hashes must be non-empty")
    targets = sorted({str(h) for h in hashes})
    hit = F.col("content_hash").isin(targets)
    root = state_dir.rstrip("/")
    healed: list[str] = []
    n_files_deleted = 0
    n_rows_rewritten = 0
    batches: set[str] = set()
    n_shards = 0

    # -- heal: finish any certified tmp a torn prior call left ---------
    for bid in sorted(committed_dirs(f"{root}/{_TAKEDOWN_TMP}")):
        nd, nr = _rewrite_corpus(spark, root, bid)
        n_files_deleted += nd
        n_rows_rewritten += nr
        healed.append(bid)
        batches.add(bid)
    for bid in sorted(committed_dirs(f"{root}/{_SHARD_TMP}")):
        _rewrite_shards(spark, root, bid)
        n_shards += 1
        healed.append(bid)

    # -- locate current targets (Bloom-bounded file set) ---------------
    located, _k, _t = locate_content(spark, root, targets)
    # materialize before the deletes below invalidate the file listing
    hits = located.select("content_hash", "file").localCheckpoint(eager=True)
    rows = hits.collect()  # bounded: <= len(targets) rows (hash-unique)
    n_docs = len(rows)
    by_batch: dict[str, set[str]] = {}
    for r in rows:
        m = re.search(r"/batch=([A-Za-z0-9._-]+)/", r["file"])
        if not m:
            raise ValueError(
                f"corpus file outside a batch dir: {r['file']!r} — "
                "refusing to rewrite an unrecognized layout"
            )
        by_batch.setdefault(m.group(1), set()).add(r["file"])

    # -- per affected batch: stage the certified tmp, then apply -------
    for bid in sorted(by_batch):
        src = (
            spark.read.schema(CORPUS_SCHEMA)
            .parquet(*sorted(by_batch[bid]))
            .withColumn("src_file", F.input_file_name())
        )

        def stage_corpus(path: str) -> DataFrame:
            # a deleted row keeps only src_file: every affected file holds
            # a target row, so the tmp names each file it replaces
            src.select(
                *[F.when(~hit, F.col(c)).alias(c) for c in _CORPUS_COLS],
                "src_file",
            ).write.mode("overwrite").parquet(path)
            return src.where(~hit)

        nd, nr = _rewrite_corpus(spark, root, bid, stage_corpus)
        n_files_deleted += nd
        n_rows_rewritten += nr
        batches.add(bid)

    # -- shard purge (batch-granular; shards carry content_hash) -------
    if purge_shards:
        for bid in sorted(by_batch):
            sdir = f"{root}/shards/batch={bid}"
            if not exists(sdir):
                continue
            cur = spark.read.schema(_SHARD_SCHEMA).json(sdir)
            if cur.where(hit).count() == 0:
                continue

            def stage_shards(path: str) -> DataFrame:
                write_training_shards(
                    cur.where(~hit), path, text_col="text",
                    meta_cols=("url", "content_hash"),
                )
                return cur.where(~hit)

            _rewrite_shards(spark, root, bid, stage_shards)
            n_shards += 1

    # -- final certificate: no target row anywhere in the corpus -------
    after, _k2, _t2 = locate_content(spark, root, targets)
    n_left = after.count()
    if n_left:
        raise RuntimeError(
            f"takedown incomplete: {n_left} target rows still present"
        )
    return DeleteContentStats(
        n_docs_deleted=n_docs,
        n_files_deleted=n_files_deleted,
        n_rows_rewritten=n_rows_rewritten,
        n_batches_rewritten=len(batches),
        n_shard_batches_rewritten=n_shards,
        healed=tuple(sorted(set(healed))),
    )


@dataclass(frozen=True)
class SupersedeStats:
    batch_id: str
    n_urls: int  # distinct urls in the superseding batch
    n_superseded: int  # older-batch copies removed (content_hash-unique)
    delete: DeleteContentStats | None  # None when nothing was removed


def supersede_batch(
    spark: SparkSession,
    state_dir: str,
    batch_id: str,
    purge_shards: bool = True,
) -> SupersedeStats:
    """Copy-on-write upsert — materialize ``read_corpus_latest`` for one
    committed batch (the Iceberg ``MERGE INTO``/COW write-side analog):
    every OLDER-batch copy of a url present in ``batch_id`` is removed
    from storage, so plain corpus reads see the newest content without
    the MOR view. Batches newer than ``batch_id`` are never touched
    (their supersessions are theirs to apply); applying the verb to each
    batch in commit order leaves plain reads equal to the MOR view
    (equivalence test-pinned in tests/test_supersede.py).

    The superseded set is delta-scale (bounded by the batch's url
    count), located with the history-dedup posture — the batch's
    distinct urls BROADCAST against the streamed older corpus, history
    never shuffles — then handed to :func:`delete_content`, inheriting
    its whole contract: Bloom-bounded file set (only files holding
    superseded rows are rewritten), certified self-describing tmps,
    manifest-drop-before-file-delete ordering, shard purge, idempotent
    heal of a torn prior call. Consequences inherited deliberately:

    - dedup memory is KEPT: the stale content's hash stays ``seen`` and
      its MinHash bands stay indexed, so a later crawl that re-surfaces
      the OLD content is dropped — that is what supersession means.
    - history is REWRITTEN: time-travel reads before ``batch_id`` see
      the post-supersede corpus (same trade as takedown; use
      ``read_corpus_latest`` when old versions must stay reconstructible).

    A second call finds no targets and no-ops (idempotent). Raises if
    ``batch_id`` is uncommitted, or committed but payload-expired (its
    url set is no longer resolvable)."""
    root = state_dir.rstrip("/")
    committed = committed_dirs(f"{root}/ledger")
    if batch_id not in committed:
        raise ValueError(
            f"batch {batch_id!r} is not committed; cannot supersede with it"
        )
    batch_dir = f"{root}/corpus/batch={batch_id}"
    if not exists(batch_dir):
        raise ValueError(
            f"batch {batch_id!r} payload was expired; its url set is no "
            "longer resolvable, cannot supersede with it"
        )
    if not _has_data_files(batch_dir):
        # an all-dropped batch supersedes nothing
        return SupersedeStats(batch_id, 0, 0, None)
    new_urls = (
        spark.read.schema(CORPUS_SCHEMA)
        .parquet(batch_dir)
        .select("url")
        .distinct()
    )
    older_dirs = [
        f"{root}/corpus/batch={b}"
        for b in sorted(committed)
        if b < batch_id and _has_data_files(f"{root}/corpus/batch={b}")
    ]
    n_urls = new_urls.count()
    if not older_dirs:
        return SupersedeStats(batch_id, n_urls, 0, None)
    old = spark.read.schema(CORPUS_SCHEMA).parquet(*older_dirs)
    hits = old.join(F.broadcast(new_urls), on="url").select("content_hash")
    # bounded: <= the batch's url count x old copies (delta-scale)
    targets = sorted(r["content_hash"] for r in hits.distinct().collect())
    if not targets:
        return SupersedeStats(batch_id, n_urls, 0, None)
    del_stats = delete_content(
        spark, root, targets, purge_shards=purge_shards
    )
    return SupersedeStats(batch_id, n_urls, len(targets), del_stats)


def _read_ledgers(spark: SparkSession, root: str, batch_ids: list[str]) -> DataFrame:
    """Every listed batch's ledger rows in ONE scan under one basePath,
    with the ``batch`` partition column."""
    return (
        spark.read.option("basePath", f"{root}/ledger")
        .schema(LEDGER_SCHEMA + ", batch string")
        .parquet(*[f"{root}/ledger/batch={b}" for b in batch_ids])
    )


def _ledger_endpoints(led: DataFrame) -> DataFrame:
    """(batch, docs_in, docs_kept) per batch of ``_read_ledgers`` rows:
    the first stage's docs_in and the last stage's docs_kept, by struct
    extrema on stage_order."""
    return led.groupBy("batch").agg(
        F.min(F.struct("stage_order", "docs_in"))["docs_in"].alias("docs_in"),
        F.max(F.struct("stage_order", "docs_kept"))["docs_kept"].alias("docs_kept"),
    )


def ingest_drift_report(
    spark: SparkSession,
    state_dir: str,
    n_buckets: int = 16,
    tv_threshold: float = 0.25,
    kept_rate_jump: float = 0.2,
) -> DataFrame:
    """Cross-batch drift monitor — one row per committed batch (id
    order) comparing it with the PREVIOUS committed batch:

        length_tv — total-variation distance between the two batches'
            log2 doc-length histograms (``0.5 * sum |p_i - q_i|``;
            numerators are EXACT integer cross-products over the raw
            counts — decimal(38,0), overflow-raising under ANSI — with
            one final double division, so any engine reproduces it
            bit-for-bit from the same counts)
        stage_tv — TV distance between the two batches' attrition
            vectors from the funnel ledgers (per-stage drop share plus
            the kept share, so the vector sums to 1), same arithmetic
        kept_rate — docs_kept / docs_in from the ledger
        drifted — length_tv > tv_threshold OR |kept_rate − prev
            kept_rate| > kept_rate_jump (first batch: false, no prev)

    This is the gate a rolling crawl reads BEFORE trusting a snapshot:
    a parser regression shifts the length histogram, a spam wave shifts
    where documents die in the funnel, a crawler outage craters
    kept_rate — all three show up here while the bad batch is one
    ``expire_batch_payload`` away from reclaim.

    Scale shape: ONE column-pruned scan of (batch, n_chars) — document
    text never moves — into (batch, bucket)-narrow aggregates (≤
    ``n_buckets`` rows per batch), then all pairing happens on the
    metadata-sized batch dimension. Ledger reads are 10 rows per batch.
    A batch whose payload was expired reports from its ledger alone
    (``length_tv`` null — dedup memory outlives payload, histograms
    don't).

    Reference parity: the reference exposes per-job counters only
    (``docling_jobkit/convert/results.py`` status counts); cross-run
    distribution drift is left to operators — this closes that gap
    relationally."""
    root = state_dir.rstrip("/")
    committed = committed_dirs(f"{root}/ledger")
    batch_ids = sorted(committed)
    out_schema = (
        "batch_id string, prev_batch_id string, docs_in bigint, "
        "docs_kept bigint, kept_rate double, length_tv double, "
        "stage_tv double, drifted boolean"
    )
    if not batch_ids:
        return empty_frame(spark, out_schema)

    # -- ledger vectors: per-stage drop share + kept share -------------
    led = _read_ledgers(spark, root, batch_ids)
    totals = _ledger_endpoints(led)
    # attrition vector components: one per stage, plus "kept" — shares
    # of docs_in, so the vector sums to exactly 1 per batch
    drops = led.select(
        "batch", "stage", F.col("docs_dropped").cast("decimal(38,0)").alias("c")
    ).unionByName(
        totals.select(
            "batch",
            F.lit("__kept__").alias("stage"),
            F.col("docs_kept").cast("decimal(38,0)").alias("c"),
        )
    )

    # -- length histograms (column-pruned; text never read) ------------
    live = [b for b in batch_ids if exists(f"{root}/corpus/batch={b}")]
    if live:
        hist = (
            spark.read.option("basePath", f"{root}/corpus")
            .schema(CORPUS_SCHEMA)
            .parquet(*[f"{root}/corpus/batch={b}" for b in live])
            .select(
                F.col("batch").cast("string").alias("batch"),
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor(F.log2(F.col("n_chars") + F.lit(1))),
                )
                .cast("int")
                .alias("bucket"),
            )
            .groupBy("batch", "bucket")
            .agg(F.count("*").cast("decimal(38,0)").alias("c"))
        )
        htot = hist.groupBy("batch").agg(F.sum("c").alias("t"))
    else:
        hist = htot = None

    # -- adjacent-batch pairing (bounded literal dim) -------------------
    pairs = [
        (b, batch_ids[i - 1] if i else None)
        for i, b in enumerate(batch_ids)
    ]
    pair_dim = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("batch_id"),
                            F.lit(p).cast("string").alias("prev_batch_id"),
                        )
                        for b, p in pairs
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
    )

    def _tv(values: DataFrame, dim_col: str, dim_expr) -> DataFrame:
        """TV distance per (batch_id, prev_batch_id) pair over the
        ``dim_col`` dimension: exact integer numerator, one double
        division. ``dim_expr`` (an array Column, exploded per pair)
        enumerates the full dimension so components present on only one
        side still count. Pairs where either side has no rows at all
        (expired payload, or an all-dropped batch with zero docs) drop
        out — their metric is honestly null, not a comparison against
        an empty histogram (and no ANSI divide-by-zero)."""
        tot = values.groupBy("batch").agg(F.sum("c").alias("t")).where(
            F.col("t") > 0
        )
        grid = pair_dim.where(F.col("prev_batch_id").isNotNull()).select(
            "batch_id",
            "prev_batch_id",
            F.explode(dim_expr).alias(dim_col),
        )
        cur = values.withColumnsRenamed({"batch": "batch_id"})
        prv = values.withColumnsRenamed(
            {"batch": "prev_batch_id", "c": "c_prev"}
        )
        zero = F.lit(0).cast("decimal(38,0)")
        j = (
            grid.join(cur, on=["batch_id", dim_col], how="left")
            .join(prv, on=["prev_batch_id", dim_col], how="left")
            .join(tot.withColumnsRenamed({"batch": "batch_id"}), "batch_id")
            .join(
                tot.withColumnsRenamed(
                    {"batch": "prev_batch_id", "t": "t_prev"}
                ),
                "prev_batch_id",
            )
            .select(
                "batch_id",
                F.abs(
                    F.coalesce(F.col("c"), zero) * F.col("t_prev")
                    - F.coalesce(F.col("c_prev"), zero) * F.col("t")
                ).alias("num"),
                (F.col("t") * F.col("t_prev")).alias("den"),
            )
        )
        return j.groupBy("batch_id").agg(
            (
                F.sum("num").cast("double")
                / (F.lit(2.0) * F.max("den").cast("double"))
            ).alias("tv")
        )

    stage_tv = _tv(
        drops,
        "stage",
        F.array(*[F.lit(s) for s in (*INGEST_STAGES, "__kept__")]),
    ).withColumnsRenamed({"tv": "stage_tv"})
    if hist is not None:
        length_tv = _tv(
            hist,
            "bucket",
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        ).withColumnsRenamed({"tv": "length_tv"})
    else:
        length_tv = empty_frame(spark, "batch_id string, length_tv double")

    rep = (
        pair_dim.join(
            totals.withColumnsRenamed({"batch": "batch_id"}), "batch_id"
        )
        .withColumn(
            "kept_rate",
            F.when(
                F.col("docs_in") > 0,
                F.col("docs_kept").cast("double")
                / F.col("docs_in").cast("double"),
            ),
        )
        .join(length_tv, "batch_id", "left")
        .join(stage_tv, "batch_id", "left")
    )
    prev_rate = rep.select(
        F.col("batch_id").alias("prev_batch_id"),
        F.col("kept_rate").alias("_prev_rate"),
    )
    rep = rep.join(prev_rate, "prev_batch_id", "left").withColumn(
        "drifted",
        F.coalesce(
            (F.col("length_tv") > F.lit(float(tv_threshold)))
            | (
                F.abs(F.col("kept_rate") - F.col("_prev_rate"))
                > F.lit(float(kept_rate_jump))
            ),
            F.lit(False),
        ),
    )
    return rep.select(
        "batch_id",
        "prev_batch_id",
        "docs_in",
        "docs_kept",
        "kept_rate",
        "length_tv",
        "stage_tv",
        "drifted",
    ).orderBy("batch_id")


def ingest_state_report(spark: SparkSession, state_dir: str) -> DataFrame:
    """One row per COMMITTED batch — the Iceberg ``snapshots``/``files``
    analog for the ingest layout, feeding retention and compaction
    decisions: (batch_id, docs_in, docs_kept, n_files, bytes,
    mean_file_bytes, fragmented, payload_expired). Metadata-only:
    driver-side listings (the cost every commit already pays) plus each
    batch's 10-row ledger; corpus data files are never opened.
    ``fragmented`` flags batches whose mean data file is under 8 MB —
    the ``compact_ingest_batch`` work list. ``payload_expired`` marks
    batches whose corpus dir was reclaimed by ``expire_batch_payload``
    (dir ABSENT — distinct from an all-dropped batch's marker-only
    empty dir, which reports 0 files but is not expired)."""
    root = state_dir.rstrip("/")
    batches = committed_dirs(f"{root}/ledger")
    # ONE Spark job for every batch's ledger endpoints: all committed
    # ledger dirs under one basePath (the ``ingest_drift_report`` /
    # history-probe pattern), min/max stage rows per batch via struct
    # extrema. The former per-batch read+collect loop ran one driver
    # round trip + job per committed batch — O(n_batches) sequential
    # tiny jobs at a year of daily snapshots; this is O(1) jobs at any
    # batch count. File listings stay driver-side (metadata-only, the
    # cost every commit already pays; corpus data files are never
    # opened).
    led_stats: dict[str, tuple[int, int]] = {}
    if batches:
        endpoints = _ledger_endpoints(_read_ledgers(spark, root, sorted(batches)))
        led_stats = {
            r["batch"]: (int(r["docs_in"]), int(r["docs_kept"]))
            for r in endpoints.collect()
        }
    rows = []
    for bid in sorted(batches):
        corpus_dir = f"{root}/corpus/batch={bid}"
        expired = not exists(corpus_dir)
        files = [] if expired else _list_parquet_files(spark, corpus_dir)
        n_bytes = sum(b for _, b in files)
        docs_in, docs_kept = led_stats[bid]
        rows.append(
            (
                bid,
                docs_in,
                docs_kept,
                len(files),
                n_bytes,
                int(n_bytes / len(files)) if files else 0,
                expired,
            )
        )
    # bounded dim via range(1)+explode — repo invariant: NEVER
    # createDataFrame(list) (the Python-RDD path forks a worker per
    # default-parallelism partition even for two rows)
    cols = (
        "batch_id",
        "docs_in",
        "docs_kept",
        "n_files",
        "bytes",
        "mean_file_bytes",
        "payload_expired",
    )
    if not rows:
        rep = spark.range(0).select(
            F.lit("").alias("batch_id"),
            *[F.lit(0).cast("long").alias(c) for c in cols[1:-1]],
            F.lit(False).alias("payload_expired"),
        )
    else:
        rep = spark.range(1).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            *[F.lit(v).alias(c) for c, v in zip(cols, row)]
                        )
                        for row in rows
                    ]
                )
            ).alias("r")
        ).select("r.*")
    return rep.withColumn(
        "fragmented",
        (F.col("n_files") > 1) & (F.col("mean_file_bytes") < F.lit(8 * 1024 * 1024)),
    ).orderBy("batch_id")
