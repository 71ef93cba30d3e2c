"""Incremental ingest loop (plans/ingest.py): batch-versioned state,
history dedup (exact + fuzzy) that never recomputes committed batches,
replay idempotence (committed no-op AND torn-commit recovery), ledger
arithmetic over the extended stage dimension, and the zone-map
manifest's incremental reconciliation across batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import delete, exists
from docling_jobkit_spark.plans.curation import CurationConfig
from docling_jobkit_spark.plans.ingest import (
    INGEST_STAGES,
    IngestConfig,
    ingest_batch,
)

CFG = IngestConfig(curation=CurationConfig(), tau=0.8)
# Job and compile ceilings, measured on local[8] with the sf0.001 docs:
# a history batch ran 51 jobs (65 before the Bloom/ledger/zone-map
# bookkeeping was cut); a second same-shape batch compiled 0 classes (142
# with Spark's default 100-entry codegen cache); dropping nothing from
# both manifests ran 4 jobs (10 with two counts per manifest), dropping
# a batch 8 (14).
INGEST_JOB_BUDGET = 53
SECOND_BATCH_COMPILES = 20
DROP_ROWS_NOOP_JOBS = 4
DROP_ROWS_JOBS = 8
# Compacting a 4-file batch and reconciling both manifests ran 28 jobs
# (32 with a distinct-column collect per manifest), and 22 once
# compact_files stopped counting the rows it wrote (3 jobs per call).
COMPACT_JOBS = 22


def _batch_a(spark, sf_dir):
    import __spark_entry__ as e

    base = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "lang", "text")
        .withColumn("url", e._synth_url())
        .select("doc_id", "url", "text")
    )
    return base.where(F.col("doc_id") % 3 != 0), base.where(F.col("doc_id") % 3 == 0)


def _make_batch_b(fresh_b, kept_a):
    """Fresh docs PLUS planted history dups derived from batch A's
    COMMITTED survivors (so every planted row genuinely exists in
    history): exact re-posts (new url, committed text verbatim →
    history_exact) and lightly edited re-posts (one appended sentence
    on LONG docs → estimated Jaccard stays >= tau → history_fuzzy)."""
    committed = kept_a.select("doc_id", "text")
    exact_reposts = committed.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 700_000).alias("doc_id"),
        F.concat(F.lit("https://mirror.example.org/x/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.col("text"),
    )
    near_reposts = (
        committed.where((F.col("doc_id") % 2 == 1) & (F.length("text") > 2000))
        .select(
            (F.col("doc_id") + 800_000).alias("doc_id"),
            F.concat(F.lit("https://cache.example.org/y/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.concat(F.col("text"), F.lit(" Archived copy notice.")).alias("text"),
        )
    )
    return fresh_b.unionByName(exact_reposts).unionByName(near_reposts)


@pytest.fixture(scope="module")
def state(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ingest_state"))
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=CFG)
    b = _make_batch_b(fresh_b, res_a.kept)
    res_b = ingest_batch(spark, b, root, "2026-02", config=CFG)
    return root, a, b, res_a, res_b


def _stage_counts(ledger) -> dict[str, int]:
    return {r["stage"]: r["docs_dropped"] for r in ledger.collect()}


def test_ledger_arithmetic_and_stage_dimension(state):
    _, a, _, res_a, res_b = state
    for res, docs in ((res_a, a),):
        rows = res.ledger.orderBy("stage_order").collect()
        assert [r["stage"] for r in rows] == list(INGEST_STAGES)
        assert rows[0]["docs_in"] == docs.count()
        for prev, cur in zip(rows, rows[1:]):
            assert prev["docs_in"] - prev["docs_dropped"] == prev["docs_kept"]
            assert cur["docs_in"] == prev["docs_kept"]
        assert rows[-1]["docs_kept"] == res.kept.count()


def test_first_batch_has_no_history_drops(state):
    _, _, _, res_a, _ = state
    counts = _stage_counts(res_a.ledger)
    assert counts["history_exact"] == 0
    assert counts["history_fuzzy"] == 0
    assert res_a.kept.count() > 0
    assert not res_a.replayed


def test_history_dedup_drops_planted_reposts(spark, state):
    root, _, _, res_a, res_b = state
    counts = _stage_counts(res_b.ledger)
    # Planted exact re-posts whose ORIGINAL survived batch A's funnel
    # must fall at history_exact (unless an earlier within-batch stage
    # caught them first — assert at the drop-set level instead).
    a_hashes = {r["content_hash"] for r in res_a.kept.collect()}
    stamped_hits = counts["history_exact"]
    assert stamped_hits > 0, "no exact history drops despite planted re-posts"
    assert counts["history_fuzzy"] > 0, "no fuzzy history drops despite edits"
    # nothing committed in B may duplicate A's committed content
    b_hashes = {r["content_hash"] for r in res_b.kept.collect()}
    assert not (a_hashes & b_hashes)


def test_committed_replay_is_noop(spark, state):
    root, _, b, res_a, res_b = state
    res = ingest_batch(spark, b, root, "2026-02", config=CFG)
    assert res.replayed
    assert res.n_new_zonemap_files == 0
    assert _stage_counts(res.ledger) == _stage_counts(res_b.ledger)
    assert res.kept.count() == res_b.kept.count()


def test_committed_replay_is_noop_file_uri(spark, sf_dir, tmp_path):
    """The committed-replay no-op with the state dir given as a
    ``file://`` URI: commit marker, replay guard and read-back all go
    through the same Hadoop-FS primitives as a plain path."""
    a, _ = _batch_a(spark, sf_dir)
    root = (tmp_path / "state").as_uri()
    first = ingest_batch(spark, a, root, "2026-01", config=CFG)
    res = ingest_batch(spark, a, root, "2026-01", config=CFG)
    assert not first.replayed and res.replayed
    assert res.n_new_zonemap_files == 0
    assert _stage_counts(res.ledger) == _stage_counts(first.ledger)
    assert res.kept.count() == first.kept.count() > 0
    assert (tmp_path / "state" / "ledger" / "batch=2026-01" / "_SUCCESS").is_file()


def test_torn_commit_replays_exactly(spark, sf_dir, tmp_path):
    """Crash AFTER the index/seen deltas were written but BEFORE the
    ledger marker: the replay must not see its own partial appends
    (self-probe would drop every doc as its own duplicate)."""
    import shutil

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "b1", config=CFG)
    b = _make_batch_b(fresh_b, res_a.kept)
    res_b = ingest_batch(spark, b, root, "b2", config=CFG)
    want = _stage_counts(res_b.ledger)
    want_kept = res_b.kept.count()

    # simulate the torn commit: ledger marker gone, deltas still there
    shutil.rmtree(f"{root}/ledger/batch=b2")
    res_retry = ingest_batch(spark, b, root, "b2", config=CFG)
    assert not res_retry.replayed
    assert _stage_counts(res_retry.ledger) == want
    assert res_retry.kept.count() == want_kept


def test_zonemap_manifest_tracks_corpus_incrementally(spark, state):
    root, _, _, res_a, res_b = state
    from docling_jobkit_spark.operators.zonemap import (
        _canon,
        read_zonemap,
        update_zonemap,
    )
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    zm = read_zonemap(spark, f"{root}/zonemap")
    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    in_manifest = {r["file"] for r in zm.select("file").distinct().collect()}
    assert in_manifest == on_disk
    # batch B's commit read footers ONLY for its own new files
    assert 0 < res_b.n_new_zonemap_files < len(on_disk)
    # steady state: reconciling again reads zero footers
    _, n_new, n_drop = update_zonemap(spark, f"{root}/corpus", zm, ["n_chars"])
    assert n_new == 0 and n_drop == 0


def test_shards_roundtrip_matches_committed_corpus(spark, state):
    root, _, _, res_a, _ = state
    shards = spark.read.json(f"{root}/shards/batch=2026-01")
    assert shards.count() == res_a.kept.count()
    assert set(shards.columns) == {"text", "url", "content_hash"}
    got = {r["content_hash"] for r in shards.select("content_hash").collect()}
    want = {r["content_hash"] for r in res_a.kept.select("content_hash").collect()}
    assert got == want


def test_bad_batch_id_raises(spark, sf_dir, tmp_path):
    a, _ = _batch_a(spark, sf_dir)
    with pytest.raises(ValueError, match="batch_id"):
        ingest_batch(spark, a, str(tmp_path), "b/../evil", config=CFG)


def test_docs_from_extraction_shape(spark, pages_path):
    from docling_jobkit_spark.operators.extract_op import extract_documents
    from docling_jobkit_spark.plans.ingest import docs_from_extraction

    pages = spark.read.parquet(pages_path).limit(50)
    docs = docs_from_extraction(extract_documents(pages))
    rows = docs.collect()
    assert rows and set(docs.columns) == {"doc_id", "url", "text"}
    assert all(r["doc_id"] is not None for r in rows)
    # deterministic under re-evaluation
    again = {r["doc_id"] for r in docs.collect()}
    assert {r["doc_id"] for r in rows} == again


def test_seen_probe_broadcasts_delta_never_shuffles_history(spark, state):
    """The steady-state history-exact plan: the committed seen table
    streams map-side against the broadcast delta — no SortMergeJoin,
    no exchange of the history side (the minhash_index probe
    discipline applied to the hash table)."""
    from docling_jobkit_spark.plans.ingest import SEEN_SCHEMA, history_exact_hits

    root, _, _, _, _ = state
    hist = (
        spark.read.option("basePath", f"{root}/seen")
        .schema(SEEN_SCHEMA)
        .parquet(f"{root}/seen/batch=2026-01")
    )
    delta = spark.range(100).select(
        F.col("id").alias("doc_id"), F.sha2(F.col("id").cast("string"), 256).alias("content_hash")
    )
    hits = history_exact_hits(hist, delta)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    tail = plan[plan.index("BroadcastHashJoin"):]
    for line in tail.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, line


def test_stream_ingest_matches_sequential_batch(spark, sf_dir, tmp_path):
    """Streaming ingest (foreachBatch over the same ingest_batch) must
    leave the state directory in the same logical state as sequential
    batch-mode ingestion of the same snapshots in the same order:
    identical per-batch ledgers and identical committed content-hash
    sets. Micro-batch order is forced deterministic with one file per
    trigger and strictly increasing mtimes. A re-drain from a fresh
    checkpoint replays every micro-batch and must be a no-op (the
    ledger commit markers make at-least-once exactly-once)."""
    import os
    import time

    from docling_jobkit_spark.streaming import stream_ingest

    a, fresh_b = _batch_a(spark, sf_dir)
    res_tmp = ingest_batch(spark, a, str(tmp_path / "throwaway"), "t", config=CFG)
    b = _make_batch_b(fresh_b, res_tmp.kept)

    indir = tmp_path / "arrivals"
    indir.mkdir()
    a.coalesce(1).write.parquet(str(indir / "w1"))
    time.sleep(1.1)  # FileStreamSource orders by mtime: w1 strictly first
    b.coalesce(1).write.parquet(str(indir / "w2"))
    t1 = time.time()
    for sub, ts in (("w1", t1 - 10), ("w2", t1)):
        for f in (indir / sub).iterdir():
            os.utime(f, (ts, ts))

    s_state = str(tmp_path / "s_state")
    q = stream_ingest(
        spark,
        f"{indir}/*",
        s_state,
        str(tmp_path / "ck"),
        config=CFG,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    b_state = str(tmp_path / "b_state")
    res_a = ingest_batch(spark, a, b_state, "mb-000000000", config=CFG)
    res_b = ingest_batch(spark, b, b_state, "mb-000000001", config=CFG)

    for mb, res in (("mb-000000000", res_a), ("mb-000000001", res_b)):
        s_ledger = spark.read.parquet(f"{s_state}/ledger/batch={mb}")
        assert {tuple(r) for r in s_ledger.collect()} == {
            tuple(r) for r in res.ledger.collect()
        }, mb
        s_kept = spark.read.parquet(f"{s_state}/corpus/batch={mb}")
        assert {r["content_hash"] for r in s_kept.collect()} == {
            r["content_hash"] for r in res.kept.collect()
        }, mb

    # re-drain with a FRESH checkpoint: every micro-batch replays and
    # hits its commit marker — the state must not change
    before = {
        p: os.path.getmtime(f"{s_state}/ledger/{p}/_SUCCESS")
        for p in os.listdir(f"{s_state}/ledger")
    }
    q2 = stream_ingest(
        spark,
        f"{indir}/*",
        s_state,
        str(tmp_path / "ck2"),
        config=CFG,
        max_files_per_trigger=1,
    )
    q2.awaitTermination(300)
    after = {
        p: os.path.getmtime(f"{s_state}/ledger/{p}/_SUCCESS")
        for p in os.listdir(f"{s_state}/ledger")
    }
    assert before == after


def test_reused_probe_bands_equal_fresh_signing(spark, state):
    """Batch B's index delta is written from the probe's banded rows
    (signed once, semi-joined to the committed ids) — it must be
    BIT-EQUAL to signing the committed corpus from scratch, stamp
    included (foreign stamps would make every future probe silently
    miss)."""
    from docling_jobkit_spark.operators.minhash_index import (
        FAMILY_META_KEY,
        banded_signatures,
        minhash_family_digest,
        read_minhash_index,
    )

    root, _, _, _, res_b = state
    written = read_minhash_index(
        spark, f"{root}/index/batch=2026-02"
    ).select("band", "bucket", "id", "sig")
    fresh = banded_signatures(res_b.kept.select("doc_id", "text"))
    w = {(r["band"], r["bucket"], r["id"], tuple(r["sig"])) for r in written.collect()}
    f = {(r["band"], r["bucket"], r["id"], tuple(r["sig"])) for r in fresh.collect()}
    assert w == f and len(w) > 0
    meta = {
        fld.name: (fld.metadata or {}).get(FAMILY_META_KEY)
        for fld in written.schema.fields
    }
    assert meta["bucket"] == meta["sig"] == minhash_family_digest()


def _fragment(spark, src, n=8):
    """Rewrite a committed batch dir into n files (simulates the
    accretion compaction exists to fix; AQE coalesces the small test
    funnel to one file otherwise)."""
    df = spark.read.parquet(src).localCheckpoint(eager=True)
    df.repartition(n).write.mode("overwrite").parquet(src)


def test_compact_ingest_batch_preserves_content_and_manifest(spark, sf_dir, tmp_path):
    import os

    from docling_jobkit_spark.operators.zonemap import _canon, read_zonemap
    from docling_jobkit_spark.plans.ingest import (
        CompactBatchStats,
        compact_ingest_batch,
    )
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    res = ingest_batch(spark, a, root, "c1", config=CFG)
    want = {
        (r["doc_id"], r["content_hash"]) for r in res.kept.collect()
    }
    src = f"{root}/corpus/batch=c1"
    _fragment(spark, src)
    n_before = len(_list_parquet_files(spark, src))
    assert n_before > 1, "fixture failed to fragment the batch dir"

    stats = compact_ingest_batch(spark, root, "c1")
    assert isinstance(stats, CompactBatchStats)
    assert stats.n_files_before == n_before
    assert stats.n_files_after < n_before and not stats.healed
    got = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(src).collect()
    }
    assert got == want
    # manifest reconciled to the rewritten files, tmp gone
    zm = read_zonemap(spark, f"{root}/zonemap")
    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    assert {r["file"] for r in zm.select("file").distinct().collect()} == on_disk
    assert not os.path.exists(f"{root}/corpus_compact/batch=c1")

    # idempotent: second call is a clean skip (already one file) or a
    # no-op rewrite with the same signature — never an error
    stats2 = compact_ingest_batch(spark, root, "c1")
    got2 = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(src).collect()
    }
    assert got2 == want


def test_compact_ingest_batch_keeps_every_zonemap_column(spark, sf_dir, tmp_path):
    """Compaction reconciles the zone map on the columns the manifest
    indexes: with ``zonemap_cols=("n_chars", "doc_id")`` every
    replacement corpus file gets ``doc_id`` stats too, not only
    ``n_chars``."""
    from docling_jobkit_spark.operators.zonemap import _canon, read_zonemap
    from docling_jobkit_spark.plans.ingest import compact_ingest_batch
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    cfg = IngestConfig(
        curation=CurationConfig(), tau=0.8, zonemap_cols=("n_chars", "doc_id")
    )
    ingest_batch(spark, a, root, "c1", config=cfg)
    _fragment(spark, f"{root}/corpus/batch=c1")
    stats = compact_ingest_batch(spark, root, "c1")
    assert stats.n_files_after < stats.n_files_before

    zm = read_zonemap(spark, f"{root}/zonemap")
    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    for col in ("n_chars", "doc_id"):
        files = {r["file"] for r in zm.where(F.col("col") == col).collect()}
        assert on_disk and files == on_disk, col


def test_compact_ingest_batch_heals_torn_copy_back(spark, sf_dir, tmp_path):
    """Crash inside the copy-back's delete-then-write window: src is
    gone but the certified tmp survives — the next call must restore
    src from tmp bit-for-bit and report healed."""
    import shutil

    from docling_jobkit_spark.plans.ingest import compact_ingest_batch
    from docling_jobkit_spark.sinks.maintenance import compact_files

    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    res = ingest_batch(spark, a, root, "c1", config=CFG)
    want = {(r["doc_id"], r["content_hash"]) for r in res.kept.collect()}
    src = f"{root}/corpus/batch=c1"
    tmp = f"{root}/corpus_compact/batch=c1"
    _fragment(spark, src)

    compact_files(spark, src, tmp)  # step 1 done, tmp certified
    shutil.rmtree(src)  # torn step 3: src destroyed mid-overwrite

    stats = compact_ingest_batch(spark, root, "c1")
    assert stats.healed
    got = {
        (r["doc_id"], r["content_hash"])
        for r in spark.read.parquet(src).collect()
    }
    assert got == want


def test_compact_ingest_batch_refuses_uncommitted(spark, sf_dir, tmp_path):
    from docling_jobkit_spark.plans.ingest import compact_ingest_batch

    with pytest.raises(ValueError, match="not committed"):
        compact_ingest_batch(spark, str(tmp_path / "nostate"), "nope")


def test_failed_tmp_certificate_is_never_healed(spark, sf_dir, tmp_path, monkeypatch):
    """A compaction tmp that lost a data file fails its certificate and
    is deleted before the raise: the plain retry compacts from the
    intact source instead of applying the short tmp as a heal copy."""
    import docling_jobkit_spark.sinks.maintenance as maintenance
    from docling_jobkit_spark.plans.ingest import CORPUS_SCHEMA, compact_ingest_batch
    from docling_jobkit_spark.checkpoint import (
        _list_parquet_files,
        content_signature,
    )

    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    ingest_batch(spark, a, root, "c1", config=CFG)
    src = f"{root}/corpus/batch=c1"
    _fragment(spark, src)
    # several output files, so the lost one is a part of the batch
    target = max(1, sum(b for _, b in _list_parquet_files(spark, src)) // 4)

    def corpus_sig():
        return content_signature(
            spark.read.schema(CORPUS_SCHEMA).parquet(src), key_col="content_hash"
        )

    want = corpus_sig()
    real = maintenance.compact_files

    def lossy(spark_, src_path, dst_path, *args, **kwargs):
        stats = real(spark_, src_path, dst_path, *args, **kwargs)
        if "/corpus_compact/" in dst_path:
            files = _list_parquet_files(spark_, dst_path)
            delete(max(files, key=lambda f: f[1])[0])
        return stats

    monkeypatch.setattr(maintenance, "compact_files", lossy)
    with pytest.raises(RuntimeError, match="source untouched"):
        compact_ingest_batch(spark, root, "c1", target_file_bytes=target)
    monkeypatch.setattr(maintenance, "compact_files", real)
    compact_ingest_batch(spark, root, "c1", target_file_bytes=target)
    assert corpus_sig() == want


def test_ingest_state_report(spark, state):
    from docling_jobkit_spark.plans.ingest import ingest_state_report
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    root, a, _, res_a, res_b = state
    rep = {r["batch_id"]: r for r in ingest_state_report(spark, root).collect()}
    assert set(rep) == {"2026-01", "2026-02"}
    r1 = rep["2026-01"]
    assert r1["docs_in"] == a.count()
    assert r1["docs_kept"] == res_a.kept.count()
    files = _list_parquet_files(spark, f"{root}/corpus/batch=2026-01")
    assert r1["n_files"] == len(files)
    assert r1["bytes"] == sum(b for _, b in files)
    # empty state dir: empty, correctly-typed report
    empty = ingest_state_report(spark, f"{root}/does_not_exist")
    assert empty.count() == 0 and "fragmented" in empty.columns


def test_ingest_state_report_runs_O1_jobs(spark, state, count_jobs):
    """The report must read every batch's ledger in ONE multi-dir scan
    (basePath + groupBy endpoints), not one read+collect job per batch:
    at a year of daily snapshots the per-batch spelling is hundreds of
    sequential driver round trips. Pinned: total Spark jobs for the
    report is a small constant (ledger-endpoints collect + final
    collect), NOT a function of batch count."""
    from docling_jobkit_spark.plans.ingest import ingest_state_report

    root, *_ = state
    rep, n_jobs = count_jobs(lambda: ingest_state_report(spark, root).collect())
    assert len(rep) == 2
    # Constant budget: the endpoints groupBy-collect and the final
    # report collect, each split into per-exchange jobs by AQE stage
    # materialization (~2-3 jobs per query). The per-batch spelling
    # adds one read+collect job PER BATCH on top (2 batches -> >= 7,
    # 365 batches -> hundreds); the single-scan form stays at <= 5
    # regardless of batch count.
    assert n_jobs <= 5, f"state report ran {n_jobs} jobs"


@pytest.fixture(scope="module")
def history_root(spark, sf_dir, tmp_path_factory):
    """A state dir with one committed batch, and the next batch (fresh
    docs plus planted re-posts of the committed ones) not yet ingested."""
    root = str(tmp_path_factory.mktemp("ingest_budget"))
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=CFG)
    return root, _make_batch_b(fresh_b, res_a.kept).localCheckpoint(eager=True)


def test_ingest_batch_job_budget(spark, history_root, count_jobs):
    """A batch with history pays a bounded number of sequential jobs:
    the funnel, both history probes, five commit writes, the two
    manifest reconciliations and the ledger. The bookkeeping used to
    cost more than the rows: geometry, emptiness and known-file
    collects per Bloom update, schema-inference reads of every
    manifest, an eager count for the ledger (twice: once for the
    funnel's own, unread ledger) and an unpartitioned ledger window."""
    root, b = history_root
    res, n_jobs = count_jobs(ingest_batch, spark, b, root, "2026-02", config=CFG)
    assert not res.replayed
    assert _stage_counts(res.ledger)["history_exact"] > 0
    assert n_jobs <= INGEST_JOB_BUDGET, f"ingest_batch ran {n_jobs} jobs"


def test_locate_content_job_budget(spark, state, count_jobs):
    """A point lookup is planned from the Bloom manifest in a constant
    number of jobs — its summary and the excluded-file collect — and the
    survivor read takes the known corpus schema; the caller's collect
    is the only job that opens corpus files."""
    from docling_jobkit_spark.plans.ingest import locate_content

    root, *_, res_b = state
    want = sorted(r["content_hash"] for r in res_b.kept.limit(8).collect())
    (df, kept, total), n_jobs = count_jobs(locate_content, spark, root, want)
    assert n_jobs <= 5, f"locate_content ran {n_jobs} jobs before the collect"
    assert sorted(r["content_hash"] for r in df.collect()) == want
    assert 0 < kept <= total


def test_ingest_batch_compiles_each_plan_shape_once(spark, sf_dir, tmp_path):
    """The session's codegen cache holds a whole ingest step: a second
    batch of the same plan shape reuses the generated classes of the
    first instead of re-running Janino on ~all of them (with Spark's
    default 100-entry cache every batch recompiled them)."""
    a, _ = _batch_a(spark, sf_dir)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    ingest_batch(spark, a, str(tmp_path / "first"), "2026-01", config=CFG)
    before = compiles.METRIC_COMPILATION_TIME().getCount()
    ingest_batch(spark, a, str(tmp_path / "second"), "2026-01", config=CFG)
    n_compiles = compiles.METRIC_COMPILATION_TIME().getCount() - before
    assert n_compiles <= SECOND_BATCH_COMPILES, f"{n_compiles} classes compiled"


def test_drop_manifest_rows_counts_each_manifest_once(spark, tmp_path, count_jobs):
    """Expire, rollback and takedown drop manifest rows through one
    ``count_if`` aggregate per manifest (not a count of the manifest and
    another of what it keeps), and rewrite only a manifest that holds
    matching rows."""
    from docling_jobkit_spark.operators.bloom_index import (
        build_bloom_index,
        read_bloom_index,
        write_bloom_index,
    )
    from docling_jobkit_spark.operators.zonemap import (
        build_zonemap,
        read_zonemap,
        write_zonemap,
    )
    from docling_jobkit_spark.plans.ingest import _drop_manifest_rows, _in_batch

    root = str(tmp_path / "state")
    for bid in ("x", "y"):
        spark.range(20).select(
            F.col("id").alias("n_chars"), F.col("id").cast("string").alias("content_hash")
        ).coalesce(1).write.parquet(f"{root}/corpus/batch={bid}")
    write_zonemap(build_zonemap(spark, f"{root}/corpus", ["n_chars"]), f"{root}/zonemap")
    write_bloom_index(
        build_bloom_index(spark, f"{root}/corpus", ["content_hash"]), f"{root}/bloomidx"
    )

    _, n_noop = count_jobs(_drop_manifest_rows, spark, root, _in_batch("z"))
    assert n_noop <= DROP_ROWS_NOOP_JOBS, f"{n_noop} jobs to drop nothing"
    _, n_drop = count_jobs(_drop_manifest_rows, spark, root, _in_batch("x"))
    assert n_drop <= DROP_ROWS_JOBS, f"{n_drop} jobs to drop one batch"
    for manifest in (read_zonemap(spark, f"{root}/zonemap"),
                     read_bloom_index(spark, f"{root}/bloomidx")):
        files = {r["file"] for r in manifest.select("file").distinct().collect()}
        assert files and all("/batch=y/" in f for f in files)


def test_empty_results_are_range_plans(spark, tmp_path):
    """Empty results are built on ``range(0)``, never on a Python RDD
    (``createDataFrame([])`` forks a worker per partition for zero
    rows): ``locate_content`` over an expired manifest and over an empty
    corpus without one, a Bloom update and a zone map over no files."""
    from docling_jobkit_spark.operators.bloom_index import (
        build_bloom_index,
        update_bloom_index,
        write_bloom_index,
    )
    from docling_jobkit_spark.operators.zonemap import build_zonemap
    from docling_jobkit_spark.plans.ingest import locate_content

    table = str(tmp_path / "table")
    spark.range(5).select(F.col("id").cast("string").alias("k")).write.parquet(table)
    expired = str(tmp_path / "expired")  # every batch's rows dropped
    write_bloom_index(
        build_bloom_index(spark, table, ["k"]).where(F.lit(False)), f"{expired}/bloomidx"
    )
    bare = tmp_path / "bare"  # no Bloom manifest, empty corpus
    (bare / "corpus").mkdir(parents=True)
    no_files = tmp_path / "no_files"
    no_files.mkdir()

    frames = [
        locate_content(spark, expired, ["0"])[0],
        locate_content(spark, str(bare), ["0"])[0],
        update_bloom_index(spark, str(no_files), None, ["k"])[0],
        build_zonemap(spark, str(no_files), ["k"]),
    ]
    for df in frames:
        assert df.count() == 0
        assert "LogicalRDD" not in df._jdf.queryExecution().analyzed().toString()


def test_expire_batch_payload(spark, sf_dir, tmp_path):
    """Storage reclaim must never forget: after expiring batch A's
    payload, history dedup for batch B is unchanged (seen/index deltas
    survive), replays of A no-op with empty kept, the zone map never
    references deleted files, and the state report flags the batch."""
    from docling_jobkit_spark.operators.zonemap import read_zonemap
    from docling_jobkit_spark.plans.ingest import (
        expire_batch_payload,
        ingest_state_report,
    )

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=CFG)
    # materialize B BEFORE expiry: its lineage reads A's corpus files
    b = _make_batch_b(fresh_b, res_a.kept).localCheckpoint(eager=True)

    stats = expire_batch_payload(spark, root, "2026-01")
    assert stats.n_files_deleted >= 1
    assert stats.bytes_reclaimed > 0
    assert not stats.already_expired
    assert not exists(f"{root}/corpus/batch=2026-01")
    assert not exists(f"{root}/shards/batch=2026-01")
    # dedup memory + commit marker survive
    for family in ("ledger", "seen", "index"):
        assert exists(f"{root}/{family}/batch=2026-01/_SUCCESS")

    # history dedup vs the EXPIRED batch still works bit-for-bit
    res_b = ingest_batch(spark, b, root, "2026-02", config=CFG)
    counts = _stage_counts(res_b.ledger)
    assert counts["history_exact"] > 0
    assert counts["history_fuzzy"] > 0

    # the reconciled zone map references only live files
    zm_files = [r["file"] for r in read_zonemap(spark, f"{root}/zonemap").collect()]
    assert zm_files and all("/batch=2026-01/" not in f for f in zm_files)

    # replay of the expired batch: committed no-op, empty kept
    res_rep = ingest_batch(spark, a, root, "2026-01", config=CFG)
    assert res_rep.replayed and res_rep.kept.count() == 0

    # idempotent second expire
    stats2 = expire_batch_payload(spark, root, "2026-01")
    assert stats2.already_expired and stats2.n_files_deleted == 0

    # state report: expired flagged, live batch untouched
    rep = {r["batch_id"]: r for r in ingest_state_report(spark, root).collect()}
    assert rep["2026-01"]["payload_expired"] and rep["2026-01"]["n_files"] == 0
    assert rep["2026-01"]["docs_kept"] > 0  # the ledger still remembers
    assert not rep["2026-02"]["payload_expired"]

    with pytest.raises(ValueError, match="not committed"):
        expire_batch_payload(spark, root, "nope")


def test_bloom_manifest_locates_content_and_survives_lifecycle(
    spark, sf_dir, tmp_path
):
    """The corpus Bloom manifest (operators/bloom_index.py wired into
    the commit): locate_content reads a strict subset of corpus files
    for a point lookup; expire drops the batch's index rows BEFORE its
    files are deleted (a probe never references deleted payload);
    compaction reconciles the manifest to the rewritten files."""
    from docling_jobkit_spark.operators.bloom_index import read_bloom_index
    from docling_jobkit_spark.plans.ingest import (
        compact_ingest_batch,
        expire_batch_payload,
        locate_content,
    )

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=CFG)
    a_probe = res_a.kept.orderBy("doc_id").limit(1).collect()[0]
    b = _make_batch_b(fresh_b, res_a.kept).localCheckpoint(eager=True)
    res_b = ingest_batch(spark, b, root, "2026-02", config=CFG)
    assert exists(f"{root}/bloomidx/_SUCCESS")

    target = res_b.kept.orderBy("doc_id").limit(1).collect()[0]
    df, kept, total = locate_content(spark, root, [target["content_hash"]])
    rows = df.collect()
    assert any(r["doc_id"] == target["doc_id"] for r in rows)
    assert rows and all("/batch=" in r["file"] for r in rows)
    assert 0 < kept < total

    # absent hash: provably nowhere — zero files read, empty result
    df0, kept0, _t = locate_content(spark, root, ["0" * 64])
    assert df0.count() == 0 and kept0 == 0

    # expire batch A: the manifest stops referencing its files FIRST
    expire_batch_payload(spark, root, "2026-01")
    bi = read_bloom_index(spark, f"{root}/bloomidx")
    files = [r["file"] for r in bi.select("file").distinct().collect()]
    assert files and all("/batch=2026-01/" not in f for f in files)
    # a batch-A doc's hash: probe runs clean (no deleted file opened);
    # B's planted exact re-posts were DROPPED, so nothing matches
    dfa, _k, _t2 = locate_content(spark, root, [a_probe["content_hash"]])
    assert all("/batch=2026-01/" not in r["file"] for r in dfa.collect())
    # B's own docs still locate after the expire
    df2, _k2, _t3 = locate_content(spark, root, [target["content_hash"]])
    assert any(r["doc_id"] == target["doc_id"] for r in df2.collect())

    # compaction reconciles: locate stays exact against rewritten files
    compact_ingest_batch(spark, root, "2026-02")
    df3, _k3, _t4 = locate_content(spark, root, [target["content_hash"]])
    assert any(r["doc_id"] == target["doc_id"] for r in df3.collect())
    bi2 = read_bloom_index(spark, f"{root}/bloomidx")
    live = {r["file"] for r in bi2.select("file").distinct().collect()}
    from docling_jobkit_spark.operators.zonemap import _canon
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    assert live == on_disk


def test_read_corpus_asof_reconstructs_each_commit_point(spark, state):
    from docling_jobkit_spark.plans.ingest import read_corpus_asof

    root, _, _, res_a, res_b = state
    a_hashes = {r["content_hash"] for r in res_a.kept.collect()}
    b_hashes = {r["content_hash"] for r in res_b.kept.collect()}

    asof1 = read_corpus_asof(spark, root, "2026-01")
    assert "batch" in asof1.columns
    rows1 = asof1.collect()
    assert {r["content_hash"] for r in rows1} == a_hashes
    assert {r["batch"] for r in rows1} == {"2026-01"}

    asof2 = read_corpus_asof(spark, root, "2026-02")
    assert {r["content_hash"] for r in asof2.collect()} == a_hashes | b_hashes

    # the batch partition column prunes: filtering asof2 back to the
    # first commit point reads exactly the asof1 row set
    pruned = asof2.where(F.col("batch") == "2026-01")
    assert pruned.count() == len(rows1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "batch" in plan

    with pytest.raises(ValueError, match="not committed"):
        read_corpus_asof(spark, root, "2026-03")
    with pytest.raises(ValueError, match="on_expired"):
        read_corpus_asof(spark, root, "2026-01", on_expired="maybe")


def test_read_corpus_asof_refuses_expired_history_unless_opted_in(
    spark, sf_dir, tmp_path
):
    from docling_jobkit_spark.plans.ingest import (
        expire_batch_payload,
        read_corpus_asof,
    )

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)
    ingest_batch(spark, a, root, "2026-01", config=CFG)
    res_b = ingest_batch(spark, fresh_b, root, "2026-02", config=CFG)
    expire_batch_payload(spark, root, "2026-01")

    with pytest.raises(ValueError, match="expired.*2026-01"):
        read_corpus_asof(spark, root, "2026-02")
    # explicit partial-history opt-in: the surviving subset, labeled
    part = read_corpus_asof(spark, root, "2026-02", on_expired="skip")
    rows = part.collect()
    assert {r["batch"] for r in rows} == {"2026-02"}
    assert {r["content_hash"] for r in rows} == {
        r["content_hash"] for r in res_b.kept.collect()
    }
    # the expired batch itself: nothing survives in its window
    empty = read_corpus_asof(spark, root, "2026-01", on_expired="skip")
    assert empty.count() == 0 and "batch" in empty.columns


def test_vacuum_ingest_state_removes_only_unreachable_debris(
    spark, sf_dir, tmp_path
):
    """Torn-commit family dirs (no ledger marker) and INCOMPLETE
    compaction tmps vacuum away; committed state and certified
    (complete) compaction tmps are never touched; the age guard skips
    young dirs (the possibly-in-flight writer)."""
    import pathlib

    from docling_jobkit_spark.plans.ingest import (
        vacuum_ingest_state,
    )

    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    res = ingest_batch(spark, a, root, "v1", config=CFG)
    want_kept = res.kept.count()

    # plant a torn commit (crash before the ledger marker)
    for fam in ("corpus", "seen", "ledger"):
        d = pathlib.Path(root) / fam / "batch=torn"
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"\x00junk")
    # an incomplete compaction tmp (no _SUCCESS): dead — never read
    t_bad = pathlib.Path(root) / "corpus_compact" / "batch=v1"
    t_bad.mkdir(parents=True)
    (t_bad / "part-00000.parquet").write_bytes(b"\x00junk")
    # a CERTIFIED tmp: the heal copy a torn copy-back recovers from
    t_ok = pathlib.Path(root) / "corpus_compact" / "batch=v0"
    t_ok.mkdir(parents=True)
    (t_ok / "part-00000.parquet").write_bytes(b"\x00data")
    (t_ok / "_SUCCESS").write_bytes(b"")

    # age guard first: everything is younger than an hour → no-op
    st0 = vacuum_ingest_state(spark, root, min_age_seconds=3600)
    assert st0.n_dirs_deleted == 0 and exists(str(t_bad))

    st = vacuum_ingest_state(spark, root, min_age_seconds=0)
    assert st.n_dirs_deleted == 4 and st.bytes_reclaimed > 0
    assert {p.rsplit("/", 2)[-2] + "/" + p.rsplit("/", 2)[-1] for p in st.deleted} == {
        "corpus/batch=torn",
        "seen/batch=torn",
        "ledger/batch=torn",
        "corpus_compact/batch=v1",
    }
    assert st.n_kept_recovery == 1 and exists(str(t_ok))

    # committed state untouched: replay still no-ops with the same kept
    res_rep = ingest_batch(spark, a, root, "v1", config=CFG)
    assert res_rep.replayed and res_rep.kept.count() == want_kept

    # idempotent
    st2 = vacuum_ingest_state(spark, root, min_age_seconds=0)
    assert st2.n_dirs_deleted == 0 and st2.n_kept_recovery == 1


def test_bloom_disabled_falls_back_to_full_scan(spark, sf_dir, tmp_path):
    """bloom_cols=() configs never write a manifest; locate_content
    degrades to the full corpus scan and stays correct (the index is an
    accelerator, not a correctness dependency)."""
    from docling_jobkit_spark.plans.ingest import locate_content

    root = str(tmp_path / "state")
    cfg = IngestConfig(curation=CurationConfig(), tau=0.8, bloom_cols=())
    a, _fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=cfg)
    assert not exists(f"{root}/bloomidx")
    probe = res_a.kept.orderBy("doc_id").limit(1).collect()[0]
    df, kept, total = locate_content(spark, root, [probe["content_hash"]])
    assert kept == total > 0
    assert any(r["doc_id"] == probe["doc_id"] for r in df.collect())


# -- takedown deletion (delete_content) -------------------------------


def _takedown_state(spark, sf_dir, tmp_path, n_files_min=3):
    """One committed batch split across several small corpus files so
    file-granular rewrite is observable."""
    root = str(tmp_path / "state")
    a, _ = _batch_a(spark, sf_dir)
    per_file = max(2, int(a.count()) // 8)
    cfg = IngestConfig(
        curation=CurationConfig(), tau=0.8, max_records_per_file=per_file
    )
    res = ingest_batch(spark, a, root, "2026-01", config=cfg)
    return root, cfg, res


def test_delete_content_rewrites_only_affected_files(spark, sf_dir, tmp_path):
    """The full takedown contract on one committed batch: targets gone
    everywhere (corpus + shards + manifests), every other row
    bit-intact, UNAFFECTED files never rewritten, dedup memory kept as
    a tombstone that blocks re-ingestion of the same content."""
    from docling_jobkit_spark.plans.ingest import (
        CORPUS_SCHEMA,
        delete_content,
        locate_content,
    )
    from docling_jobkit_spark.operators.zonemap import read_zonemap
    from docling_jobkit_spark.checkpoint import (
        _list_parquet_files,
        content_signature,
    )

    root, cfg, res = _takedown_state(spark, sf_dir, tmp_path)
    files_before = dict(_list_parquet_files(spark, f"{root}/corpus"))
    assert len(files_before) >= 3, "need several files for the certificate"

    # two targets that live in ONE file, so exactly one file rewrites
    first = sorted(files_before)[0]
    targets = [
        r["content_hash"]
        for r in spark.read.parquet(first).orderBy("doc_id").limit(2).collect()
    ]
    kept_before = res.kept.localCheckpoint(eager=True)  # pre-delete listing
    survivors_sig = content_signature(
        kept_before.where(~F.col("content_hash").isin(targets)),
        key_col="content_hash",
    )
    deleted_texts = kept_before.where(
        F.col("content_hash").isin(targets)
    ).select("text").localCheckpoint(eager=True)
    n_shards_before = spark.read.json(f"{root}/shards/batch=2026-01").count()

    # absent-hash probe first: a no-op, nothing rewrites
    st0 = delete_content(spark, root, ["0" * 64])
    assert st0.n_docs_deleted == 0 and st0.n_batches_rewritten == 0
    assert dict(_list_parquet_files(spark, f"{root}/corpus")) == files_before

    st = delete_content(spark, root, targets)
    assert st.n_docs_deleted == 2
    assert st.n_batches_rewritten == 1 and st.healed == ()
    assert st.n_files_deleted == 1  # only the file holding the targets
    assert st.n_shard_batches_rewritten == 1

    # survivors bit-intact, targets gone (corpus, locate, shards)
    corpus = spark.read.schema(CORPUS_SCHEMA).parquet(
        f"{root}/corpus/batch=2026-01"
    )
    assert corpus.where(F.col("content_hash").isin(targets)).count() == 0
    assert content_signature(corpus, key_col="content_hash") == survivors_sig
    gone, _k, _t = locate_content(spark, root, targets)
    assert gone.count() == 0
    shards = spark.read.json(f"{root}/shards/batch=2026-01")
    assert shards.where(F.col("content_hash").isin(targets)).count() == 0
    assert shards.count() == n_shards_before - 2

    # unaffected files untouched byte-for-byte (same path AND size)
    files_after = dict(_list_parquet_files(spark, f"{root}/corpus"))
    untouched = {p: b for p, b in files_before.items() if p != first}
    assert all(files_after.get(p) == b for p, b in untouched.items())
    assert first not in files_after

    # manifests consistent: every referenced file exists, every data
    # file referenced; a surviving doc still locates via the Bloom path
    from docling_jobkit_spark.operators.zonemap import _canon

    zm_files = {
        r["file"] for r in read_zonemap(spark, f"{root}/zonemap")
        .select("file").distinct().collect()
    }
    assert zm_files == {_canon(p) for p in files_after}
    survivor_hash = corpus.orderBy("doc_id").limit(1).collect()[0][
        "content_hash"
    ]
    hit, kept_n, total_n = locate_content(spark, root, [survivor_hash])
    assert hit.count() == 1 and kept_n <= total_n

    # tombstone: re-ingesting the deleted content drops at history_exact
    re_batch = deleted_texts.withColumn(
        "rid", F.monotonically_increasing_id()
    ).select(
        (F.col("rid") + 900_000).alias("doc_id"),
        F.concat(F.lit("https://repost.example.org/"),
                 F.col("rid").cast("string")).alias("url"),
        F.col("text"),
    )
    res2 = ingest_batch(spark, re_batch, root, "2026-02", config=cfg)
    counts = _stage_counts(res2.ledger)
    assert counts["history_exact"] == 2
    assert res2.kept.count() == 0
    gone2, _k2, _t2 = locate_content(spark, root, targets)
    assert gone2.count() == 0


def test_delete_content_heals_torn_apply(spark, sf_dir, tmp_path):
    """Crash simulations around the certified tmp: (a) tmp written,
    nothing applied; (b) tmp written, affected file already deleted;
    (c) tmp written, survivors already appended. Each re-entry heals to
    the same final state with no duplicated or lost rows."""
    from docling_jobkit_spark.plans.ingest import (
        CORPUS_SCHEMA,
        _TAKEDOWN_SCHEMA,
        delete_content,
    )
    from docling_jobkit_spark.checkpoint import (
        _list_parquet_files,
        content_signature,
    )

    root, cfg, res = _takedown_state(spark, sf_dir, tmp_path)

    def _plant_tmp(targets):
        """Write exactly the certified tmp the fresh path would (the
        executable spec of the tmp layout)."""
        files = sorted(
            p for p, _ in _list_parquet_files(spark, f"{root}/corpus")
        )
        src = (
            spark.read.schema(CORPUS_SCHEMA)
            .parquet(*files)
            .withColumn("src_file", F.input_file_name())
        )
        hit_files = sorted(
            r["src_file"]
            for r in src.where(F.col("content_hash").isin(targets))
            .select("src_file").distinct().collect()
        )
        aff = (
            spark.read.schema(CORPUS_SCHEMA)
            .parquet(*hit_files)
            .withColumn("src_file", F.input_file_name())
        )
        sent = spark.range(1).select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(None).cast("bigint").alias("doc_id"),
                    F.lit(None).cast("string").alias("url"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("content_hash"),
                    F.lit(None).cast("bigint").alias("n_chars"),
                    F.lit(p).alias("src_file"),
                )
                for p in hit_files
            ])).alias("r")
        ).select("r.*")
        aff.where(~F.col("content_hash").isin(targets)).select(
            "doc_id", "url", "text", "content_hash", "n_chars", "src_file"
        ).unionByName(sent).write.mode("overwrite").parquet(
            f"{root}/corpus_takedown/batch=2026-01"
        )
        return hit_files

    def _pick_targets(n, seed_off):
        return [
            r["content_hash"]
            for r in spark.read.schema(CORPUS_SCHEMA)
            .parquet(f"{root}/corpus/batch=2026-01")
            .orderBy("doc_id").offset(seed_off).limit(n).collect()
        ]

    def _sig():
        return content_signature(
            spark.read.schema(CORPUS_SCHEMA).parquet(
                f"{root}/corpus/batch=2026-01"
            ),
            key_col="content_hash",
        )

    corpus_dir = f"{root}/corpus/batch=2026-01"

    # (a) crash right after the tmp write: heal applies it fully
    t_a = _pick_targets(1, 0)
    _plant_tmp(t_a)
    n_before = _sig()[0]
    st = delete_content(spark, root, t_a)
    assert st.healed == ("2026-01",)
    got = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)
    assert got.where(F.col("content_hash").isin(t_a)).count() == 0
    assert _sig()[0] == n_before - 1
    assert got.groupBy("content_hash").count().where("count > 1").count() == 0

    # (b) crash after the affected file was deleted: survivors only in tmp
    t_b = _pick_targets(1, 3)
    hit_files = _plant_tmp(t_b)
    for p in hit_files:
        delete(p)
    n_docs_b = _sig()[0]  # survivors of the deleted file are missing now
    st = delete_content(spark, root, t_b)
    assert st.healed == ("2026-01",)
    got = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)
    assert got.where(F.col("content_hash").isin(t_b)).count() == 0
    assert _sig()[0] > n_docs_b  # the tmp's survivors were restored
    assert got.groupBy("content_hash").count().where("count > 1").count() == 0

    # (c) crash after the append: re-entry must not double any row
    t_c = _pick_targets(1, 6)
    hit_files = _plant_tmp(t_c)
    for p in hit_files:
        delete(p)
    tmp = spark.read.schema(_TAKEDOWN_SCHEMA).parquet(
        f"{root}/corpus_takedown/batch=2026-01"
    )
    tmp.where(F.col("content_hash").isNotNull()).select(
        "doc_id", "url", "text", "content_hash", "n_chars"
    ).write.mode("append").parquet(corpus_dir)
    want_n = _sig()[0]
    st = delete_content(spark, root, t_c)
    assert st.healed == ("2026-01",)
    got = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_dir)
    assert got.where(F.col("content_hash").isin(t_c)).count() == 0
    assert _sig()[0] == want_n  # nothing re-appended
    assert got.groupBy("content_hash").count().where("count > 1").count() == 0


def test_delete_content_heals_shard_tmp(spark, sf_dir, tmp_path):
    """A complete shard tmp left by a torn purge after the shard dir was
    deleted (the copy-back's delete-then-write window): the next
    delete_content restores the shard rows from the tmp."""
    from docling_jobkit_spark.plans.ingest import _SHARD_SCHEMA, delete_content
    from docling_jobkit_spark.sinks.writers import write_training_shards

    root, _cfg, _res = _takedown_state(spark, sf_dir, tmp_path)
    sdir = f"{root}/shards/batch=2026-01"
    tmp = f"{root}/shards_takedown/batch=2026-01"

    def rows(path):
        return sorted(
            tuple(r) for r in spark.read.schema(_SHARD_SCHEMA).json(path).collect()
        )

    shards = spark.read.schema(_SHARD_SCHEMA).json(sdir)
    target = shards.orderBy("content_hash").limit(1).collect()[0]["content_hash"]
    write_training_shards(
        shards.where(F.col("content_hash") != target), tmp,
        text_col="text", meta_cols=("url", "content_hash"),
    )
    want = rows(tmp)
    delete(sdir)

    st = delete_content(spark, root, ["0" * 64])
    assert st.healed == ("2026-01",) and st.n_shard_batches_rewritten == 1
    assert rows(sdir) == want
    assert not exists(tmp)


def test_vacuum_keeps_certified_takedown_tmps(spark, tmp_path):
    """Incomplete takedown tmps (corpus + shards) vacuum like
    compaction debris; complete ones are heal copies and survive."""
    import pathlib

    from docling_jobkit_spark.plans.ingest import (
        vacuum_ingest_state,
    )

    root = str(tmp_path / "state")
    bad = pathlib.Path(root) / "corpus_takedown" / "batch=x"
    bad.mkdir(parents=True)
    (bad / "part-00000.parquet").write_bytes(b"\x00junk")
    ok = pathlib.Path(root) / "shards_takedown" / "batch=y"
    ok.mkdir(parents=True)
    (ok / "part-00000.json.gz").write_bytes(b"\x00data")
    (ok / "_SUCCESS").write_bytes(b"")

    st = vacuum_ingest_state(spark, root, min_age_seconds=0)
    assert st.n_dirs_deleted == 1 and not exists(str(bad))
    assert st.n_kept_recovery == 1 and exists(str(ok))


def test_delete_content_spans_batches(spark, sf_dir, tmp_path):
    """Targets living in different committed batches rewrite each batch
    independently in one call; every other row in both batches is
    bit-intact."""
    from docling_jobkit_spark.plans.ingest import (
        CORPUS_SCHEMA,
        delete_content,
        locate_content,
    )
    from docling_jobkit_spark.checkpoint import content_signature

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)
    res_a = ingest_batch(spark, a, root, "2026-01", config=CFG)
    res_b = ingest_batch(spark, fresh_b, root, "2026-02", config=CFG)

    t_a = res_a.kept.orderBy("doc_id").limit(1).collect()[0]["content_hash"]
    t_b = res_b.kept.orderBy("doc_id").limit(1).collect()[0]["content_hash"]
    corpus_before = spark.read.schema(CORPUS_SCHEMA).parquet(
        f"{root}/corpus/batch=2026-01", f"{root}/corpus/batch=2026-02"
    )
    want_sig = content_signature(
        corpus_before.where(~F.col("content_hash").isin([t_a, t_b])),
        key_col="content_hash",
    )

    st = delete_content(spark, root, [t_a, t_b])
    assert st.n_docs_deleted == 2
    assert st.n_batches_rewritten == 2
    assert st.n_shard_batches_rewritten == 2

    corpus_after = spark.read.schema(CORPUS_SCHEMA).parquet(
        f"{root}/corpus/batch=2026-01", f"{root}/corpus/batch=2026-02"
    )
    assert content_signature(corpus_after, key_col="content_hash") == want_sig
    gone, _k, _t = locate_content(spark, root, [t_a, t_b])
    assert gone.count() == 0


def test_ingest_drift_report_flags_planted_drift(spark, sf_dir, tmp_path):
    """Three batches, the third with truncated texts: the report flags
    exactly it; the TV arithmetic is EXACT — DuckDB recomputes
    length_tv from the same corpus parquet bit-for-bit (integer
    cross-product numerators, one double division)."""
    import duckdb

    from docling_jobkit_spark.plans.ingest import (
        IngestConfig,
        ingest_batch,
        ingest_drift_report,
    )

    root = str(tmp_path / "state")
    a, fresh_b = _batch_a(spark, sf_dir)  # a = %3!=0, fresh_b = %3==0
    b1 = a.where(F.col("doc_id") % 3 == 1)
    b2 = a.where(F.col("doc_id") % 3 == 2)
    b3 = fresh_b.withColumn("text", F.substring("text", 1, 200))
    cfg = IngestConfig(curation=CurationConfig(), bloom_cols=())
    for bid, b in (("2026-01", b1), ("2026-02", b2), ("2026-03", b3)):
        ingest_batch(spark, b, root, bid, config=cfg)

    rep = ingest_drift_report(spark, root).orderBy("batch_id").collect()
    assert [r["batch_id"] for r in rep] == ["2026-01", "2026-02", "2026-03"]
    assert rep[0]["prev_batch_id"] is None
    assert rep[0]["length_tv"] is None and rep[0]["stage_tv"] is None
    assert not rep[0]["drifted"]
    assert not rep[1]["drifted"], f"benign batch flagged: {rep[1]}"
    assert rep[2]["drifted"] and rep[2]["length_tv"] > 0.25
    # ledger arithmetic rides through exactly
    for r in rep:
        assert r["kept_rate"] == r["docs_kept"] / r["docs_in"]

    # exact DuckDB twin of length_tv (same buckets, same integer
    # numerators, same one double division)
    twin = duckdb.sql(
        f"""
        WITH h AS (
          SELECT batch,
                 LEAST(15, CAST(FLOOR(LOG2(n_chars + 1)) AS INT)) AS bucket,
                 COUNT(*)::HUGEINT AS c
          FROM read_parquet('{root}/corpus/*/*.parquet', hive_partitioning=1)
          GROUP BY 1, 2
        ), t AS (SELECT batch, SUM(c)::HUGEINT AS t FROM h GROUP BY 1),
        grid AS (
          SELECT p.b, p.pb, r.range AS bucket
          FROM (VALUES ('2026-02','2026-01'), ('2026-03','2026-02')) p(b, pb)
          CROSS JOIN range(16) r
        )
        SELECT grid.b AS batch_id,
               SUM(ABS(COALESCE(hc.c, 0) * tp.t
                       - COALESCE(hp.c, 0) * tc.t))::DOUBLE
                 / (2.0 * MAX(tc.t * tp.t)::DOUBLE) AS length_tv
        FROM grid
        LEFT JOIN h hc ON hc.batch = grid.b AND hc.bucket = grid.bucket
        LEFT JOIN h hp ON hp.batch = grid.pb AND hp.bucket = grid.bucket
        JOIN t tc ON tc.batch = grid.b
        JOIN t tp ON tp.batch = grid.pb
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    got = {r["batch_id"]: r["length_tv"] for r in rep if r["length_tv"] is not None}
    assert {b: pytest.approx(v, rel=1e-14) for b, v in got.items()} == dict(twin)

    # expired payload: histogram comparisons touching the batch go
    # honestly null; ledger-derived columns survive (dedup memory
    # outlives payload, histograms don't)
    from docling_jobkit_spark.plans.ingest import expire_batch_payload

    expire_batch_payload(spark, root, "2026-02")
    rep2 = {
        r["batch_id"]: r
        for r in ingest_drift_report(spark, root).collect()
    }
    assert rep2["2026-02"]["length_tv"] is None
    assert rep2["2026-03"]["length_tv"] is None
    assert rep2["2026-02"]["stage_tv"] is not None
    assert rep2["2026-02"]["kept_rate"] == pytest.approx(
        rep[1]["kept_rate"]
    )


def test_compact_ingest_batch_job_budget(spark, tmp_path, count_jobs):
    """Compaction reconciles both manifests against one corpus listing,
    reading each manifest's file set and indexed columns in ONE collect
    (a separate distinct-column collect per manifest ran on top of
    it), and leaves both manifests naming exactly the files on disk."""
    from docling_jobkit_spark.operators.bloom_index import (
        build_bloom_index,
        read_bloom_index,
        write_bloom_index,
    )
    from docling_jobkit_spark.operators.zonemap import (
        _canon,
        build_zonemap,
        read_zonemap,
        write_zonemap,
    )
    from docling_jobkit_spark.plans.ingest import compact_ingest_batch
    from docling_jobkit_spark.checkpoint import _list_parquet_files

    root = str(tmp_path / "state")
    spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://x.example/"), F.col("id").cast("string")).alias("url"),
        F.col("id").cast("string").alias("text"),
        F.sha2(F.col("id").cast("string"), 256).alias("content_hash"),
        F.col("id").alias("n_chars"),
    ).repartition(4).write.parquet(f"{root}/corpus/batch=x")
    spark.range(1).write.parquet(f"{root}/ledger/batch=x")  # the commit marker
    write_zonemap(build_zonemap(spark, f"{root}/corpus", ["n_chars"]), f"{root}/zonemap")
    write_bloom_index(
        build_bloom_index(spark, f"{root}/corpus", ["content_hash"]), f"{root}/bloomidx"
    )

    stats, n_jobs = count_jobs(compact_ingest_batch, spark, root, "x")
    assert stats.n_files_before == 4 and stats.n_files_after == 1
    assert n_jobs <= COMPACT_JOBS, f"compact_ingest_batch ran {n_jobs} jobs"
    on_disk = {_canon(p) for p, _ in _list_parquet_files(spark, f"{root}/corpus")}
    for manifest in (read_zonemap(spark, f"{root}/zonemap"),
                     read_bloom_index(spark, f"{root}/bloomidx")):
        assert {r["file"] for r in manifest.select("file").distinct().collect()} == on_disk


@pytest.mark.parametrize("reader", ["asof", "latest", "drift"])
def test_empty_state_reads_keep_their_schema(spark, tmp_path, reader):
    """The empty results of the time-travel, latest-view and drift reads
    keep their exact schema, every column nullable: the corpus columns
    plus a string ``batch``, and the drift report's eight columns."""
    from pyspark.sql.types import _parse_datatype_string

    from docling_jobkit_spark.plans.ingest import (
        CORPUS_SCHEMA,
        ingest_drift_report,
        read_corpus_asof,
        read_corpus_latest,
    )

    root = str(tmp_path / "state")
    if reader == "asof":  # committed, payload expired: nothing left to read
        spark.range(1).write.parquet(f"{root}/ledger/batch=b1")
        df = read_corpus_asof(spark, root, "b1", on_expired="skip")
        ddl = CORPUS_SCHEMA + ", batch string"
    elif reader == "latest":
        df = read_corpus_latest(spark, root)
        ddl = CORPUS_SCHEMA + ", batch string"
    else:
        df = ingest_drift_report(spark, root)
        ddl = (
            "batch_id string, prev_batch_id string, docs_in bigint, "
            "docs_kept bigint, kept_rate double, length_tv double, "
            "stage_tv double, drifted boolean"
        )
    assert df.schema == _parse_datatype_string(ddl)
    assert all(f.nullable for f in df.schema.fields)
    assert df.count() == 0
