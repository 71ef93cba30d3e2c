"""Batch rollback (plans/ingest.py::rollback_batch) — un-commit as the
inverse of ingest_batch: marker-first ordering, dedup-memory
forgetting (the contrast with expire/takedown), non-latest refusal,
torn-rollback completion, manifest consistency across the
rollback→re-ingest cycle, and tmp purge (a certified heal copy for a
rolled-back batch must never resurrect its payload)."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.operators.bloom_index import read_bloom_index
from docling_jobkit_spark.operators.zonemap import read_zonemap
from docling_jobkit_spark.plans.ingest import (
    IngestConfig,
    ingest_batch,
    locate_content,
    read_corpus_asof,
    rollback_batch,
)
from docling_jobkit_spark.checkpoint import content_signature

CFG = IngestConfig()
FAMILIES = ("corpus", "seen", "index", "shards", "ledger")


def _docs(spark, sf_dir, cls, mod=8):
    import __spark_entry__ as e

    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % mod == cls)
        .select("doc_id", "source", "lang", "text")
        .withColumn("url", e._synth_url())
        .select("doc_id", "url", "text")
    )


def test_rollback_uncommits_then_reingest_is_fresh_and_equal(
    spark, sf_dir, tmp_path
):
    state = str(tmp_path / "st")
    ingest_batch(spark, _docs(spark, sf_dir, 1), state, "2026-01", config=CFG)
    res2 = ingest_batch(
        spark, _docs(spark, sf_dir, 2), state, "2026-02", config=CFG
    )
    want_sig = content_signature(res2.kept, key_col="content_hash")

    st = rollback_batch(spark, state, "2026-02")
    assert st.was_committed and st.existed
    assert st.n_dirs_deleted >= len(FAMILIES)
    assert st.bytes_reclaimed > 0
    for fam in FAMILIES:
        assert not (pathlib.Path(state) / fam / "batch=2026-02").exists()
    # invisible to every committed-batch reader
    with pytest.raises(ValueError, match="not committed"):
        read_corpus_asof(spark, state, "2026-02")
    # manifests stopped referencing the batch (expire ordering)
    zm = read_zonemap(spark, f"{state}/zonemap")
    assert zm.where(F.col("file").contains("/batch=2026-02/")).count() == 0
    bi = read_bloom_index(spark, f"{state}/bloomidx")
    assert bi.where(F.col("file").contains("/batch=2026-02/")).count() == 0

    # the same batch id re-ingests FRESH (no replay) and commits the
    # same content — the drift-gate recovery path
    res2b = ingest_batch(
        spark, _docs(spark, sf_dir, 2), state, "2026-02", config=CFG
    )
    assert not res2b.replayed
    assert content_signature(res2b.kept, key_col="content_hash") == want_sig
    # manifests reference the batch again; point lookups work
    probe = res2b.kept.select("content_hash").limit(1).collect()[0][0]
    hits, kept, total = locate_content(spark, state, [probe])
    assert hits.count() == 1 and 0 < kept <= total


def test_rollback_forgets_dedup_memory(spark, sf_dir, tmp_path):
    # contrast: test_ingest.py::test_history_dedup_drops_planted_reposts
    # proves these exact re-posts are DROPPED when batch 1 stays
    # committed; after rollback they must survive (expire/takedown keep
    # dedup memory, rollback forgets it — a corrected re-crawl must not
    # be blocked as a near-dup of the rolled-back garbage)
    state = str(tmp_path / "st")
    res1 = ingest_batch(
        spark, _docs(spark, sf_dir, 1), state, "2026-01", config=CFG
    )
    reposts = (
        res1.kept.select(
            (F.col("doc_id") + 700_000).alias("doc_id"),
            F.concat(
                F.lit("https://mirror.example.org/x/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.col("text"),
        )
        # materialize: after the rollback below, res1.kept's files are gone
        .localCheckpoint(eager=True)
    )
    n_reposts = reposts.count()
    assert n_reposts > 0
    rollback_batch(spark, state, "2026-01")

    res2 = ingest_batch(spark, reposts, state, "2026-02", config=CFG)
    drops = {
        r["stage"]: r["docs_dropped"] for r in res2.ledger.collect()
    }
    assert drops["history_exact"] == 0 and drops["history_fuzzy"] == 0


def test_rollback_refuses_non_latest_by_default(spark, sf_dir, tmp_path):
    state = str(tmp_path / "st")
    ingest_batch(spark, _docs(spark, sf_dir, 1), state, "2026-01", config=CFG)
    res2 = ingest_batch(
        spark, _docs(spark, sf_dir, 2), state, "2026-02", config=CFG
    )
    n2 = res2.kept.count()
    with pytest.raises(ValueError, match="not the latest"):
        rollback_batch(spark, state, "2026-01")
    st = rollback_batch(spark, state, "2026-01", allow_non_latest=True)
    assert st.was_committed
    # batch 2 stands alone; its time-travel window no longer crosses 1
    assert read_corpus_asof(spark, state, "2026-02").count() == n2


def test_torn_rollback_completes_on_retry(spark, sf_dir, tmp_path):
    state = str(tmp_path / "st")
    ingest_batch(spark, _docs(spark, sf_dir, 1), state, "2026-01", config=CFG)
    # crash right after step 1 (the un-commit point): marker gone,
    # everything else still on disk
    (pathlib.Path(state) / "ledger" / "batch=2026-01" / "_SUCCESS").unlink()
    st = rollback_batch(spark, state, "2026-01")
    assert st.existed and not st.was_committed
    assert st.n_dirs_deleted >= len(FAMILIES)
    for fam in FAMILIES:
        assert not (pathlib.Path(state) / fam / "batch=2026-01").exists()
    # fully rolled back: calling again is a recorded no-op
    st2 = rollback_batch(spark, state, "2026-01")
    assert not st2.existed and st2.n_dirs_deleted == 0


def test_rollback_purges_tmps_even_certified(spark, sf_dir, tmp_path):
    state = str(tmp_path / "st")
    ingest_batch(spark, _docs(spark, sf_dir, 1), state, "2026-01", config=CFG)
    # a CERTIFIED takedown tmp and compact tmp for the batch: heal
    # copies for payload that is about to stop existing — leaving them
    # would let a later delete_content/compact heal pass resurrect it
    for fam in ("corpus_takedown", "corpus_compact"):
        d = pathlib.Path(state) / fam / "batch=2026-01"
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"\x00stub")
        (d / "_SUCCESS").write_bytes(b"")
    st = rollback_batch(spark, state, "2026-01")
    assert st.n_dirs_deleted >= len(FAMILIES) + 2
    for fam in ("corpus_takedown", "corpus_compact"):
        assert not (pathlib.Path(state) / fam / "batch=2026-01").exists()


def test_rollback_nothing_there_is_noop(spark, tmp_path):
    st = rollback_batch(spark, str(tmp_path / "empty"), "2026-01")
    assert not st.existed and not st.was_committed
    assert st.n_dirs_deleted == 0 and st.bytes_reclaimed == 0


def test_rollback_bad_batch_id_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="batch_id"):
        rollback_batch(spark, str(tmp_path), "nope/../escape")
