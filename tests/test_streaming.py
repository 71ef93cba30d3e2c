"""Structured-Streaming variant: queue semantics (arrival → extraction →
exactly-once committed output; Trigger.AvailableNow drain). The analog of
the reference's durable-queue orchestrators (SURVEY §2.7 O1/O5/O8)."""

from __future__ import annotations

import os

from docling_jobkit_spark.corpus import write_pages_parquet
from docling_jobkit_spark.streaming import start_file_stream, stream_extract


def test_stream_drain_and_incremental_exactly_once(spark, tmp_path):
    indir = str(tmp_path / "in")
    os.makedirs(indir)
    write_pages_parquet(f"{indir}/batch1.parquet", 60, seed=3)

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    q = start_file_stream(
        stream_extract(spark, indir), out_dir, ckpt, available_now=True
    )
    q.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == 60

    # a new file arrives; a restarted AvailableNow query must process ONLY
    # the new file (checkpoint = the durable queue cursor)
    write_pages_parquet(f"{indir}/batch2.parquet", 25, seed=4)
    q2 = start_file_stream(
        stream_extract(spark, indir), out_dir, ckpt, available_now=True
    )
    q2.awaitTermination(180)
    out = spark.read.parquet(out_dir)
    assert out.count() == 85  # 60 + 25, no reprocessing
    assert out.select("url").distinct().count() >= 80


def test_watermarked_hourly_rollup(spark, tmp_path, sf_dir):
    """Stateful windowed agg over a file stream of events; complete
    drain (AvailableNow) must equal the batch hourly rollup."""
    import shutil

    from pyspark.sql import functions as F

    from docling_jobkit_spark.streaming import stream_hourly_rollup

    indir = str(tmp_path / "ev")
    os.makedirs(indir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{indir}/events.parquet")

    rollup = stream_hourly_rollup(spark, indir)
    q = (
        rollup.writeStream.outputMode("append")
        .format("memory")
        .queryName("hourly_rollup")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("select * from hourly_rollup").collect()
    }
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    )
    exp = {(r["ws"], r["event_type"]): r["n"] for r in batch}
    # append-mode emits only windows closed by the watermark; every
    # emitted window must match the batch answer exactly
    assert got
    for k, v in got.items():
        assert exp[k] == v


def test_stateful_sessionization_matches_batch_twin(spark, tmp_path, sf_dir):
    """applyInPandasWithState gap-sessions: every session emitted by the
    streaming operator must exactly equal a batch-computed session; only
    sessions still open at drain end may be missing."""
    import shutil

    from docling_jobkit_spark.streaming import batch_sessions, stream_sessions

    indir = str(tmp_path / "ev2")
    os.makedirs(indir)
    shutil.copy(f"{sf_dir}/events.parquet", f"{indir}/events.parquet")

    q = (
        stream_sessions(spark, indir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_t")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sessions_t").collect()
    }
    exp = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch_sessions(spark.read.parquet(f"{indir}/events.parquet")).collect()
    }
    assert got, "no sessions emitted"
    assert got <= exp
    # at most one open (unemitted) session per user remains
    n_users = spark.read.parquet(f"{indir}/events.parquet").select("user_id").distinct().count()
    assert len(exp - got) <= n_users


def test_stream_dedup_exact_within_watermark(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving within the watermark
    horizon are dropped; state is hash-keyed and watermark-bounded."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timezone

    from docling_jobkit_spark.streaming import stream_dedup_exact

    indir = tmp_path / "dd"
    indir.mkdir()
    t0 = datetime(2024, 1, 1, 12, 0, tzinfo=timezone.utc)
    rows = []
    for i in range(40):
        rows.append(
            {
                "url": f"u{i}",
                "warc_ts": t0,
                "html": b"<p>x</p>",
                # 10 distinct texts, each repeated 4x (case/space variants
                # that normalize identically)
                "text": f"Shared   Text {i % 10}" if i % 2 else f"shared text {i % 10}",
                "lang": "en",
            }
        )
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), f"{indir}/b1.parquet")

    out = stream_dedup_exact(spark, str(indir))
    q = (
        out.writeStream.format("memory")
        .queryName("dd_t")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select content_hash from dd_t").collect()
    assert len(got) == 10  # one survivor per normalized content
    assert len({r["content_hash"] for r in got}) == 10


def test_stream_curate_matches_batch(spark, tmp_path):
    """The stateless curation stamp must be byte-identical between the
    streaming and batch paths over the same files."""
    from docling_jobkit_spark.streaming.pipeline import (
        _curate_stamp,
        start_file_stream,
        stream_curate,
    )

    src = tmp_path / "pages_in"
    src.mkdir()
    rows = [
        ("https://a.example.com/x.html", "reach me at jo@corp.example.net please"),
        ("ftp://bad.tracker.net/y.exe", "the and of to in plain english text here"),
        (None, "der die und das ist text"),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq
    import datetime

    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "warc_ts": pa.array([ts] * 3, pa.timestamp("us", tz="UTC")),
                "html": [b"<p>x</p>"] * 3,
                "text": [r[1] for r in rows],
                "lang": ["en", "en", "de"],
            }
        ),
        str(src / "part-0.parquet"),
    )

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = start_file_stream(
        stream_curate(spark, str(src), blocked_domains=("tracker.net",)),
        out_dir,
        ckpt,
    )
    q.awaitTermination()

    streamed = spark.read.parquet(out_dir)
    batch = _curate_stamp(
        spark.read.parquet(str(src)), ("tracker.net",), ()
    )
    cols = sorted(streamed.columns)
    assert cols == sorted(batch.columns)
    key = lambda r: (r["url"] or "", r["text"])
    s_rows = sorted([r.asDict() for r in streamed.select(cols).collect()], key=key)
    b_rows = sorted([r.asDict() for r in batch.select(cols).collect()], key=key)
    assert s_rows == b_rows
    by_url = {r["url"]: r for r in s_rows}
    assert by_url["ftp://bad.tracker.net/y.exe"]["url_reject_reason"] == "scheme"
    assert by_url["https://a.example.com/x.html"]["n_emails"] == 1


def _loc(path, uri: bool) -> str:
    """``path`` as a plain path or as a ``file://`` URI."""
    return path.as_uri() if uri else str(path)


def _uncommit_last_batch(ck: str) -> int:
    """Simulate a crash after the last micro-batch's sink write but
    before its commit: drop ``commits/<n>`` (and its checksum), so the
    restarted query replays batch n."""
    commits = os.path.join(ck, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    os.remove(os.path.join(commits, str(last)))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return last


def _fuzzy_arrivals(spark, sf_dir, tmp_path):
    """A MinHash index over doc_id < 300 and two arrival files:
    re-crawls (unchanged) and fresh docs."""
    from docling_jobkit_spark.operators.minhash_index import (
        read_minhash_index,
        write_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx_path = str(tmp_path / "idx")
    write_minhash_index(docs.where("doc_id < 300"), idx_path)
    index = read_minhash_index(spark, idx_path)

    # two arrival files: re-crawls (unchanged) and fresh docs
    indir = tmp_path / "arrivals"
    indir.mkdir()
    docs.where("doc_id < 40").select("doc_id", "text").coalesce(1).write.parquet(
        str(indir / "b1"), mode="overwrite"
    )
    docs.where("doc_id >= 300 and doc_id < 340").select(
        "doc_id", "text"
    ).coalesce(1).write.parquet(str(indir / "b2"), mode="overwrite")
    return index, indir


def _start_fuzzy(spark, indir, index, outdir, ck):
    from docling_jobkit_spark.streaming import stream_dedup_fuzzy

    return stream_dedup_fuzzy(
        spark, f"{indir}/*", index, outdir, ck, tau=0.7, max_files_per_trigger=1
    )


def test_stream_dedup_fuzzy_matches_batch_probe(spark, sf_dir, tmp_path):
    """Streaming fuzzy dedup against the persisted MinHash index: the
    foreachBatch probe must equal the batch probe over the same docs —
    per-batch == global holds because the probe is stateless against a
    static index (forced multi-batch via maxFilesPerTrigger=1)."""
    from docling_jobkit_spark.operators.minhash_index import dedup_incremental

    index, indir = _fuzzy_arrivals(spark, sf_dir, tmp_path)
    outdir, ck = str(tmp_path / "verdicts"), str(tmp_path / "ck_fz")
    _start_fuzzy(spark, indir, index, outdir, ck).awaitTermination(300)

    got = {
        tuple(r)
        for r in spark.read.parquet(outdir)
        .select("doc_id", "n_index_hits", "max_est_jaccard", "is_dup")
        .collect()
    }
    arrived = spark.read.parquet(f"{indir}/*")
    want = {
        tuple(r) for r in dedup_incremental(arrived, index, tau=0.7).collect()
    }
    assert got == want
    # multi-batch actually exercised, and discrimination holds: every
    # indexed re-crawl is an exact signature match
    n_batches = (
        spark.read.parquet(outdir).select("batch_id").distinct().count()
    )
    assert n_batches >= 2
    dup_ids = {r[0] for r in got if r[3]}
    assert dup_ids  # hits exist
    # every indexed re-crawl (id<40, all ≥3 tokens at this sf) matches
    assert {r[0] for r in got if r[0] < 40} <= dup_ids


def test_stream_dedup_fuzzy_replay_is_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a restart after the last batch's
    commit entry is lost replays that batch. Its verdicts must replace
    the earlier copy, not append a second one — the row count stays the
    distinct doc_id count and equal to the batch probe."""
    from docling_jobkit_spark.operators.minhash_index import dedup_incremental

    index, indir = _fuzzy_arrivals(spark, sf_dir, tmp_path)
    outdir, ck = str(tmp_path / "verdicts"), str(tmp_path / "ck_fz")
    _start_fuzzy(spark, indir, index, outdir, ck).awaitTermination(300)
    last = _uncommit_last_batch(ck)
    _start_fuzzy(spark, indir, index, outdir, ck).awaitTermination(300)
    assert os.path.exists(os.path.join(ck, "commits", str(last)))  # replayed

    out = spark.read.parquet(outdir)
    want = dedup_incremental(spark.read.parquet(f"{indir}/*"), index, tau=0.7)
    cols = ("doc_id", "n_index_hits", "max_est_jaccard", "is_dup")
    assert out.count() == out.select("doc_id").distinct().count() == want.count()
    assert sorted(map(tuple, out.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_stream_hll_matches_batch_sketch(spark, sf_dir, tmp_path):
    _check_stream_hll(spark, sf_dir, tmp_path, uri=False)


def test_stream_hll_matches_batch_sketch_file_uri(spark, sf_dir, tmp_path):
    _check_stream_hll(spark, sf_dir, tmp_path, uri=True)


def _check_stream_hll(spark, sf_dir, tmp_path, uri):
    """Streaming HLL: after draining overlapping arrival batches, the
    persisted register table must EQUAL the batch sketch of the full
    input (merge = element-wise max is exact, not approximate), and the
    estimate must match the batch estimate bit-for-bit."""
    from docling_jobkit_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from docling_jobkit_spark.streaming import (
        read_hll_state,
        stream_hll_distinct,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    indir = tmp_path / "hll_arrivals"
    indir.mkdir()
    # three overlapping slices — re-seen keys must not inflate the union
    for name, lo, hi in (("b1", 0, 200), ("b2", 150, 350), ("b3", 300, 500)):
        docs.where(f"doc_id >= {lo} and doc_id < {hi}").select(
            "doc_id", "text"
        ).coalesce(1).write.parquet(str(indir / name), mode="overwrite")

    state, ck = _loc(tmp_path / "hll_state", uri), _loc(tmp_path / "ck_hll", uri)
    q = stream_hll_distinct(
        spark,
        f"{_loc(indir, uri)}/*",
        state,
        ck,
        col="doc_id",
        p=7,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = sorted(map(tuple, read_hll_state(spark, state).collect()))
    full = docs.where("doc_id < 500").select("doc_id", "text")
    want = sorted(map(tuple, hll_registers(full, "doc_id", 7).collect()))
    assert got == want

    est_stream = hll_estimate(
        read_hll_state(spark, state), 7, "doc_id"
    ).collect()[0]["estimate"]
    est_batch = hll_estimate(hll_registers(full, "doc_id", 7), 7, "doc_id").collect()[
        0
    ]["estimate"]
    assert est_stream == est_batch


def test_stream_logh_matches_batch_sketch(spark, sf_dir, tmp_path):
    _check_stream_logh(spark, sf_dir, tmp_path, uri=False)


def test_stream_logh_matches_batch_sketch_file_uri(spark, sf_dir, tmp_path):
    _check_stream_logh(spark, sf_dir, tmp_path, uri=True)


def _check_stream_logh(spark, sf_dir, tmp_path, uri):
    """Streaming log-bucket quantiles: after draining DISJOINT arrival
    batches (counts are additive — each row must count exactly once),
    the persisted bucket table must EQUAL the batch sketch of the full
    input, and the quantile envelopes must match bit-for-bit."""
    from docling_jobkit_spark.operators.sketches import (
        logh_buckets,
        logh_quantiles,
    )
    from docling_jobkit_spark.streaming import (
        read_logh_state,
        stream_logh_quantiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    indir = tmp_path / "logh_arrivals"
    indir.mkdir()
    for name, lo, hi in (("b1", 0, 180), ("b2", 180, 330), ("b3", 330, 500)):
        docs.where(f"doc_id >= {lo} and doc_id < {hi}").select(
            "doc_id", "text", "n_chars"
        ).coalesce(1).write.parquet(str(indir / name), mode="overwrite")

    state, ck = _loc(tmp_path / "logh_state", uri), _loc(tmp_path / "ck_logh", uri)
    q = stream_logh_quantiles(
        spark,
        f"{_loc(indir, uri)}/*",
        state,
        ck,
        col="n_chars",
        sub_bits=6,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = sorted(map(tuple, read_logh_state(spark, state).collect()))
    full = docs.where("doc_id < 500")
    want = sorted(map(tuple, logh_buckets(full, "n_chars", 6).collect()))
    assert got == want

    qs = (0.5, 0.9, 0.99)
    q_stream = [
        tuple(r)
        for r in logh_quantiles(read_logh_state(spark, state), qs, "n_chars").collect()
    ]
    q_batch = [
        tuple(r)
        for r in logh_quantiles(logh_buckets(full, "n_chars", 6), qs, "n_chars").collect()
    ]
    assert q_stream == q_batch


def test_stream_cms_matches_batch_sketch(spark, sf_dir, tmp_path):
    _check_stream_cms(spark, sf_dir, tmp_path, uri=False)


def test_stream_cms_matches_batch_sketch_file_uri(spark, sf_dir, tmp_path):
    _check_stream_cms(spark, sf_dir, tmp_path, uri=True)


def _cms_arrivals(spark, sf_dir, tmp_path):
    """Three DISJOINT arrival files over doc_id < 500 and their union."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    indir = tmp_path / "cms_arrivals"
    indir.mkdir()
    for name, lo, hi in (("b1", 0, 180), ("b2", 180, 330), ("b3", 330, 500)):
        docs.where(f"doc_id >= {lo} and doc_id < {hi}").select(
            "doc_id", "text", "lang"
        ).coalesce(1).write.parquet(str(indir / name), mode="overwrite")
    return indir, docs.where("doc_id < 500").select("doc_id", "text", "lang")


def _start_cms(spark, indir, state, ck):
    from docling_jobkit_spark.streaming import stream_cms_counts

    return stream_cms_counts(
        spark,
        f"{indir}/*",
        state,
        ck,
        col="lang",
        depth=3,
        width=64,
        schema_ddl="doc_id bigint, text string, lang string",
        max_files_per_trigger=1,
    )


def _check_stream_cms(spark, sf_dir, tmp_path, uri):
    """Streaming Count-Min: after draining DISJOINT arrival batches
    (count-sum is linear — each row must count exactly once), the
    persisted cell table must EQUAL the batch sketch of the full input,
    probes through the state must equal batch probes, and the shape
    stamp must survive the state round-trip."""
    from docling_jobkit_spark.operators.sketches import cms_build, cms_query
    from docling_jobkit_spark.streaming import read_cms_state

    indir, full = _cms_arrivals(spark, sf_dir, tmp_path)
    state, ck = _loc(tmp_path / "cms_state", uri), _loc(tmp_path / "ck_cms", uri)
    _start_cms(spark, _loc(indir, uri), state, ck).awaitTermination(300)

    got = sorted(map(tuple, read_cms_state(spark, state).collect()))
    want = sorted(map(tuple, cms_build(full, "lang", 3, 64).collect()))
    assert got == want

    probes = full.select("lang").distinct()
    est_stream = {
        r["key"]: r["est_count"]
        for r in cms_query(
            read_cms_state(spark, state), probes, "lang", 3, 64
        ).collect()
    }
    est_batch = {
        r["key"]: r["est_count"]
        for r in cms_query(cms_build(full, "lang", 3, 64), probes, "lang", 3, 64).collect()
    }
    assert est_stream == est_batch
    # a mismatched-shape probe against the persisted state raises
    import pytest

    with pytest.raises(ValueError, match=r"\(3, 64\)"):
        cms_query(read_cms_state(spark, state), probes, "lang", 4, 64)


def test_stream_sketch_replay_keeps_count_sum_exact(spark, sf_dir, tmp_path):
    """A replayed micro-batch re-merges its delta against the version
    strictly older than itself and overwrites its own version, so even
    the non-idempotent count-sum merge (CMS here; logh shares the loop)
    stays equal to the batch sketch after a restart that replays the
    last batch."""
    from docling_jobkit_spark.operators.sketches import cms_build
    from docling_jobkit_spark.streaming import read_cms_state

    indir, full = _cms_arrivals(spark, sf_dir, tmp_path)
    state, ck = str(tmp_path / "cms_state"), str(tmp_path / "ck_cms")
    _start_cms(spark, indir, state, ck).awaitTermination(300)
    last = _uncommit_last_batch(ck)
    assert last == 2
    _start_cms(spark, indir, state, ck).awaitTermination(300)
    assert os.path.exists(os.path.join(ck, "commits", str(last)))  # replayed

    got = sorted(map(tuple, read_cms_state(spark, state).collect()))
    want = sorted(map(tuple, cms_build(full, "lang", 3, 64).collect()))
    assert got == want
