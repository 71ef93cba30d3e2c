"""CommitLog unit tests: idempotency, object-store-safe terminalization
(data files to a unique path + one conditional manifest PUT — no rename
anywhere), crashed-attempt invisibility, and first-terminal-wins under a
duplicate concurrent committer (the ``redis_helper.py:950-1078`` analog)."""

from __future__ import annotations

import json
import os

import pytest

from docling_jobkit_spark.checkpoint import CommitLog, put_if_absent


def _df(spark, urls):
    return spark.createDataFrame([(u, f"text-{u}") for u in urls], "url string, extracted_text string")


def _check_commit_is_idempotent(spark, root):
    log = CommitLog(root)
    m1 = log.commit_group(0, _df(spark, ["a", "b"]))
    m2 = log.commit_group(0, _df(spark, ["c", "d"]))  # second writer loses
    assert m1 == m2  # the recorded manifest is the FIRST commit's
    rows = {r["url"] for r in spark.read.parquet(log.group_result_path(0)).collect()}
    assert rows == {"a", "b"}
    # a log opened afresh on the same root sees the commit
    assert CommitLog(root).committed_groups() == {0}


def test_commit_is_idempotent(spark, tmp_path):
    _check_commit_is_idempotent(spark, str(tmp_path / "o"))


def test_commit_is_idempotent_file_uri(spark, tmp_path, monkeypatch):
    """The same behaviour with the root given as a ``file://`` URI: the
    manifest lands under the root itself (not under a ``file:`` dir
    relative to the working directory), so a log opened from another
    working directory still sees the commit."""
    monkeypatch.chdir(tmp_path)
    _check_commit_is_idempotent(spark, (tmp_path / "o").as_uri())
    assert os.path.isfile(tmp_path / "o" / "manifest" / "group-0.json")
    monkeypatch.chdir(tmp_path / "o")
    assert CommitLog((tmp_path / "o").as_uri()).committed_groups() == {0}


def test_partial_write_without_manifest_is_invisible(spark, tmp_path):
    log = CommitLog(str(tmp_path / "o"))
    # simulate a crashed attempt: data files present, no manifest PUT
    crashed = log._write_attempt(1, _df(spark, ["x"]))
    assert os.path.isdir(crashed["path"])
    assert log.committed_groups() == set()
    assert log.committed_results(spark) is None
    # a later successful commit supersedes the orphan WITHOUT touching it:
    # readers resolve data through the manifest, never by listing
    log.commit_group(1, _df(spark, ["y"]))
    rows = {r["url"] for r in spark.read.parquet(log.group_result_path(1)).collect()}
    assert rows == {"y"}
    assert log.committed_groups() == {1}
    got = {r["url"] for r in log.committed_results(spark).collect()}
    assert got == {"y"}  # the orphan attempt's "x" is invisible


def test_duplicate_concurrent_committers_first_terminal_wins(spark, tmp_path):
    """Interleaved race: both committers finish their data writes before
    either publishes. Exactly one manifest PUT succeeds; the loser adopts
    the winner's manifest and its own files are discarded — no duplicate
    rows can ever be read."""
    root = str(tmp_path / "o")
    log_a, log_b = CommitLog(root), CommitLog(root)
    attempt_a = log_a._write_attempt(0, _df(spark, ["a1", "a2"]))
    attempt_b = log_b._write_attempt(0, _df(spark, ["b1", "b2"]))

    won_b = log_b._publish(attempt_b)   # B terminalizes first
    won_a = log_a._publish(attempt_a)   # A loses the conditional PUT
    assert won_a == won_b == log_a.read_manifest(0)
    assert won_a["attempt"] == attempt_b["attempt"]
    assert not os.path.exists(attempt_a["path"])  # loser cleaned up

    rows = sorted(r["url"] for r in log_a.committed_results(spark).collect())
    assert rows == ["b1", "b2"]  # exactly one attempt visible, no dupes


def test_put_if_absent_is_exclusive_and_never_torn(spark, tmp_path):
    target = str(tmp_path / "m.json")
    assert put_if_absent(target, b'{"v": 1}')
    assert not put_if_absent(target, b'{"v": 2}')  # loser
    with open(target) as f:
        assert json.load(f) == {"v": 1}
    # no temp residue (the staged object is always unlinked)
    assert os.listdir(str(tmp_path)) == ["m.json"]


def test_create_if_absent_branch(spark, tmp_path):
    """The non-``file`` publish path (exclusive ``FileSystem.create``),
    exercised on the local FS: the winner's payload lands intact and a
    second create reports a loss instead of raising."""
    from docling_jobkit_spark.checkpoint import _create_if_absent, _fs, read_bytes

    target = str(tmp_path / "m.json")
    fs, jpath = _fs(target)
    assert _create_if_absent(fs, jpath, b'{"v": 1}')
    assert not _create_if_absent(fs, jpath, b'{"v": 2}')
    assert read_bytes(target) == b'{"v": 1}'
    assert read_bytes(str(tmp_path / "absent.json")) is None


def _rewrite_io(spark, tmp_path):
    """(read, apply into ``dst``) over plain parquet dirs keyed on url."""
    dst = str(tmp_path / "dst")

    def read(path):
        return spark.read.schema("url string, extracted_text string").parquet(path)

    def apply(path):
        read(path).write.mode("overwrite").parquet(dst)
        return read(dst)

    return read, apply, dst


def test_certified_rewrite_finishes_complete_tmp_without_staging(spark, tmp_path):
    """A complete tmp on entry is the certified heal copy: it is applied
    as-is, ``stage`` never runs, and the call reports True."""
    from docling_jobkit_spark.checkpoint import certified_rewrite, exists

    read, apply, dst = _rewrite_io(spark, tmp_path)
    tmp = str(tmp_path / "tmp")
    _df(spark, ["a", "b", "c"]).write.parquet(tmp)

    def stage(path):
        raise AssertionError("stage must not run over a complete tmp")

    assert certified_rewrite(tmp, read, "url", apply, stage) is True
    assert sorted(r["url"] for r in read(dst).collect()) == ["a", "b", "c"]
    assert not exists(tmp)


def test_certified_rewrite_landing_mismatch_keeps_tmp(spark, tmp_path):
    """What landed differs from the certified tmp: raise and keep the tmp
    (the only intact copy); a plain re-run heals from it."""
    from docling_jobkit_spark.checkpoint import certified_rewrite, exists

    read, apply, dst = _rewrite_io(spark, tmp_path)
    tmp = str(tmp_path / "tmp")
    src = _df(spark, ["a", "b", "c"]).localCheckpoint(eager=True)

    def stage(path):
        src.write.parquet(path)
        return src

    def torn_apply(path):
        read(path).where("url != 'b'").write.mode("overwrite").parquet(dst)
        return read(dst)

    with pytest.raises(RuntimeError, match="kept"):
        certified_rewrite(tmp, read, "url", torn_apply, stage)
    assert exists(f"{tmp}/_SUCCESS")
    assert certified_rewrite(tmp, read, "url", apply) is True
    assert sorted(r["url"] for r in read(dst).collect()) == ["a", "b", "c"]


def test_certified_rewrite_deletes_tmp_failing_its_certificate(spark, tmp_path):
    """A tmp that does not match its source is deleted before the raise,
    so no later call can apply it as a heal copy."""
    from docling_jobkit_spark.checkpoint import certified_rewrite, exists

    read, apply, dst = _rewrite_io(spark, tmp_path)
    tmp = str(tmp_path / "tmp")

    def lossy_stage(path):
        _df(spark, ["a", "b"]).write.parquet(path)
        return _df(spark, ["a", "b", "c"])

    with pytest.raises(RuntimeError, match="source untouched"):
        certified_rewrite(tmp, read, "url", apply, lossy_stage)
    assert not exists(tmp) and not exists(dst)


def test_no_rename_in_commit_path():
    """The object-store-safety property itself: the commit module must not
    rely on rename/move primitives (atomic on POSIX, nonexistent on object
    stores) — data files go straight to their unique final path and the
    manifest is a single conditional PUT."""
    import inspect

    import docling_jobkit_spark.checkpoint as cp
    import docling_jobkit_spark.sinks.maintenance as maintenance
    import docling_jobkit_spark.sinks.writers as writers

    for mod in (cp, maintenance, writers):
        src = inspect.getsource(mod)
        for banned in ("os.rename", "os.replace", "shutil.move"):
            assert banned not in src, f"{mod.__name__} uses {banned}"


def test_storage_goes_through_hadoop_fs():
    """Commit, streaming sketch state, ingest and the sinks touch storage
    only through checkpoint.py's Hadoop-FS primitives, so every scheme
    behaves alike. The one POSIX exception is put_if_absent's
    ``file``-scheme branch (``_link_if_absent``): Hadoop's local create
    is not atomic. No other package module reaches for the raw
    FileSystem handle (``checkpoint._fs``): listings live beside
    ``list_status``."""
    import inspect
    import pathlib
    import re

    import docling_jobkit_spark.checkpoint as cp
    import docling_jobkit_spark.plans.ingest as ingest
    import docling_jobkit_spark.sinks.maintenance as maintenance
    import docling_jobkit_spark.sinks.writers as writers
    import docling_jobkit_spark.streaming.pipeline as streaming

    sources = {
        "checkpoint.py": inspect.getsource(cp).replace(
            inspect.getsource(cp._link_if_absent), ""
        ),
        "plans/ingest.py": inspect.getsource(ingest),
        "streaming/pipeline.py": inspect.getsource(streaming),
        "sinks/maintenance.py": inspect.getsource(maintenance),
        "sinks/writers.py": inspect.getsource(writers),
    }
    banned = (
        "os.listdir", "os.path.isdir", "os.path.exists", "os.makedirs",
        "shutil.rmtree",
    )
    for name, src in sources.items():
        for call in banned:
            assert call not in src, f"{name} uses {call}"
    pkg = pathlib.Path(cp.__file__).parent
    raw_fs = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if p != pkg / "checkpoint.py" and re.search(r"\b_fs\b", p.read_text())
    )
    assert not raw_fs, f"modules outside checkpoint.py name _fs: {raw_fs}"


def test_remaining_pages_prunes_committed_groups(spark, tmp_path):
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [(f"u{i}", i % 4) for i in range(20)], "url string, g int"
    )
    done = pages.filter("g = 2").select("url", F.lit("t").alias("extracted_text"))
    log.commit_group(2, done)
    remaining = log.remaining_pages(spark, pages, F.col("g"))
    got = {r["url"] for r in remaining.collect()}
    assert got == {f"u{i}" for i in range(20) if i % 4 != 2}


def test_remaining_pages_steady_state_has_no_url_join(spark, tmp_path):
    """When counts verify (same page set, same grouping), resume must do
    ZERO url-level work: the plan is a filter over the pages scan with
    no join anywhere — the 10^12-committed-urls resume cost is a tiny
    per-group count agg, never a corpus url shuffle."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [(f"u{i}", i % 4) for i in range(20)], "url string, g int"
    )
    done = pages.filter("g = 2").select("url", F.lit("t").alias("extracted_text"))
    m = log.commit_group(2, done)
    assert m["n_rows"] == 5  # manifest carries the group row count
    remaining = log.remaining_pages(spark, pages, F.col("g"))
    plan = remaining._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "steady-state resume must not join on urls"
    assert remaining.count() == 15


def test_remaining_pages_falls_back_to_exact_url_join_on_regroup(spark, tmp_path):
    """If the grouping changed between runs (count mismatch), resume
    falls back to the exact url anti-join over ALL pages — pages whose
    url was committed are excluded regardless of their new gid, and
    uncommitted pages that now collide with a committed gid are KEPT
    (the coarse prune alone would wrongly drop them)."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [(f"u{i}", i % 4) for i in range(20)], "url string, g int"
    )
    done = pages.filter("g = 2").select("url", F.lit("t").alias("extracted_text"))
    log.commit_group(2, done)
    # new run groups differently: g2 = (i+1) % 4
    regrouped = pages.withColumn("g2", (F.col("g") + 1) % 4)
    remaining = log.remaining_pages(spark, regrouped, F.col("g2"))
    got = {r["url"] for r in remaining.collect()}
    # exactly the uncommitted urls survive — including u1,u5,... whose
    # NEW gid is 2 (committed) but whose url never was
    assert got == {f"u{i}" for i in range(20) if i % 4 != 2}


def test_remaining_pages_fallback_is_payload_qualified(spark, tmp_path):
    """The corpus contains duplicate urls with DISTINCT payloads. When
    both sides carry the identity (results.n_bytes, pages.html), the
    fallback anti-join must key on (url, n_bytes): an uncommitted page
    sharing a url with a committed row but carrying a different payload
    is KEPT (url-only would silently under-process it)."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [
            ("u0", b"<p>short</p>", 0),
            ("u0", b"<p>a longer distinct payload</p>", 1),  # same url!
            ("u1", b"<p>other</p>", 1),
        ],
        "url string, html binary, g int",
    )
    # group 0 committed: result row for (u0, short payload) with n_bytes
    done = pages.filter("g = 0").select(
        "url",
        F.lit("t").alias("extracted_text"),
        F.length("html").cast("long").alias("n_bytes"),
    )
    log.commit_group(0, done)
    # force the fallback: regrouped input (signatures can't match)
    regrouped = pages.withColumn("g2", (F.col("g") + 1) % 2)
    remaining = log.remaining_pages(spark, regrouped, F.col("g2"))
    got = {(r["url"], bytes(r["html"])) for r in remaining.collect()}
    assert got == {
        ("u0", b"<p>a longer distinct payload</p>"),
        ("u1", b"<p>other</p>"),
    }, "the same-url-different-payload page must survive the fallback"
    assert "_resume_nb" not in remaining.columns


def test_remaining_pages_fallback_logs_degradation(spark, tmp_path, caplog):
    """Signature mismatch falls back to corpus-scale join work — that
    degradation must be VISIBLE (logged), not silent (the pre-fix
    behavior on any permanently-mismatching manifest)."""
    import logging

    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [(f"u{i}", i % 2) for i in range(6)], "url string, g int"
    )
    done = pages.filter("g = 0").select("url", F.lit("t").alias("extracted_text"))
    log.commit_group(0, done)
    regrouped = pages.withColumn("g2", (F.col("g") + 1) % 2)
    with caplog.at_level(logging.WARNING, logger="docling_jobkit_spark.checkpoint"):
        log.remaining_pages(spark, regrouped, F.col("g2"))
    assert any("signature mismatch" in r.message for r in caplog.records)
    # url-only fallback (no n_bytes/html identity on either side) is
    # additionally called out as unable to distinguish duplicate urls
    assert any("url alone" in r.message for r in caplog.records)


def test_url_hash_sum_null_guarded(spark, tmp_path):
    """A committed group containing a NULL url must still verify in the
    steady state: F.sum silently drops NULL hash terms while count(*)
    keeps the row, so an un-guarded signature would permanently
    mismatch and silently degrade every resume to the fallback join."""
    from pyspark.sql import functions as F

    log = CommitLog(str(tmp_path / "o"))
    pages = spark.createDataFrame(
        [("u0", 0), (None, 0), ("u2", 1)], "url string, g int"
    )
    done = pages.filter("g = 0").select("url", F.lit("t").alias("extracted_text"))
    log.commit_group(0, done)
    remaining = log.remaining_pages(spark, pages, F.col("g"))
    plan = remaining._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "NULL url must not break the steady state"
    assert {r["url"] for r in remaining.collect()} == {"u2"}


def test_training_shards_round_trip(spark, tmp_path):
    """JSONL shards: loader-shaped schema (text + meta), record cap
    respected per file, values round-trip through gzip JSON."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.sinks import write_training_shards

    df = (
        spark.range(10)
        .select(
            F.concat(F.lit("doc text "), F.col("id").cast("string")).alias(
                "extracted_text"
            ),
            F.concat(F.lit("https://x/"), F.col("id").cast("string")).alias("url"),
            F.sha2(F.col("id").cast("string"), 256).alias("content_hash"),
        )
        .coalesce(1)
    )
    out = str(tmp_path / "shards")
    write_training_shards(df, out, max_records_per_file=4)
    back = spark.read.json(out)
    assert sorted(back.columns) == ["content_hash", "text", "url"]
    assert back.count() == 10
    rows = {r["url"]: r["text"] for r in back.collect()}
    assert rows["https://x/3"] == "doc text 3"
    import glob

    files = glob.glob(f"{out}/part-*.json.gz")
    assert len(files) >= 3  # 10 rows / cap 4 -> >= 3 shards, gzip per file


def test_training_shards_byte_cap_adapts_to_record_size(spark, tmp_path):
    """max_shard_bytes derives the record cap from mean record size: the
    same byte budget yields FEWER records per shard for fat records and
    MORE for thin ones, and uncompressed shard files respect the budget
    (within one record of slack)."""
    import glob
    import os as _os

    from pyspark.sql import functions as F

    from docling_jobkit_spark.sinks import write_training_shards

    def mk(text_len: int):
        return (
            spark.range(40)
            .select(
                F.rpad(F.col("id").cast("string"), text_len, "x").alias(
                    "extracted_text"
                ),
                F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
                F.lit("h").alias("content_hash"),
            )
            .coalesce(1)
        )

    budget = 4000
    n_files = {}
    for label, tlen in (("thin", 50), ("fat", 800)):
        out = str(tmp_path / label)
        write_training_shards(
            mk(tlen), out, max_shard_bytes=budget, compression="none"
        )
        files = glob.glob(f"{out}/part-*.json")
        n_files[label] = len(files)
        assert spark.read.json(out).count() == 40
        for f in files:
            # one-record slack: maxRecordsPerFile caps records, and the
            # derivation floors the budget by the mean record size
            assert _os.path.getsize(f) <= budget + tlen + 200, f
    assert n_files["fat"] > n_files["thin"] >= 1
