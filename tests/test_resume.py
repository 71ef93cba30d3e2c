"""Kill-and-rerun resume test (FIXTURES.md §6; analog of the reference's
exactly-once terminalization tests around ``redis_helper.py:950-1078``)."""

from __future__ import annotations

import os

import pytest

from docling_jobkit_spark.extractor import extract
from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig


CFG = PipelineConfig(
    max_bytes=1 << 26, num_partitions=8, n_commit_groups=4, use_slicing=False
)


def _read_results(spark, root):
    from docling_jobkit_spark.checkpoint import CommitLog

    # resolve data locations through manifests (never a results/ glob —
    # orphaned attempt dirs must stay invisible)
    return CommitLog(root).committed_results(spark)


def _check_crash_then_resume(spark, pages_path, corpus_rows, root):
    pipe = ExtractionPipeline(spark, CFG)
    pages = spark.read.parquet(pages_path)

    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(pages, root, run_id="r1", fail_after_groups=2)

    from docling_jobkit_spark.checkpoint import CommitLog

    committed_before = CommitLog(root).committed_groups()
    assert len(committed_before) == 2

    # rerun to completion under a new run id
    log = pipe.run(pages, root, run_id="r2")
    assert len(log.committed_groups()) == CFG.n_commit_groups

    # groups committed by run 1 were NOT recomputed (first terminal wins)
    results = _read_results(spark, root)
    run_ids = {
        r["run_id"]
        for r in results.select("run_id").distinct().collect()
    }
    assert run_ids == {"r1", "r2"}

    # final table equals the oracle, exactly, with one row per input row
    got = {
        (r["url"], r["extracted_text"])
        for r in results.select("url", "extracted_text").collect()
    }
    exp = {
        (r["url"], extract(r["html"], r["url"], max_bytes=CFG.max_bytes).text)
        for r in corpus_rows
    }
    assert got == exp
    assert results.count() == len(corpus_rows)


def test_crash_then_resume_replays_only_missing(spark, pages_path, corpus_rows, tmp_path):
    _check_crash_then_resume(spark, pages_path, corpus_rows, str(tmp_path / "out"))


def test_crash_then_resume_file_uri(spark, pages_path, corpus_rows, tmp_path, monkeypatch):
    """The same crash-and-resume with the output root as a ``file://``
    URI, run from an unrelated working directory."""
    monkeypatch.chdir(tmp_path)
    _check_crash_then_resume(spark, pages_path, corpus_rows, (tmp_path / "out").as_uri())
    assert len(os.listdir(tmp_path / "out" / "manifest")) == CFG.n_commit_groups


def test_rerun_after_success_is_noop(spark, pages_path, tmp_path):
    root = str(tmp_path / "out2")
    pipe = ExtractionPipeline(spark, CFG)
    pages = spark.read.parquet(pages_path)
    pipe.run(pages, root, run_id="a")
    mtimes = {
        p: os.path.getmtime(os.path.join(root, "manifest", p))
        for p in os.listdir(os.path.join(root, "manifest"))
    }
    pipe.run(pages, root, run_id="b")
    mtimes2 = {
        p: os.path.getmtime(os.path.join(root, "manifest", p))
        for p in os.listdir(os.path.join(root, "manifest"))
    }
    assert mtimes == mtimes2  # nothing rewritten
    results = _read_results(spark, root)
    assert results.filter(results.run_id == "b").count() == 0


def test_resume_with_slicing_enabled(spark, pages_path, corpus_rows, tmp_path):
    """Commit groups compose with the slice-explode path: crash, resume,
    final table byte-identical to the oracle."""
    from docling_jobkit_spark.extractor import extract

    cfg = PipelineConfig(
        max_bytes=1 << 26, num_partitions=8, n_commit_groups=3, use_slicing=True
    )
    root = str(tmp_path / "out_sliced")
    pipe = ExtractionPipeline(spark, cfg)
    pages = spark.read.parquet(pages_path)
    with pytest.raises(RuntimeError):
        pipe.run(pages, root, run_id="s1", fail_after_groups=1)
    pipe.run(pages, root, run_id="s2")
    results = _read_results(spark, root)
    got = {
        (r["url"], r["extracted_text"]) for r in results.select("url", "extracted_text").collect()
    }
    exp = {
        (r["url"], extract(r["html"], r["url"], max_bytes=cfg.max_bytes).text)
        for r in corpus_rows
    }
    assert got == exp
