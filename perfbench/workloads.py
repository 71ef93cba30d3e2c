"""The two workloads. Each one is a closed loop with one client: the
driver submits one job, waits for its complete result, then submits the
next. Every call into the system goes through the public functions of
``docling_jobkit_spark``, looked up on their modules at call time so
the tracer's wrappers see them.

A workload provides:

- ``prepare``: generate-or-load its seeded inputs (cached per seed);
- ``load`` and ``warm``: the repeatable part of set-up;
- ``step``: one unit job, timed by the caller; returns documents done;
- ``verify``: untimed output checks of that step;
- ``layers``: per-layer metrics from the traced steps' spans.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import probe
from docling_jobkit_spark.extractor.extract import extract
from docling_jobkit_spark.extractor.pdf import extract_pdf
from docling_jobkit_spark.operators import chunker, extract_op
from docling_jobkit_spark.plans import ingest, pipeline
from docling_jobkit_spark.sources import readers

CORES = 4


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(results) -> list[str]:
    """Per-row digest keys of extraction results, as ``inputs.digest_key``
    computes them from the single-threaded reference."""
    key = F.concat_ws(
        "\x1f",
        F.col("url"),
        F.col("n_bytes").cast("string"),
        F.sha2(F.coalesce(F.col("extracted_text"), F.lit("")), 256),
    )
    return [r[0] for r in results.select(key).collect()]


def wrong_rows(ref: list[str], got: list[str]) -> int:
    """Documents whose output row is missing or wrong: a wrong row is one
    missing reference key plus one unexpected key, so count the larger."""
    want, have = Counter(ref), Counter(got)
    return max(sum((want - have).values()), sum((have - want).values()))


def kernel_ms_per_doc(fn, payloads, reps: int = 3) -> float:
    """Median over ``reps`` of single-threaded CPU ms per document."""
    per = []
    for _ in range(reps):
        t0 = time.thread_time()
        for url, payload in payloads:
            fn(payload, url)
        per.append((time.thread_time() - t0) * 1000 / max(1, len(payloads)))
    return statistics.median(per)


def spans_named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def mean_of(spans: list[dict], key: str, per: int | None = None) -> float:
    """Sum of ``key`` over spans divided by ``per`` (default: span count)."""
    if not spans:
        return 0.0
    return sum(s[key] for s in spans) / (per or len(spans))


class Workload:
    name = ""
    MIN_STEPS = 1  # unit jobs in every window, however short

    def __init__(self, work: str, run_dir: str, seed: int, log) -> None:
        self.work = work
        self.run_dir = run_dir
        self.seed = seed
        self.log = log
        self.cache = inputs.SeedCache(work, self.name, seed)
        self.attempted = 0
        self.failed = 0

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.log(f"check failed: {what}")

    def prepare(self, spark) -> None:
        if not self.cache.ready():
            os.makedirs(self.cache.dir, exist_ok=True)
            self.cache.save_meta(self.generate(spark))
        self.meta = self.cache.meta()


def extraction_layers(ext: list[dict], docs: int) -> dict:
    """CPU split and task counts of the extraction actions."""
    tasks = sum(s["incl_tasks"] for s in ext)
    return {
        "extract_op.python_cpu_ms_per_doc": 1000 * sum(s["cpu"]["python"] for s in ext) / docs,
        "extract_op.jvm_cpu_ms_per_doc": 1000 * sum(s["cpu"]["jvm"] for s in ext) / docs,
        "extract_op.tasks": tasks / max(1, len(ext)),
        "extract_op.docs_per_task": docs / max(1, tasks),
    }


class ConvertCommit(Workload):
    """Small pathological pages mixed with PDFs, through the resumable
    commit-group pipeline: a run into a fresh directory that crashes
    after half of its commit groups, its resume, then the chunker over
    the committed results."""

    name = "convert_commit"
    N_HTML = 1200
    N_PDF = 60
    N_FILES = 4
    GROUPS = 2

    def generate(self, spark) -> dict:
        return inputs.prepare_convert_commit(
            self.cache, self.seed, self.N_HTML, self.N_PDF, self.N_FILES
        )

    def load(self, spark) -> None:
        files = self.meta["files"]
        self.n_docs = self.meta["n_docs"]
        self.pages = spark.read.parquet(*files)
        self.warm_pages = spark.read.parquet(files[0]).limit(40)
        config = pipeline.PipelineConfig(
            num_partitions=CORES,
            n_commit_groups=self.GROUPS,
            payload_format="auto",
            use_slicing=True,
            repartition=True,
        )
        self.pipe = pipeline.ExtractionPipeline(spark, config)
        # the warm pass takes the same code path with half the jobs
        self.warm_pipe = pipeline.ExtractionPipeline(
            spark, dataclasses.replace(config, n_commit_groups=1)
        )

    def _dir(self, i: int) -> str:
        return os.path.join(self.run_dir, f"out{i}")

    def warm(self, spark, rep: int) -> None:
        out = os.path.join(self.run_dir, f"warm{rep}")
        log = self.warm_pipe.run(self.warm_pages, out, run_id="warm")
        chunker.chunk_documents(log.committed_results(spark)).count()
        shutil.rmtree(out, ignore_errors=True)

    def step(self, spark, tr, i: int) -> int:
        out = self._dir(i)
        with tr.span("convert.crash"):
            try:
                self.pipe.run(self.pages, out, run_id=f"r{i}",
                              fail_after_groups=self.GROUPS // 2)
                crashed = False
            except RuntimeError as e:
                if "injected crash" not in str(e):
                    raise
                crashed = True
        with tr.span("checkpoint.resume"):
            self.log_run = self.pipe.run(self.pages, out, run_id=f"r{i}")
        with tr.span("chunker.chunk", docs=self.n_docs):
            row = (
                chunker.chunk_documents(self.log_run.committed_results(spark))
                .agg(F.count("*").alias("n"), F.countDistinct("url").alias("u"))
                .collect()[0]
            )
        self.chunks = (row["n"], row["u"])
        self.fail(int(not crashed), "convert_commit injected crash did not happen")
        self.attempted += self.n_docs
        return self.n_docs

    def verify(self, spark, i: int) -> None:
        results = self.log_run.committed_results(spark)
        self.fail(wrong_rows(self.meta["ref"], digest(results)), "convert_commit digest")
        pdf = {
            r["url"]: r["sha"]
            for r in results.where(F.col("url").endswith(".pdf"))
            .select("url", F.sha2(F.col("extracted_text"), 256).alias("sha"))
            .collect()
        }
        want = self.meta["pdf_expected_sha"]
        self.fail(sum(pdf.get(u) != s for u, s in want.items()),
                  "convert_commit pdf_gen.expected_text")
        if list(self.chunks) != self.meta["chunks"]:
            self.fail(1, f"convert_commit chunks, urls {self.chunks} != {self.meta['chunks']}")
        shutil.rmtree(self._dir(i), ignore_errors=True)

    def sample(self):
        t = pq.read_table(self.meta["files"][0], columns=["url", "html"])
        rows = list(zip(t["url"].to_pylist(), t["html"].to_pylist()))
        html = [r for r in rows if not r[0].endswith(".pdf")][:150]
        pdf = [r for r in rows if r[0].endswith(".pdf")]
        return html, pdf

    def layers(self, spark, tr, spans, n_traced: int) -> dict:
        # the crash run extracts the first half of the groups and the
        # resume the rest: together one extraction of every document
        runs = spans_named(spans, "pipeline.run")
        docs = self.n_docs * max(1, n_traced)
        out = extraction_layers(runs, docs)
        out["extract_op.tasks"] = sum(s["incl_tasks"] for s in runs) / max(1, n_traced)
        html, pdf = self.sample()
        h = kernel_ms_per_doc(extract, html)
        p = kernel_ms_per_doc(extract_pdf, pdf)
        n_pdf = self.meta["n_pdf"]
        kernel = (h * (self.n_docs - n_pdf) + p * n_pdf) / self.n_docs
        out["extractor.html_ms_per_doc"] = h
        out["extractor.pdf_ms_per_doc"] = p
        out["extract_op.boundary_ratio"] = out["extract_op.python_cpu_ms_per_doc"] / kernel
        out["partitioning.shuffle_write_bytes"] = (
            sum(s["incl_shuffle_write_bytes"] for s in runs) / max(1, n_traced)
        )
        out["pipeline.build_s"] = mean_of(spans_named(spans, "pipeline.build"), "dur", n_traced)
        out["pipeline.run_self_s"] = mean_of(runs, "self")
        commits = spans_named(spans, "checkpoint.commit")
        out["checkpoint.commit_s"] = mean_of(commits, "dur")
        out["checkpoint.commits"] = len(commits) / max(1, n_traced)
        out["checkpoint.jobs_per_commit"] = mean_of(commits, "incl_jobs")
        resumes = spans_named(spans, "checkpoint.resume")
        out["checkpoint.resume_s"] = mean_of(resumes, "dur")
        resume_ids = {r["id"] for r in resumes}
        resume_runs = {s["id"] for s in runs if s["parent"] in resume_ids}
        scans = [s for s in spans_named(spans, "checkpoint.resume_scan")
                 if s["parent"] in resume_runs]
        out["checkpoint.resume_scan_s"] = mean_of(scans, "dur")
        out["chunker.chunk_s"] = mean_of(spans_named(spans, "chunker.chunk"), "dur")
        out["chunker.chunks_per_doc"] = self.chunks[0] / self.n_docs
        scans = []
        for _ in range(3):
            t0 = time.perf_counter()
            noop(self.pages.select("url", "html"))
            scans.append(time.perf_counter() - t0)
        out["sources.scan_s"] = statistics.median(scans)
        return out


class IngestSnapshots(Workload):
    """Sequential ``ingest_batch`` calls with planted re-posts of earlier
    committed documents, and the read side over the committed state."""

    name = "ingest_snapshots"
    # two measured batches per window; the warm batch before them is the
    # first to run the history stages, the coldest batch of a run
    MIN_STEPS = 2
    HISTORY = 100  # fresh docs of the untimed history batch
    FRESH = 200  # fresh docs per measured batch
    PLANT = 20  # exact and near re-posts of committed docs planted per batch (each)
    COPIES = 8  # copies of this batch's own docs per kind (_batch)
    MAX_BATCHES = 4  # the warm batch and three measured ones (a traced run)
    N_LOCATE = 8

    def generate(self, spark) -> dict:
        docs_dir = os.path.join(self.cache.dir, "documents")
        os.makedirs(docs_dir, exist_ok=True)
        n = self.HISTORY + self.FRESH * self.MAX_BATCHES
        pq.write_table(
            inputs.ingest_documents(self.seed, n),
            os.path.join(docs_dir, "documents.parquet"),
        )
        pages = readers.pages_from_documents(spark, docs_dir)
        docs = ingest.docs_from_extraction(extract_op.extract_documents(pages))
        out = os.path.join(self.cache.dir, "extracted")
        docs.coalesce(CORES).write.mode("overwrite").parquet(out)
        ids = sorted(r[0] for r in spark.read.parquet(out).select("doc_id").collect())
        random.Random(self.seed).shuffle(ids)
        return {
            "docs_dir": docs_dir,
            "extracted": out,
            "history": ids[: self.HISTORY],
            "fresh": ids[self.HISTORY :],
        }

    def prepare(self, spark) -> None:
        """Inputs, then the history the measured batches dedup against:
        one batch into a fresh state, then one warm batch shaped like a
        measured one, which has history; both committed and checked here,
        outside every timed interval."""
        super().prepare(spark)
        self.load(spark)
        self.state = os.path.join(self.run_dir, "state")
        shutil.rmtree(self.state, ignore_errors=True)
        self.committed: dict[int, str] = {}
        self._ingest(spark, 0, self.meta["history"], 0)
        self.verify(spark, -1)
        self._ingest(spark, 1, self.meta["fresh"][: self.FRESH], self.PLANT)
        self.verify(spark, -1)

    def load(self, spark) -> None:
        self.docs = spark.read.parquet(self.meta["extracted"])

    def _copies(self, ids, off: int, url, text):
        """Rows of ``ids`` under new doc ids (``doc_id + off``)."""
        return self.docs.where(F.col("doc_id").isin(ids)).select(
            (F.col("doc_id") + F.lit(off)).alias("doc_id"), url.alias("url"),
            text.alias("text"))

    def _batch(self, k: int, fresh_ids, n_plant: int):
        """Fresh documents, copies of some of them (exact, lightly edited,
        same url with a tracking parameter, blocked ftp scheme), and exact
        and lightly edited re-posts of documents committed earlier in this
        state. Returns the batch, its size and the ids of the copies that
        must not be kept: exact re-posts of committed documents, then the
        exact, same-url and ftp copies."""
        rng = random.Random(self.seed * 1000 + k)
        # re-post originals only: a kept copy's id is not in self.docs
        pool = sorted(i for i in self.committed if i < 1 << 56)
        picked = rng.sample(pool, min(len(pool), 2 * n_plant))
        own = rng.sample(sorted(fresh_ids), 4 * self.COPIES)
        c = self.COPIES
        mirror = F.concat(F.lit(f"https://mirror.example.org/{k}/"), F.col("doc_id").cast("string"))
        cache = F.concat(F.lit(f"https://cache.example.org/{k}/"), F.col("doc_id").cast("string"))
        ftp = F.concat(F.lit(f"ftp://files.example.org/{k}/"), F.col("doc_id").cast("string"))
        edited = F.concat(F.col("text"), F.lit(" Archived copy notice."))
        # (source ids, url, text, must be dropped); copy kind j gets doc
        # ids offset by (1 + 6k + j) << 56, above every extracted doc id
        kinds = [
            (picked[:n_plant], mirror, F.col("text"), True),
            (picked[n_plant:], cache, edited, False),
            (own[:c], mirror, F.col("text"), True),
            (own[c : 2 * c], cache, edited, False),
            (own[2 * c : 3 * c], F.concat(F.col("url"), F.lit("?utm_source=feed")), edited, True),
            (own[3 * c :], ftp, F.col("text"), True),
        ]
        batch = self.docs.where(F.col("doc_id").isin(fresh_ids))
        n = len(fresh_ids)
        dropped = []
        for j, (ids, url, text, drop) in enumerate(kinds):
            if not ids:
                continue
            off = (1 + 6 * k + j) << 56
            batch = batch.unionByName(self._copies(ids, off, url, text))
            n += len(ids)
            if drop:
                dropped.append([i + off for i in ids])
        planted = dropped.pop(0) if picked else []
        return batch, n, planted, [i for ids in dropped for i in ids]

    def _ingest(self, spark, k: int, fresh_ids, n_plant: int) -> int:
        batch, n, planted, copies = self._batch(k, fresh_ids, n_plant)
        res = ingest.ingest_batch(spark, batch, self.state, f"b{k:03d}")
        self.pending = (k, res, n, planted, copies)
        return n

    def _read(self, spark, tr) -> None:
        with tr.span("ingest.read"):
            with tr.span("ingest.latest"):
                n_latest = ingest.read_corpus_latest(spark, self.state).count()
            with tr.span("ingest.locate") as sp:
                df, files_read, files_total = ingest.locate_content(
                    spark, self.state, self.locate_hashes
                )
                found = [r[0] for r in df.select("content_hash").collect()]
                if sp is not None:
                    sp["files_read"], sp["files_total"] = files_read, files_total
        self.read_result = (n_latest, found)

    def _check_read(self) -> None:
        n_latest, found = self.read_result
        self.fail(abs(n_latest - len(self.committed)), "latest view row count")
        self.fail(wrong_rows(self.locate_hashes, found), "locate_content rows")

    def _sample_hashes(self, k: int) -> None:
        rng = random.Random(self.seed * 7919 + k)
        pool = sorted(set(self.committed.values()))
        self.locate_hashes = rng.sample(pool, min(len(pool), self.N_LOCATE))

    def warm(self, spark, rep: int) -> None:
        self._sample_hashes(-1 - rep)
        self._read(spark, probe.NoTracer())
        self._check_read()

    def step(self, spark, tr, i: int) -> int:
        ids = self.meta["fresh"][(i + 1) * self.FRESH : (i + 2) * self.FRESH]
        if len(ids) < self.FRESH:
            raise StopIteration
        self._sample_hashes(i)
        with tr.span("ingest.step"):
            n = self._ingest(spark, i + 2, ids, self.PLANT)
            self._read(spark, tr)
        self.attempted += n
        return n

    def verify(self, spark, i: int) -> None:
        """Checks the pending batch and records its digest (sorted kept
        hashes and ledger rows), which must also equal what every earlier
        run with this seed committed for the same batch."""
        k, res, n, planted, copies = self.pending
        kept = res.kept.select("doc_id", "content_hash").collect()
        hashes = [r["content_hash"] for r in kept]
        ledger = sorted(tuple(r) for r in res.ledger.select(
            "stage_order", "stage", "docs_in", "docs_dropped", "docs_kept").collect())
        stages = {r[1]: r for r in ledger}
        self.log(f"b{k} ledger: in {ledger[0][2]}, kept {ledger[-1][4]}, dropped "
                 + ", ".join(f"{r[1]} {r[3]}" for r in ledger if r[3]))
        self.fail(sum(c > 1 for c in Counter(hashes).values()), f"b{k} duplicate content_hash in batch")
        self.fail(len(set(hashes) & set(self.committed.values())), f"b{k} content_hash committed twice")
        self.fail(abs(ledger[0][2] - n), f"b{k} ledger docs_in")
        kept_ids = {r["doc_id"] for r in kept}
        self.fail(len(kept_ids & set(planted)), f"b{k} planted exact re-post kept")
        self.fail(len(kept_ids & set(copies)), f"b{k} exact, same-url or ftp copy kept")
        if planted:
            self.fail(abs(stages["history_exact"][3] - len(planted)), f"b{k} history_exact drops")
        self.committed.update({r["doc_id"]: r["content_hash"] for r in kept})
        digest_k = hashlib.sha256(repr((sorted(hashes), ledger)).encode()).hexdigest()
        self.fail(int(not self.cache.expect(f"b{k}", digest_k)),
                  f"b{k} differs from an earlier run with this seed")
        if i >= 0:
            self._check_read()

    def layers(self, spark, tr, spans, n_traced: int) -> dict:
        batches = spans_named(spans, "ingest.batch")
        nb = max(1, len(batches))
        loc = spans_named(spans, "ingest.locate")
        return {
            "ingest.batch_commit_s": statistics.median([s["dur"] for s in batches]) if batches else 0.0,
            "ingest.self_s": mean_of(batches, "self"),
            "ingest.jobs_per_batch": mean_of(batches, "incl_jobs"),
            "ingest.stages_per_batch": mean_of(batches, "incl_stages"),
            "ingest.tasks_per_batch": mean_of(batches, "incl_tasks"),
            "ingest.py4j_calls_per_batch": mean_of(batches, "py4j_calls"),
            "curation.build_s": mean_of(spans_named(spans, "curation.build"), "dur", nb),
            "minhash_index.write_s": mean_of(spans_named(spans, "minhash_index.write"), "dur", nb),
            "sinks.shards_write_s": mean_of(spans_named(spans, "sinks.shards_write"), "dur", nb),
            "zonemap.update_s": mean_of(spans_named(spans, "zonemap.update"), "dur", nb),
            "bloom_index.update_s": mean_of(spans_named(spans, "bloom_index.update"), "dur", nb),
            "ingest.read_s": mean_of(spans_named(spans, "ingest.read"), "dur"),
            "ingest.latest_s": mean_of(spans_named(spans, "ingest.latest"), "dur"),
            "ingest.locate_s": mean_of(loc, "dur"),
            "bloom_index.files_read_frac":
                sum(s["files_read"] for s in loc) / max(1, sum(s["files_total"] for s in loc)),
        }


WORKLOADS = {w.name: w for w in (ConvertCommit, IngestSnapshots)}
