"""End-to-end extraction pipeline (SURVEY §7 Phase 2-4).

The whole engine, declaratively:

    scan → admission filter → salted repartition → slice-explode big docs
    → mapInPandas(extract) → reassemble → union failure rows
    → results + metrics tables, committed per group, resumable.

Reference lifecycle being replaced (SURVEY §3.2, the multiproc CLI):
source iteration → DocumentChunk batching → mp.Pool(process_batch) →
BatchResult aggregation. Spark's scheduler plays the pool; commit groups
play the durable task state.

Scan multiplicity at scale (deliberate tradeoff, quantified):
- admission_split's admitted/rejected branches and the slice router's
  big/small branches are FILTERS of the same scan, so one commit group
  evaluates the (column-pruned: url+html) source 3× with slicing on and
  2× with it off, and the run loop does that once per group. The payload
  format adds no branch: the PDF/HTML decision is a per-row column, so
  "html", "pdf" and "auto" plan the same scans and Python operators.
  Filters-as-branches is what keeps failures as relational rows and
  admission ahead of the UDF; the alternatives are worse at 100 TB:
  persist() of the group slice duplicates a corpus-scale payload to
  executor storage, and routing inside the UDF forfeits scan-level
  pushdown of the gates.
- Mitigations that make the re-scans cheap in production: (1) lay the
  pages table out partitioned by the url-hash bucket — the commit-group
  predicate (a pmod of that bucket) then PRUNES partitions, so each
  group scans only its 1/n_commit_groups slice; (2) single-page corpora
  should run use_slicing=False (the bench does), which removes the
  big/small branch entirely; (3) the admission gates are cheap codegen
  predicates over bytes the extractor must read anyway — the marginal
  cost is I/O, not CPU, and column pruning keeps it to url+html.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_jobkit_spark.checkpoint import CommitLog
from docling_jobkit_spark.metrics import (
    partition_metrics,
    stamp_committed_at,
    with_lineage,
)
from docling_jobkit_spark.operators.admission import admission_split
from docling_jobkit_spark.operators.extract_op import extract_documents
from docling_jobkit_spark.operators.partitioning import (
    salted_repartition,
    url_bucket_col,
)
from docling_jobkit_spark.operators.slices import extract_documents_sliced


@dataclass
class PipelineConfig:
    max_bytes: int | None = 64 * 1024 * 1024   # admission size cap
    max_pages: int | None = None               # admission page-count cap
    num_partitions: int = 32                   # extraction parallelism
    n_buckets: int = 1024                      # url-hash bucket space
    n_commit_groups: int = 8                   # resume granularity
    pages_per_slice: int = 2                   # slice fan-out width
    slice_min_pages: int = 3                   # docs at/above this get sliced
    use_slicing: bool = True
    # Salted repartition moves the FULL html payload through a shuffle.
    # At scale that is only worth it when the scan partitioning is skewed
    # (many giant docs in one input split); otherwise rely on scan-time
    # file splitting (spark.sql.files.maxPartitionBytes) + slice-explode
    # of oversized docs, and keep the payload bytes off the shuffle.
    repartition: bool = True
    profile: str = "default"                   # extraction preset (T3 registry)
    # extractor choice for the binary column: "html" (default), "pdf"
    # (the whole corpus is PDFs), or "auto" (per-row %PDF- content
    # sniff, extract_op.pdf_sniff_col — Common-Crawl WARC payload mixes;
    # the reference resolves a backend per document, manager.py:1554-1565).
    # Every value plans the same operators: one map unsliced, three maps
    # and one reassembly sliced. NOTE: the admission max_pages gate counts
    # PAGE_BREAK markers, so PDF payloads pass it as single-page — giant
    # PDFs are still bounded by max_bytes and by the slice fan-out.
    payload_format: str = "html"


class ExtractionPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig | None = None):
        self.spark = spark
        self.config = config or PipelineConfig()

    # -- plan pieces ---------------------------------------------------

    def read_pages(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    def group_col(self):
        """Commit-group id: a deterministic fold of the url-hash bucket,
        so group membership never depends on run-time partitioning."""
        return F.pmod(
            url_bucket_col(self.config.n_buckets), F.lit(self.config.n_commit_groups)
        ).alias("commit_group")

    def extract(self, pages: DataFrame) -> DataFrame:
        """The core transform, without commit bookkeeping."""
        cfg = self.config
        admitted, rejected = admission_split(
            pages, max_bytes=cfg.max_bytes, max_pages=cfg.max_pages
        )
        if cfg.use_slicing:
            # assign the slice-reassembly identity BEFORE any shuffle:
            # monotonically_increasing_id over the (deterministic) scan
            # order survives task recomputation; assigning it after the
            # salted repartition would tie keys to shuffle fetch order
            # and could remap rows under retry (slices.py contract)
            admitted = admitted.withColumn(
                "_doc_key", F.monotonically_increasing_id()
            )
        if cfg.repartition:
            admitted = salted_repartition(admitted, cfg.num_partitions, cfg.n_buckets)
        if cfg.use_slicing:
            extracted = extract_documents_sliced(
                admitted,
                pages_per_slice=cfg.pages_per_slice,
                slice_min_pages=cfg.slice_min_pages,
                profile=cfg.profile,
                payload_format=cfg.payload_format,
            )
        else:
            extracted = extract_documents(
                admitted, profile=cfg.profile, payload_format=cfg.payload_format
            )
        return extracted.unionByName(rejected)

    # -- resumable run -------------------------------------------------

    def run(
        self,
        pages: DataFrame,
        output_root: str,
        run_id: str = "run-0",
        fail_after_groups: int | None = None,
    ) -> CommitLog:
        """Execute with per-group atomic commits; safe to re-run after a
        crash — committed groups are skipped, uncommitted replayed.

        ``fail_after_groups`` is a test hook that simulates a mid-job
        crash (the kill-and-rerun test of FIXTURES.md §6).
        """
        cfg = self.config
        log = CommitLog(output_root)
        pages_g = pages.withColumn("commit_group", self.group_col())
        todo = log.remaining_pages(self.spark, pages_g, F.col("commit_group"))

        done_count = 0
        committed = log.committed_groups()
        for gid in range(cfg.n_commit_groups):
            if gid in committed:
                continue
            if fail_after_groups is not None and done_count >= fail_after_groups:
                raise RuntimeError(f"injected crash after {done_count} groups")
            group_pages = todo.filter(F.col("commit_group") == gid).drop("commit_group")
            results = with_lineage(self.extract(group_pages), run_id)
            log.commit_group(gid, results)
            done_count += 1

        # metrics over the committed snapshot (exact even across retries)
        all_results = log.committed_results(self.spark)
        if all_results is not None:
            metrics = stamp_committed_at(partition_metrics(all_results))
            metrics.write.mode("overwrite").parquet(f"{output_root}/metrics")
        return log
