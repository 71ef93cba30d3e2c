"""Physical-plan audits — the .explain checks the 100 TB design relies on
(SURVEY §4): column pruning to the scan, filter pushdown, broadcast for
dim joins, no payload shuffle when repartition is disabled."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_admission_filters_pushed_to_scan(spark, pages_path):
    from docling_jobkit_spark.operators.admission import admission_split

    pages = spark.read.parquet(pages_path)
    admitted, _ = admission_split(pages, max_bytes=10_000)
    plan = _plan(admitted)
    # the null/size predicates must appear as data filters at the scan,
    # not only post-scan (parquet can't evaluate length(), but IsNotNull
    # reaches PushedFilters)
    assert "PushedFilters: [IsNotNull(html)]" in plan or "IsNotNull(html)" in plan


def test_extraction_scan_prunes_columns(spark, pages_path):
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pages = spark.read.parquet(pages_path)
    plan = _plan(extract_documents(pages))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "warc_ts" not in m.group(1) and "lang" not in m.group(1)


def test_dim_join_is_broadcast(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["join_multiway"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_payload_shuffle_when_repartition_disabled(spark, pages_path):
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark,
        PipelineConfig(use_slicing=False, repartition=False),
    )
    plan = _plan(pipe.extract(spark.read.parquet(pages_path)))
    assert "Exchange" not in plan  # html bytes never cross a shuffle


def test_topk_uses_takeordered(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["topk_customers"](spark, sf_dir))
    # global orderBy+limit must compile to TakeOrderedAndProject, not a
    # full sort of the table
    assert "TakeOrderedAndProject" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    import __spark_entry__ as e

    plan = _plan(e.queries()["agg_lineitem_q1"](spark, sf_dir))
    # map-side combine: two HashAggregate levels around the exchange
    assert plan.count("HashAggregate") >= 2


def test_slice_shuffle_carries_slice_bytes_not_documents(spark):
    """The slice fan-out's exchange must sit ABOVE the split (so only
    per-slice bytes move) and partition on (_doc_key, slice_index)."""
    from docling_jobkit_spark.operators.slices import split_slices, spread_slices

    df = spark.createDataFrame(
        [(0, "u", b"a<!--PAGE_BREAK-->b")], "_doc_key long, url string, html binary"
    )
    slices = spread_slices(split_slices(df, pages_per_slice=1), 8)
    plan = _plan(slices)
    assert "hashpartitioning(_doc_key" in plan
    # whole-document html never enters the exchange: the shuffled schema
    # is the slice schema. A standalone `html#N` attribute (negative
    # lookbehind excludes `slice_html#N`) must not appear ABOVE the
    # exchange — everything post-shuffle carries only slice bytes.
    assert "slice_html" in plan
    ex = plan.index("Exchange")
    assert not re.search(r"(?<![a-z_])html#", plan[:ex]), plan[:ex]
    # ...but the full column IS read below it (sanity that the regex can
    # see standalone html at all)
    assert re.search(r"(?<![a-z_])html#", plan[ex:])


def test_scalar_projection_queries_are_pure_codegen(spark, sf_dir):
    """uri_parts / lang_id / token_window_chunks: single-pass projections —
    no shuffle, no Python in the plan."""
    import __spark_entry__ as e

    for name in ("uri_parts", "lang_id", "token_window_chunks"):
        plan = _plan(e.queries()[name](spark, sf_dir))
        assert "Exchange" not in plan, name
        assert "EvalPython" not in plan and "MapInPandas" not in plan, name
        # executedPlan prints codegen stages as a "*(n)" node prefix
        assert "WholeStageCodegen" in plan or "*(" in plan, name


def test_dedup_families_never_plan_quadratic_joins(spark, sf_dir):
    """The near-dup/ANN candidate joins must be bucketed equi-joins —
    a cartesian or nested-loop join anywhere in these plans means the
    blocking broke and the operator is quadratic at scale."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in (
        "jaccard_pairs",
        "minhash_lsh",
        "simhash_pairs",
        "embedding_near_dup_lsh",
        "dedup_exact",
    ):
        plan = _plan(qs[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_commit_group_scan_multiplicity_bounded(spark, pages_path):
    """plans/pipeline.py documents a deliberate tradeoff: one commit
    group's plan evaluates the (column-pruned) source up to 4× — the
    admitted/rejected and big/small branches are filters of one scan.
    Pin the bound so a refactor can't silently multiply scans."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark, PipelineConfig(num_partitions=8, n_commit_groups=4, use_slicing=True)
    )
    pages = spark.read.parquet(pages_path).withColumn(
        "commit_group", pipe.group_col()
    )
    group = pages.filter(F.col("commit_group") == 0).drop("commit_group")
    plan = _plan(pipe.extract(group))
    n_scans = plan.count("Scan parquet")
    assert 1 <= n_scans <= 4, f"commit-group plan has {n_scans} parquet scans"


def test_commit_group_predicate_prunes_bucket_partitioned_layout(spark, pages_path, tmp_path):
    """The documented mitigation: lay the pages table out partitioned by
    the commit group and each group's predicate PRUNES partitions — every
    parquet scan in the group's plan carries the PartitionFilters, so the
    4× re-evaluation touches 1/n_commit_groups of the data, not 4× all
    of it."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark, PipelineConfig(num_partitions=8, n_commit_groups=4, use_slicing=True)
    )
    layout = str(tmp_path / "bucketed_pages")
    spark.read.parquet(pages_path).withColumn(
        "commit_group", pipe.group_col()
    ).write.partitionBy("commit_group").parquet(layout)

    pages = spark.read.parquet(layout)
    group = pages.filter(F.col("commit_group") == 0).drop("commit_group")
    plan = _plan(pipe.extract(group))
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    scans_with_pruning = [p for p in pf if "commit_group" in p]
    n_scans = plan.count("Scan parquet")
    assert n_scans >= 1
    assert len(scans_with_pruning) == n_scans, (
        f"{n_scans} scans but only {len(scans_with_pruning)} carry the "
        f"commit_group partition filter: {pf}"
    )


def test_repetition_signals_single_scan_no_join(spark, sf_dir):
    """All n-gram families must ride ONE scan of documents, computed
    PER DOCUMENT (sorted-run fold over hashed windows): no join back to
    the base table and — since the round-6 rewrite — no aggregation and
    no exchange beyond the parallelism spread: the per-(doc, n) stats
    never shuffle gram rows at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["repetition_signals"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    # zero gram shuffles: the only allowed exchange is the round-robin
    # spread of the raw rows (spread_for_compute at the entry)
    import re

    exchanges = re.findall(r"Exchange \w+", plan)
    assert all("RoundRobin" in e_ for e_ in exchanges), exchanges
    assert "HashAggregate" not in plan


def test_segment_dup_joins_on_hash_only(spark, sf_dir):
    """The corpus-frequency join must carry the 56-bit seg hash, never
    text; no broadcast-nested-loop / cartesian anywhere."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["segment_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [ln for ln in plan.splitlines() if "Join" in ln and "seg_hash" in ln]
    assert joins, "frequency join must key on seg_hash"
    assert not any("text" in ln for ln in joins)


def test_curation_filters_are_scan_fused(spark, sf_dir):
    """url_filter and pii_redact must stay pure projections: one scan,
    zero exchanges (the whole decision fuses into the scan stage)."""
    import __spark_entry__ as e

    for q in ("url_filter", "pii_redact"):
        plan = _plan(e.queries()[q](spark, sf_dir))
        assert "Exchange" not in plan, q
        assert plan.count("Scan parquet") == 1, q


def test_spread_for_compute_skips_already_spread_plans(spark, sf_dir):
    """A derived frame that already carries an exchange to >= target
    partitions must pass through unchanged (no redundant second
    shuffle); an under-parallel leaf still gets the spread."""
    from docling_jobkit_spark.operators.dedup import spread_for_compute

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    pre = docs.repartition(target)
    assert spread_for_compute(pre) is pre
    pre_keyed = docs.repartition(target * 2, "doc_id").select("doc_id", "text")
    assert spread_for_compute(pre_keyed) is pre_keyed

    # under-parallel: small repartition below target still gets spread
    small = docs.repartition(1)
    plan = _plan(spread_for_compute(small))
    assert f"RoundRobinPartitioning({target}" in plan

    # only the OUTERMOST repartition-like node certifies parallelism: a
    # coalesce applied AFTER a big repartition caps the partition count,
    # so the buried exchange must not skip the guard
    collapsed = docs.repartition(target * 2).coalesce(1)
    plan = _plan(spread_for_compute(collapsed))
    assert f"RoundRobinPartitioning({target}" in plan

    # a bare coalesce never certifies parallelism either
    coalesced = docs.coalesce(target * 2)
    plan = _plan(spread_for_compute(coalesced))
    assert f"RoundRobinPartitioning({target}" in plan


def test_curate_stamp_is_scan_fused(spark, sf_dir):
    """The batch twin of the streaming curation stamp must stay a pure
    projection: one scan, zero exchanges — the whole stamp fuses into
    the scan stage at any corpus size."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["curate_stamp"](spark, sf_dir))
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_ivf_presigned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The at-scale IVF layout: assignments materialized once and written
    partitionBy(ivf_cell); a probe's IN-list reaches the scan as a
    PartitionFilter, so only the probed cells' files are listed/opened —
    and the answer is row-identical to the scan-form ivf_topk."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.operators.similarity import (
        deterministic_centroids,
        ivf_topk,
        ivf_topk_presigned,
        probe_cells,
        with_ivf_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(emb, k=8)
    layout = str(tmp_path / "ivf_cells")
    with_ivf_cells(emb, cents).write.partitionBy("ivf_cell").parquet(layout)

    stored = spark.read.parquet(layout)
    q = [float(i % 7 - 3) / 4.0 for i in range(64)]
    top = ivf_topk_presigned(stored, q, cents, k=5, n_probe=2)
    plan = _plan(top)
    import re as _re

    pf = _re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    cell_filters = [p for p in pf if "ivf_cell" in p]
    assert cell_filters, f"no ivf_cell partition filter: {pf}"
    # the filter carries exactly the probed cells (inputFiles() would
    # list the relation's PRE-pruning files, so assert on the filter)
    probes = set(probe_cells(q, cents, 2))
    in_cells = {int(x) for x in _re.findall(r"-?\d+", cell_filters[0].split("IN")[-1])}
    assert in_cells == probes, f"filter cells {in_cells} != probes {probes}"
    # answer identical to the scan-form baseline
    scan_form = [tuple(r) for r in ivf_topk(emb, q, cents, k=5, n_probe=2).collect()]
    presigned = [tuple(r) for r in top.collect()]
    assert presigned == scan_form


def test_ivf_presigned_rejects_mismatched_codebook(spark, sf_dir):
    from docling_jobkit_spark.operators.similarity import (
        deterministic_centroids,
        ivf_topk_presigned,
        with_ivf_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(emb, k=8)
    assigned = with_ivf_cells(emb, cents)
    q = [0.1] * 64
    other = [[x + 1.0 for x in c] for c in cents]
    with pytest.raises(ValueError, match="different codebook"):
        ivf_topk_presigned(assigned, q, other, k=5, n_probe=2)
    with pytest.raises(ValueError, match="k=8"):
        ivf_topk_presigned(assigned, q, cents[:4], k=5, n_probe=2)
    with pytest.raises(ValueError, match="ivf_cell missing"):
        ivf_topk_presigned(emb, q, cents, k=5, n_probe=2)


def test_bucketed_tables_join_without_exchange(spark, sf_dir, tmp_path):
    """Co-located join: two tables bucketed by the same key into the
    same bucket count must join with ZERO exchanges (and, with sortBy on
    the key, zero per-task sorts) — the repeated big-big join layout at
    corpus scale. Also pins the negative: the same join over plain
    parquet shuffles both sides."""
    from pyspark.sql import functions as F

    from docling_jobkit_spark.sinks import write_bucketed

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        feats = docs.select("doc_id", F.length("text").alias("n_chars_f"))
        write_bucketed(docs.select("doc_id", "lang"), "bkt_docs", "doc_id", 4,
                       sort_col="doc_id")
        write_bucketed(feats, "bkt_feats", "doc_id", 4, sort_col="doc_id")
        joined = spark.table("bkt_docs").join(spark.table("bkt_feats"), "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, "bucketed co-located join must not shuffle"
        assert joined.count() == docs.count()

        # negative control: plain parquet layout shuffles
        plain = docs.select("doc_id", "lang").join(feats, "doc_id")
        assert "Exchange" in _plan(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("drop table if exists bkt_docs")
        spark.sql("drop table if exists bkt_feats")


def test_pdf_extraction_scan_prunes_columns(spark, pages_path):
    """Every payload format prunes the parquet scan to (url, payload)
    exactly like the HTML flagship — at corpus scale the other columns
    never leave the footers."""
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pages = spark.read.parquet(pages_path)
    for fmt in ("html", "pdf", "auto"):
        plan = _plan(extract_documents(pages, payload_format=fmt))
        m = re.search(r"ReadSchema: ([^\n]*)", plan)
        assert m and "warc_ts" not in m.group(1) and "lang" not in m.group(1)


@pytest.mark.parametrize(
    "fmt,slicing", [(f, s) for f in ("html", "pdf", "auto") for s in (False, True)]
)
def test_extraction_python_operators(spark, pages_path, fmt, slicing):
    """One extraction operator for every payload format: the PDF/HTML
    decision is a per-row column, so no format adds a branch. Unsliced
    is one map; sliced is splitter + direct map + slice extractor, one
    reassembly, and one spread exchange on (_doc_key, slice_index) (the
    other _doc_key exchange is the reassembly's grouping)."""
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig

    pipe = ExtractionPipeline(
        spark,
        PipelineConfig(num_partitions=4, payload_format=fmt, use_slicing=slicing),
    )
    df = pipe.extract(spark.read.parquet(pages_path))
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("MapInPandas") == (3 if slicing else 1), opt
    assert opt.count("FlatMapGroupsInPandas") == (1 if slicing else 0), opt
    plan = _plan(df)
    spread = re.findall(r"hashpartitioning\(_doc_key#\d+L, slice_index#\d+", plan)
    assert len(spread) == (1 if slicing else 0), plan
    assert plan.count("hashpartitioning(_doc_key") == (2 if slicing else 0), plan


def test_pdf_slice_routing_estimate_is_jvm_side(spark, pages_path):
    """The sliced router's page-count estimate must plan as a codegen
    projection — no Python/Arrow eval node on the admission path."""
    from docling_jobkit_spark.operators.slices import pdf_page_count_col

    pages = spark.read.parquet(pages_path)
    plan = _plan(pages.select(pdf_page_count_col("html").alias("n")))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _barrier_frames(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda".split()

    def text(i):
        base = " ".join(words[(i + j) % 11] for j in range(9))
        return f"{base} doc{i % 6}\nsecond line of page {i % 4} has words.\n{base}"

    docs = spark.createDataFrame(
        [(i, text(i), "en") for i in range(20)], "doc_id long, text string, lang string"
    )
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)], i % 2) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    return docs, emb


_CENTS = [[1.0] * 8, [d - 3.5 for d in range(8)], [(-1.0) ** d for d in range(8)]]


def _barrier_operator(name, docs, emb):
    from docling_jobkit_spark.operators.c4_filters import c4_line_filter
    from docling_jobkit_spark.operators.decontam import contamination_fuzzy_pairs
    from docling_jobkit_spark.operators.dedup import (
        jaccard_pairs,
        minhash_near_duplicates,
    )
    from docling_jobkit_spark.operators.minhash_index import (
        banded_signatures,
        near_dup_pairs_against_index,
    )
    from docling_jobkit_spark.operators.semdedup import (
        semantic_duplicates,
        with_semdedup_rank,
    )
    from docling_jobkit_spark.operators.similarity import (
        embedding_near_duplicates,
        ivf_assign,
    )
    from docling_jobkit_spark.operators.substring_dedup import exact_substring_dedup
    from docling_jobkit_spark.operators.textstats import gopher_filter, gopher_stamp

    return {
        "jaccard_pairs": lambda: jaccard_pairs(docs, prefix_filter=True),
        "minhash_near_duplicates": lambda: minhash_near_duplicates(docs),
        "contamination_fuzzy_pairs": lambda: contamination_fuzzy_pairs(
            docs, docs.where("doc_id < 5")
        ),
        "near_dup_pairs_against_index": lambda: near_dup_pairs_against_index(
            docs, banded_signatures(docs)
        ),
        "with_semdedup_rank": lambda: with_semdedup_rank(emb, _CENTS),
        "semantic_duplicates": lambda: semantic_duplicates(emb, _CENTS),
        "embedding_near_duplicates": lambda: embedding_near_duplicates(emb, 0.9),
        "ivf_assign": lambda: ivf_assign(emb, _CENTS),
        "gopher_filter": lambda: gopher_filter(docs),
        "gopher_stamp": lambda: gopher_stamp(docs),
        "c4_line_filter": lambda: c4_line_filter(docs),
        "exact_substring_dedup": lambda: exact_substring_dedup(docs),
    }[name]()


# (operator, the fold its single_eval guards, Generate explode(array(...))
# count, fold count) over the optimized plans of the result and of every
# frame it localCheckpoints — pinned from the plans before single_eval
# existed. A Spark upgrade that drops the barrier, or a rewrite that
# re-inlines the fold, changes one of the counts.
_BARRIER_PLANS = [
    ("jaccard_pairs", "array_intersect(", 1, 2),
    ("minhash_near_duplicates", "zip_with(", 3, 2),
    ("contamination_fuzzy_pairs", "zip_with(", 3, 3),
    ("near_dup_pairs_against_index", "zip_with(", 3, 3),
    ("with_semdedup_rank", "aggregate(", 1, 2),
    ("semantic_duplicates", "aggregate(", 2, 5),
    ("embedding_near_duplicates", "aggregate(", 1, 3),
    ("ivf_assign", "aggregate(", 1, 2),
    ("gopher_filter", "aggregate(", 1, 1),
    ("gopher_stamp", "aggregate(", 1, 1),
    ("c4_line_filter", "filter(", 1, 1),
    ("exact_substring_dedup", "split(", 1, 1),
]


@pytest.mark.parametrize(
    "name,fold,n_generate,n_fold", _BARRIER_PLANS, ids=[p[0] for p in _BARRIER_PLANS]
)
def test_single_eval_barrier_in_plan(spark, monkeypatch, name, fold, n_generate, n_fold):
    docs, emb = _barrier_frames(spark)
    plans = []
    checkpoint = type(docs).localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", recording_checkpoint)
    out = _barrier_operator(name, docs, emb)
    plans.append(out._jdf.queryExecution().optimizedPlan().toString())
    text = "\n".join(plans)
    assert text.count("Generate explode(array(") == n_generate, text[:3000]
    assert text.count(fold) == n_fold, text[:3000]


def test_barrier_and_stamps_have_one_home():
    """The Generate barrier is spelled only in ``single_eval`` (profiling's
    multi-row report explode is a real explode), and field metadata is
    read or written only in ``functions/stamp.py`` (zonemap's parquet
    footer ``pf.metadata`` is file metadata, not a field stamp)."""
    import inspect
    import pathlib

    import docling_jobkit_spark
    from docling_jobkit_spark.functions.scalar import single_eval

    root = pathlib.Path(docling_jobkit_spark.__file__).parent
    for path in root.rglob("*.py"):
        name = path.relative_to(root).as_posix()
        src = path.read_text()
        if name == "functions/scalar.py":
            src = src.replace(inspect.getsource(single_eval), "")
        if name != "operators/profiling.py":
            assert "F.explode(F.array(" not in src, f"{name}: use single_eval"
        if name == "operators/zonemap.py":
            src = src.replace("pf.metadata", "")
        if name != "functions/stamp.py":
            assert not re.search(r"\.metadata\b|metadata=", src), (
                f"{name}: stamp through functions/stamp.py"
            )


def test_extraction_dispatch_has_one_home():
    """Each extractor entry point is called from ONE function in
    operators/: whole documents (direct rows and sub-PDF slices) go
    through ``extract_op.extract_one``, HTML page slices through
    ``slices._extract_slice_batches``. The PDF/HTML decision is the JVM
    column ``pdf_sniff_col`` (``is_pdf``'s twin, pinned equal in
    test_pdf), so no operator calls ``is_pdf``. A second call site would
    re-fork the extraction path per format."""
    import ast
    import pathlib

    import docling_jobkit_spark.operators as ops

    names = ("extract", "extract_pdf", "extract_page_range", "is_pdf")
    sites: dict[str, set[str]] = {n: set() for n in names}
    for path in pathlib.Path(ops.__file__).parent.glob("*.py"):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in sites:
                    sites[name].add(f"{path.stem}.{getattr(top, 'name', '<module>')}")
    assert sites == {
        "extract": {"extract_op.extract_one"},
        "extract_pdf": {"extract_op.extract_one"},
        "extract_page_range": {"slices._extract_slice_batches"},
        "is_pdf": set(),
    }, sites


def test_twin_algorithms_have_one_home():
    """Each algorithm is written in ONE top-level function under
    operators/: the chunk-row dict (its ``"raw_text"`` key) in the one
    chunk-window sweep, the HLL bucket/rho arithmetic (``shiftright`` of
    the hash beside ``length(bin(r))``) and the HLL estimator's scaled
    ``shiftleft`` for global and grouped sketches alike, the band slice
    of ``sig`` in the one MinHash banding, and the signature-agreement
    ``zip_with(..., a == b)`` fold in the one band-join probe. A second
    site is a twin that can drift from the first."""
    import ast
    import pathlib

    import docling_jobkit_spark.operators as ops

    def call_name(node):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    def is_const(node, value):
        return isinstance(node, ast.Constant) and node.value == value

    sites: dict[str, set[str]] = {
        k: set() for k in ("chunk_row", "hll_rho", "hll_estimator", "band_slice", "agreement")
    }
    for path in pathlib.Path(ops.__file__).parent.glob("*.py"):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            where = f"{path.stem}.{getattr(top, 'name', '<module>')}"
            calls = set()
            for node in ast.walk(top):
                if isinstance(node, ast.Dict) and any(
                    is_const(k, "raw_text") for k in node.keys
                ):
                    sites["chunk_row"].add(where)
                if isinstance(node, ast.Constant) and isinstance(node.value, str):
                    if node.value == " - register)":  # 2^(S+1-register)
                        sites["hll_estimator"].add(where)
                if not isinstance(node, ast.Call):
                    continue
                name = call_name(node)
                calls.add(name)
                if name == "slice" and node.args and is_const(node.args[0], "sig"):
                    sites["band_slice"].add(where)
                if (
                    name == "zip_with"
                    and len(node.args) == 3
                    and isinstance(node.args[2], ast.Lambda)
                    and isinstance(node.args[2].body, ast.Compare)
                    and isinstance(node.args[2].body.ops[0], ast.Eq)
                ):
                    sites["agreement"].add(where)
            if {"shiftright", "bin"} <= calls:
                sites["hll_rho"].add(where)
    assert sites == {
        "chunk_row": {"chunker._window_loop"},
        "hll_rho": {"sketches._hll_table"},
        "hll_estimator": {"sketches._hll_estimates"},
        "band_slice": {"dedup._minhash_bands"},
        "agreement": {"minhash_index._agreeing_pairs"},
    }, sites

    index_src = (pathlib.Path(ops.__file__).parent / "minhash_index.py").read_text()
    for node in ast.walk(ast.parse(index_src)):
        if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("decontam"):
            private = [a.name for a in node.names if a.name.startswith("_")]
            assert not private, f"minhash_index imports {private} from decontam"
