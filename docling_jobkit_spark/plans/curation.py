"""End-to-end web-corpus curation funnel: the FineWeb/RefinedWeb-shaped
pipeline a training-data team runs monthly, assembled from this repo's
exactly-tested operators in the published stage order (RefinedWeb
Fig. 2 / Penedo et al. 2023; FineWeb technical report 2024):

  1. url_filter      — scheme allowlist, domain/extension blocklists
  2. lang_filter     — n-gram lang-ID ∈ allowed set
  3. gopher_quality  — length / repetition / token-shape gate
  4. exact_dedup     — content-hash keep-first among survivors
  5. url_dedup       — canonical-url keep-first among survivors
  6. fuzzy_dedup     — MinHash/LSH → connected components → keep the
                       canonical (minimum-id) member per cluster
  7. decontaminate   — benchmark k-gram overlap drop
  8. pii_redact      — TRANSFORM, not a drop: typed-mask redaction

Reference parity: docling-jobkit chains its convert → chunk → export
stages behind one job config (reference docling_jobkit/convert/manager
pipeline assembly); this is the same composite-plan posture applied to
the curation stage family the build brief adds.

Posture — stamps and a LEDGER, never silent drops:

- Every document is stamped with ``drop_stage`` / ``drop_reason`` (the
  FIRST failing stage wins; NULL = kept). The audit question "why did
  doc X disappear?" is a point lookup, and re-running a single stage's
  policy doesn't re-run the corpus.
- ``ledger`` is the per-stage attrition report (stage_order, stage,
  docs_in, docs_dropped, docs_kept) — the dataset-card funnel table,
  derived from ONE lazy aggregation over the stamps (one row per stage,
  exploded from the single aggregate row — never createDataFrame(list),
  repo invariant).
- Stage semantics are SEQUENTIAL: each dedup family elects its
  keep-first representative among the docs that SURVIVED every earlier
  stage (dropping a cluster's canonical via the URL filter must
  promote the next surviving member, not delete the whole cluster) —
  pinned against independently-applied operators in tests.

Scale shape: the stateless gates (1-3, 8) are codegen projections plus
gopher's one aggregation pipeline; each dedup stage computes on narrow
(id, key) projections (Catalyst column-prunes the window/agg sides),
and its verdict side is DUPLICATION-BOUNDED (one row per dropped doc),
so every flag join-back onto the payload is AQE-broadcastable in the
common case. All stamp joins share the doc-id key, so the payload
crosses at most one hash partitioning that consecutive joins reuse.
No cartesian anywhere and the payload column is never a shuffle key
(plan-pinned in tests/test_curation.py)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import content_hash
from docling_jobkit_spark.operators.decontam import contamination
from docling_jobkit_spark.operators.dedup import (
    minhash_near_duplicates,
    near_dup_clusters,
    spread_for_compute,
)
from docling_jobkit_spark.operators.pii import pii_signals
from docling_jobkit_spark.operators.textstats import gopher_stamp, lang_id
from docling_jobkit_spark.operators.webfilter import canonical_url, url_filter

STAGES = (
    "url_filter",
    "lang_filter",
    "gopher_quality",
    "exact_dedup",
    "url_dedup",
    "fuzzy_dedup",
    "decontaminate",
    "pii_redact",
)


@dataclass(frozen=True)
class CurationConfig:
    blocked_domains: tuple[str, ...] = ()
    blocked_exts: tuple[str, ...] = ()
    allowed_schemes: tuple[str, ...] = ("http", "https")
    allowed_langs: tuple[str, ...] = ("en", "de", "fr", "es", "it")
    gopher_kwargs: dict = field(default_factory=dict)
    minhash_threshold_num: int = 3
    minhash_threshold_den: int = 5
    contam_k: int = 5


@dataclass(frozen=True)
class CurationResult:
    stamped: DataFrame  # every input doc + drop_stage/drop_reason + stamps
    kept: DataFrame  # survivors, text REPLACED by redacted_text
    ledger: DataFrame  # per-stage attrition report


def _first_drop(df: DataFrame, cond, stage: str, reason) -> DataFrame:
    """Assign (drop_stage, drop_reason) where not already dropped."""
    fresh = F.col("drop_stage").isNull() & cond
    return df.withColumn(
        "drop_reason",
        F.when(fresh, reason).otherwise(F.col("drop_reason")),
    ).withColumn(
        "drop_stage",
        F.when(fresh, F.lit(stage)).otherwise(F.col("drop_stage")),
    )


def _drop_flagged(
    df: DataFrame, flagged: DataFrame, id_col: str, stage: str, reason
) -> DataFrame:
    """Left-join a DUPLICATION-BOUNDED (id,) drop set back onto the
    stamped frame — AQE broadcasts the flagged side in the common case;
    the payload never shuffles."""
    flagged = flagged.select(F.col(id_col), F.lit(True).alias("_flag"))
    out = _first_drop(
        df.join(flagged, on=id_col, how="left"),
        F.col("_flag").isNotNull(),
        stage,
        reason,
    )
    return out.drop("_flag")


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: CurationConfig | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str = "url",
) -> CurationResult:
    """Run the 8-stage funnel. ``docs`` needs (id, url, text); the
    benchmark (decontamination target) is optional — without it stage 7
    drops nothing. Returns stamps + survivors + the attrition ledger."""
    cfg = config or CurationConfig()

    # Every stage below is per-doc interpreted compute (lang-ID n-grams,
    # Gopher repetition fractions, PII regexes, minhash signing) fed by
    # this one scan — a small input's 2-3 file splits would serialize
    # the WHOLE funnel on 2-3 tasks (measured: stages 1-3 alone cost
    # 8.9 s at 3 tasks vs ~1.5 s spread at sf0.1). No-op at corpus
    # scale where the scan already has >= shuffle-partitions splits.
    docs = spread_for_compute(docs, key=id_col)

    # -- 1-3: stateless gates (verdicts computed for every doc; the
    # first-fail precedence turns them into the funnel order) ---------
    s = url_filter(
        docs,
        url_col=url_col,
        blocked_domains=cfg.blocked_domains,
        blocked_exts=cfg.blocked_exts,
        allowed_schemes=cfg.allowed_schemes,
    )
    s = s.withColumn("drop_stage", F.lit(None).cast("string")).withColumn(
        "drop_reason", F.lit(None).cast("string")
    )
    s = _first_drop(s, ~F.col("url_ok"), "url_filter", F.col("url_reject_reason"))

    lang = lang_id(text_col)
    s = _first_drop(
        s,
        ~lang.isin(*cfg.allowed_langs),
        "lang_filter",
        F.concat(F.lit("lang:"), lang),
    )

    # verdict computed IN PLACE on the stamped chain (gopher_stamp):
    # the former spelling ran gopher_filter as a SECOND scan branch of
    # the corpus and equi-joined the (id, verdict) rows back on — one
    # whole extra evaluation of the docs lineage plus a join exchange,
    # for columns that are a pure projection of the text (guide §2.4).
    # Bit-identical stamped output (A/B-collected; pinned by
    # test_curation's stage-agreement suite).
    s = _first_drop(
        gopher_stamp(s, text_col, **cfg.gopher_kwargs),
        ~F.col("quality_ok"),
        "gopher_quality",
        F.col("quality_reject_reason"),
    )

    # Truncate the gate lineage BEFORE the dedup stages: each dedup
    # stage consumes the stamped frame TWICE (the narrow key projection
    # and the flag join-back base), so without a materialization the
    # interpreted stage-1-3 chain (lang n-grams + the gopher rep fold)
    # re-evaluates once per consumer — measured at sf0.1: stages 1-5
    # 27.0 → 17.9 CPU-s / 3.05 → 1.68 s wall with this checkpoint,
    # bit-identical rows. The dedup windows keep their narrow
    # projections (payload never enters a window exchange).
    s = s.localCheckpoint(eager=False)

    # -- 4+5: exact dedup, then canonical-url dedup, among survivors
    # (keep-first = smallest id), as ONE plan fragment. Stage 5's
    # election runs over stage 4's survivors exactly as the sequential
    # spelling did — the url window is filtered to hash-election winners
    # (_rh == 1), which IS the stage-4 survivor set among gate
    # survivors — but both elections now read ONE narrow projection of
    # the checkpointed frame (one consumer pass instead of two) and the
    # disjoint flag sets (_rh > 1 vs _rh == 1 ∧ _ru > 1) join back
    # in ONE bounded broadcast instead of two (guide §2.4: fewer
    # sequential exchanges; A/B'd byte-identical stamped/ledger/kept).
    surv = s.where(F.col("drop_stage").isNull())
    narrow = surv.select(
        F.col(id_col),
        content_hash(F.col(text_col)).alias("_kh"),
        canonical_url(url_col).alias("_ku"),
    )
    wh = Window.partitionBy("_kh").orderBy(F.asc(id_col))
    ranked = narrow.withColumn("_rh", F.row_number().over(wh))
    wu = Window.partitionBy("_ku").orderBy(F.asc(id_col))
    exact_dups = ranked.where(F.col("_rh") > 1).select(
        F.col(id_col),
        F.lit("exact_dedup").alias("_fstage"),
        F.lit("exact_duplicate").alias("_freason"),
    )
    url_dups = (
        ranked.where(F.col("_rh") == 1)
        .withColumn("_ru", F.row_number().over(wu))
        .where(F.col("_ru") > 1)
        .select(
            F.col(id_col),
            F.lit("url_dedup").alias("_fstage"),
            F.lit("url_duplicate").alias("_freason"),
        )
    )
    flags = exact_dups.unionByName(url_dups)
    s = s.join(flags, on=id_col, how="left")
    fresh = F.col("drop_stage").isNull() & F.col("_fstage").isNotNull()
    s = (
        s.withColumn(
            "drop_reason",
            F.when(fresh, F.col("_freason")).otherwise(F.col("drop_reason")),
        )
        .withColumn(
            "drop_stage",
            F.when(fresh, F.col("_fstage")).otherwise(F.col("drop_stage")),
        )
        .drop("_fstage", "_freason")
    )

    # Truncate the stage-1-5 lineage before the fan-out: the stamped
    # frame from here feeds THREE downstream executions (the fuzzy
    # stage's signature materialization, decontamination's k-gram
    # materialization, and the final checkpoint) — without this each of
    # them re-runs the url/lang/gopher/dedup chain from the scan.
    # Lazy: the fuzzy stage's first action materializes it inside its
    # own job (an eager checkpoint is a separate blocking driver job;
    # same blocks either way).
    s = s.localCheckpoint(eager=False)

    # -- 6: fuzzy dedup among survivors (clusters, keep canonical) ----
    surv = s.where(F.col("drop_stage").isNull())
    # spread=False: surv filters the checkpointed stamped frame, which
    # inherited the funnel-entry spread's width through the gate
    # projections and broadcast flag joins — the operator's own guard
    # cannot certify a LogicalRDD plan and would re-shuffle the
    # survivor text for nothing
    pairs = minhash_near_duplicates(
        surv.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
        threshold_num=cfg.minhash_threshold_num,
        threshold_den=cfg.minhash_threshold_den,
        spread=False,
    )
    clusters = near_dup_clusters(pairs)
    non_canonical = clusters.where(F.col("cluster_id") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    s = _drop_flagged(
        s, non_canonical, id_col, "fuzzy_dedup", F.lit("near_duplicate")
    )

    # -- 7: decontamination among survivors ---------------------------
    if benchmark is not None:
        surv = s.where(F.col("drop_stage").isNull())
        contam = contamination(
            surv.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            benchmark,
            k=cfg.contam_k,
            spread=False,  # same reasoning as the fuzzy stage
        )
        hits = contam.where(F.col("contaminated")).select(
            F.col("doc_id").alias(id_col)
        )
        s = _drop_flagged(
            s, hits, id_col, "decontaminate", F.lit("benchmark_overlap")
        )

    # -- 8: PII redaction (transform; drops nothing) -------------------
    s = pii_signals(s, text_col)

    # Three consumers (stamped / kept / ledger) share this lineage —
    # materialize once (repo invariant: multi-consumer lineage re-runs
    # the whole funnel per consumer otherwise). Lazy for the same
    # reason as the mid-funnel checkpoint.
    s = s.localCheckpoint(eager=False)
    kept = (
        s.where(F.col("drop_stage").isNull())
        .withColumn(text_col, F.col("redacted_text"))
        .drop("redacted_text")
    )
    return CurationResult(stamped=s, kept=kept, ledger=funnel_ledger(s))


def funnel_ledger(
    stamped: DataFrame, stages: tuple[str, ...] = STAGES
) -> DataFrame:
    """(stage_order, stage, docs_in, docs_dropped, docs_kept) — one row
    per stage, docs_in(k) = docs_in(k-1) - docs_dropped(k-1). ONE lazy
    aggregation over the stamps (the corpus total plus one drop count
    per stage, a single row) exploded into the stage rows: no job runs
    until the caller reads it, and there is no join and no window (an
    unpartitioned window pulls every row into one partition and logs a
    WindowExec warning per execution).

    ``stages`` lets composed plans that extend the funnel (the ingest
    plan's history-dedup stages) reuse the same arithmetic over their
    longer stage dimension."""
    counts = stamped.agg(
        F.count(F.lit(1)).alias("_total"),
        *[
            F.count(F.when(F.col("drop_stage") == st, 1)).alias(f"_d{i}")
            for i, st in enumerate(stages)
        ],
    )
    rows = []
    docs_in = F.col("_total")
    for i, st in enumerate(stages):
        dropped = F.col(f"_d{i}")
        rows.append(
            F.struct(
                F.lit(i).alias("stage_order"),
                F.lit(st).alias("stage"),
                docs_in.alias("docs_in"),
                dropped.alias("docs_dropped"),
                (docs_in - dropped).alias("docs_kept"),
            )
        )
        docs_in = docs_in - dropped
    return counts.select(F.inline(F.array(*rows))).orderBy("stage_order")
