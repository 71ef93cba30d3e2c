"""BM25 text retrieval over the extracted corpus.

Beyond the reference's own surface (build brief): once documents are
extracted at corpus scale, the first thing both curation and evaluation
teams ask for is *search over the corpus* — decontamination-by-retrieval
(pull the nearest corpus documents for each benchmark question and eye
the overlap), quality auditing ("show me what we kept about X"), and
hard-negative mining for training retrievers. The reference pipeline
(orchestration around per-document conversion,
``docling_jobkit/convert/chunked_processor.py``) has no query side at
all; this module adds the classic lexical baseline — Okapi BM25
(Robertson et al., TREC-3), the scoring function behind Lucene/
Elasticsearch defaults — as pure DataFrame algebra.

Shape (Spark-first, no UDFs anywhere):

- :func:`build_postings` — one scan of the corpus: tokenize (codegen
  ``split``/``filter``), ``posexplode``-free term explode, a single
  ``groupBy(doc, term)`` shuffle produces the postings list with exact
  integer term frequencies and document lengths. At 100 TB this is the
  one heavy shuffle, on uniform (doc, term) keys; it is computed once
  and reusable across every query batch (persist it partitioned/bucketed
  by ``term`` and probes prune to the query's terms at the file listing,
  same layout story as ``sinks.writers.write_bucketed``).
- :func:`bm25_topk` — scoring a query batch touches ONLY the postings
  rows whose term appears in some query: a broadcast join against the
  (tiny) query-term dim, a per-term document-frequency aggregate, one
  ``groupBy(query, doc)`` partial-aggregated sum, and a per-query top-k
  window. The corpus text is never rescanned and never reshuffled.

Cross-engine exactness (the repo's oracle discipline): tf, dl, df and N
are exact integers in both engines; ``avgdl`` enters the formula as the
exact ratio ``N/total_tokens`` of two driver-side bounded scalars; the
only transcendental is ``ln`` in the idf. Scores are therefore equal
across engines to ~1 ulp, so ranking quantizes the score (round 9) and
tie-breaks on ``doc_id`` — the same quantized-ordering pattern as the
PageRank operator. The exact DuckDB twin is pinned in
tests/test_retrieval.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import stable_hash64
from docling_jobkit_spark.functions.stamp import check_stamp, read_stamp, stamp

# BM25 free parameters (Robertson et al. defaults, same as Lucene)
DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

# Persisted-postings layout: hash-bucketed by term so a query batch
# prunes to its terms' buckets at the FILE LISTING (the presigned-layout
# pattern — ivf_presigned/ann_presigned). 256 buckets keeps directories
# coarse enough for multi-GB files at corpus scale.
TERM_BUCKET_COL = "term_bucket"
DEFAULT_TERM_BUCKETS = 256
BM25_STAMP_KEYS = ("bm25_n_buckets", "bm25_n_docs", "bm25_total_tokens")

# One token class, shared verbatim with the DuckDB twin: lowercase runs
# of [a-z0-9]. Both engines regex-split identically on this class (no
# \w, whose unicode semantics differ across engines).
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens of ``col`` (codegen, no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Postings list: one row per (doc, term) with exact integer ``tf``
    (term frequency) and ``dl`` (document token length).

    One corpus scan, one shuffle (the groupBy). ``dl`` is computed from
    the token array BEFORE the explode and rides the grouping key (it is
    functionally dependent on the doc id), so no second aggregate or
    join-back is needed.
    """
    toked = docs.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks")
    ).withColumn("dl", F.size("_toks").cast("long"))
    return (
        toked.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def term_bucket_col(term_col, n_buckets: int = DEFAULT_TERM_BUCKETS) -> Column:
    """Bucket id of a term — 56-bit sha prefix mod n (cross-engine
    ``stable_hash64``, NOT an engine-native hash, so the driver-side
    twin below and any other engine compute the same bucket)."""
    return F.pmod(stable_hash64(term_col), F.lit(n_buckets)).cast("int")


def _py_term_bucket(term: str, n_buckets: int = DEFAULT_TERM_BUCKETS) -> int:
    """Driver-side twin of :func:`term_bucket_col` (56-bit sha prefix)."""
    return int(hashlib.sha256(term.encode()).hexdigest()[:14], 16) % n_buckets


def write_postings(
    postings: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_TERM_BUCKETS,
    corpus_stats: tuple[int, int] | None = None,
) -> None:
    """Persist a postings list partitioned by term bucket. A probe for a
    query batch reads ONLY the buckets its terms hash to — partition
    pruning at the file listing, no index scan at all for the other
    ~n_buckets-1/n_buckets of the corpus vocabulary.

    ``corpus_stats`` = (n_docs, total_tokens) is stamped into the
    ``term`` column's metadata (a DATA column — partition columns drop
    metadata on read-back, the ivf_presigned lesson) so a probe needs no
    corpus access at all: :func:`bm25_topk` recovers N/avgdl from the
    index itself."""
    # n_buckets is ALWAYS stamped: a probe that assumed a different
    # bucket count would prune to the wrong files and return silently
    # wrong results — unstamped bucketed layouts therefore RAISE at
    # probe time (same posture as the minhash/IVF index stamps)
    meta: dict = {"bm25_n_buckets": int(n_buckets)}
    if corpus_stats is not None:
        n_docs, total_tokens = corpus_stats
        meta["bm25_n_docs"] = int(n_docs)
        meta["bm25_total_tokens"] = int(total_tokens)
    term = stamp("term", meta)
    (
        postings.select(
            term,
            *[c for c in postings.columns if c != "term"],
            term_bucket_col(F.col("term"), n_buckets).alias(TERM_BUCKET_COL),
        )
        .repartition(TERM_BUCKET_COL)
        .write.partitionBy(TERM_BUCKET_COL)
        .mode("overwrite")
        .parquet(path)
    )


def read_postings(spark, path: str) -> DataFrame:
    """Read back a :func:`write_postings` layout (bucket column intact —
    :func:`bm25_topk` uses it to prune)."""
    return spark.read.parquet(path)


def prune_to_query_buckets(
    postings: DataFrame, queries: list[tuple[str, str]], meta: dict,
) -> DataFrame:
    """Restrict a bucketed postings layout to the query terms' buckets —
    a predicate on the partition column, so it prunes at the FILE
    LISTING (plan-pinned in tests/test_retrieval.py; note the pin is on
    this frame, because inside :func:`bm25_topk` the scan sits below a
    localCheckpoint and the outer plan renders as Scan ExistingRDD).

    Raises on a bucketed layout without the ``bm25_n_buckets`` stamp:
    probing with an ASSUMED bucket count would prune to the wrong files
    and return silently wrong results."""
    check_stamp(
        meta,
        {"bm25_n_buckets": None},
        required=True,
        missing="bucketed postings without a bm25_n_buckets stamp — "
        "probing with an assumed bucket count would prune to the "
        "wrong files and return silently wrong results; rewrite "
        "the layout with write_postings",
    )
    nb = int(meta["bm25_n_buckets"])
    buckets = sorted(
        {
            _py_term_bucket(t, nb)
            for _, text in queries
            for t in _py_tokens(text)
        }
    )
    return postings.where(F.col(TERM_BUCKET_COL).isin(buckets))


def query_terms(spark, queries: list[tuple[str, str]]) -> DataFrame:
    """Literal (query_id, term) dim from ``[(query_id, query_text), ...]``.

    Duplicate terms within one query are collapsed (standard bag-of-words
    BM25 scores each distinct query term once; repeating a term in the
    query box should not double its weight here — if query-side tf ever
    matters, weight explicitly). Built via range(1)+explode per the repo
    invariant (createDataFrame(list) forks a python worker per
    default-parallelism partition).
    """
    pairs = []
    for qid, text in queries:
        seen = set()
        for t in _py_tokens(text):
            if t not in seen:
                seen.add(t)
                pairs.append((qid, t))
    if not pairs:
        raise ValueError("queries produced no terms")
    structs = F.array(
        *[
            F.struct(F.lit(qid).alias("query_id"), F.lit(t).alias("term"))
            for qid, t in pairs
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(structs).alias("q"))
        .select("q.query_id", "q.term")
    )


def _py_tokens(text: str) -> list[str]:
    """Driver-side twin of :func:`tokens` for literal query strings."""
    import re

    return [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]


def bm25_topk(
    docs: DataFrame | None,
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: DataFrame | None = None,
    corpus_stats: tuple[int, int] | None = None,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    score(q, d) = sum over matched terms t of
        idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))
    with the non-negative idf variant ``ln((N - df + 0.5)/(df + 0.5) + 1)``
    (the Lucene formulation — plain Robertson idf goes negative for terms
    in more than half the corpus and breaks the top-k ordering).

    Pass a precomputed ``postings`` (from :func:`build_postings` or read
    back from a :func:`write_postings` layout) to skip the corpus scan
    entirely — the batch-query path at scale. A bucketed layout prunes
    to the query terms' buckets at the file listing; corpus N/avgdl come
    from ``corpus_stats``, the stamped index metadata, or (last resort)
    a scan of ``docs``.

    Returns (query_id, rank, doc_id, score) with rank 1..k per query.
    Ranking is on the score quantized to 9 decimals, doc_id ascending as
    the tie-break, so the ordering is deterministic and engine-portable
    (float sums of ~|q| terms agree across engines well past 1e-9).
    Queries with fewer than k matching documents return fewer rows.
    """
    if postings is None:
        if docs is None:
            raise ValueError("need docs or postings")
        postings = build_postings(docs, id_col=id_col, text_col=text_col)
    spark = postings.sparkSession

    meta = read_stamp(postings, ["term"], BM25_STAMP_KEYS)
    if corpus_stats is None and "bm25_n_docs" in meta:
        corpus_stats = (int(meta["bm25_n_docs"]), int(meta["bm25_total_tokens"]))

    if corpus_stats is not None:
        n_docs, total_tokens = corpus_stats
    else:
        if docs is None:
            raise ValueError(
                "no corpus_stats, no stamped index metadata, and no docs "
                "to derive N/avgdl from"
            )
        # Corpus-level scalars: two exact integers, one bounded driver
        # round trip (the trained-model pattern — kmeans_centroids, bpe
        # merges). Embedded as literals they constant-fold into the
        # scoring codegen, and avgdl enters as the exact ratio
        # N/total_tokens so both engines compute bit-identical norms.
        n_docs, total_tokens = docs.select(
            F.count(F.lit(1)).cast("long"),
            F.sum(F.size(tokens(text_col))).cast("long"),
        ).first()
    if not n_docs or not total_tokens:
        raise ValueError("empty corpus (or corpus with no tokens)")

    if TERM_BUCKET_COL in postings.columns:
        postings = prune_to_query_buckets(postings, queries, meta)

    qterms = query_terms(spark, queries)
    # Only postings whose term occurs in some query survive — the
    # broadcast prunes the corpus-sized frame down to query-relevant
    # rows before any aggregate. Two consumers below (df aggregate +
    # scoring join), so materialize per the multi-consumer invariant.
    matched = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term")
        .localCheckpoint(eager=False)
    )

    # document frequency per (query-relevant) term: postings are unique
    # per (doc, term), so a plain count is df
    df_by_term = matched.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )

    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    # dl/avgdl == dl * N / total_tokens, all-literal except dl
    norm = F.lit(k1) * (
        F.lit(1.0 - b)
        + F.lit(b) * F.col("dl") * F.lit(float(n_docs)) / F.lit(float(total_tokens))
    )
    contrib = (idf * F.col("tf") / (F.col("tf") + norm)).alias("_contrib")

    scored = (
        matched.join(F.broadcast(df_by_term), "term")
        .join(F.broadcast(qterms), "term")
        .select("query_id", "doc_id", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("_contrib").alias("_score"))
        .withColumn("_score_q", F.round("_score", 9))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score_q").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("_score", 6).alias("score"),
        )
    )


def bm25_oracle_sql(
    queries: list[tuple[str, str]],
    k: int = 10,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """The exact DuckDB twin of :func:`bm25_topk` over the same corpus
    relation — same token class, same integer tf/dl/df, same idf, same
    quantized ranking. Kept next to the operator so the two formulas
    can only drift together."""
    values = ", ".join(
        f"('{qid}', '{t}')"
        for qid, text in queries
        for t in dict.fromkeys(_py_tokens(text))
    )
    return f"""
WITH docs AS ({docs_sql}),
toks AS (
  SELECT doc_id, t.term
  FROM docs,
       UNNEST(list_filter(string_split_regex(lower(text), '{TOKEN_SPLIT_RE}'),
                          x -> x <> '')) AS t(term)
),
posting AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM docs)::BIGINT AS n_docs,
         (SELECT count(*) FROM toks)::BIGINT AS total_tokens
),
qterm(query_id, term) AS (VALUES {values}),
dfreq AS (
  SELECT p.term, count(*)::BIGINT AS df
  FROM posting p SEMI JOIN qterm q ON p.term = q.term
  GROUP BY 1
),
scored AS (
  SELECT q.query_id, p.doc_id,
         sum(
           ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
           * p.tf
           / (p.tf + {k1} * (1.0 - {b}
              + {b} * dl.dl * (s.n_docs::DOUBLE) / (s.total_tokens::DOUBLE)))
         ) AS score
  FROM posting p
  JOIN qterm q ON p.term = q.term
  JOIN dfreq f ON p.term = f.term
  JOIN dl ON p.doc_id = dl.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(score, 9) DESC, doc_id ASC
         ) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, round(score, 6) AS score
FROM ranked WHERE rank <= {k}
"""
