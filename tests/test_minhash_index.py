"""Persisted MinHash band index (operators/minhash_index.py): exact
DuckDB twin of the incremental probe, family-identity stamping
(mismatch/unstamped indexes refuse to serve), append==rebuild
maintenance, probe-before-append semantics, and the broadcast-probe
plan pin (the index side never shuffles)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_jobkit_spark.functions.scalar import tokens
from docling_jobkit_spark.operators.dedup import (
    _HALF,
    _PERMS,
    BANDS,
    MINHASH_PRIME,
    N_HASHES,
    ROWS_PER_BAND,
)
from docling_jobkit_spark.operators.minhash_index import (
    FAMILY_META_KEY,
    banded_signatures,
    dedup_incremental,
    minhash_family_digest,
    near_dup_pairs_against_index,
    read_minhash_index,
    update_minhash_index,
    write_minhash_index,
)

TAU = 0.7
_NEW_OFFSET = 1_000_000


def _perms_sql() -> str:
    mask = _HALF - 1
    return ", ".join(
        f"list_min(list_transform(hs, x -> ((x >> 30) * {a} + (x & {mask}) * {c} + {b}) % {MINHASH_PRIME}))"
        for a, c, b in _PERMS
    )


# New snapshot = every 4th doc re-crawled: %8==0 unchanged (exact
# re-fetch → 64/64 agreement), the rest truncated to the first 90% of
# tokens (lightly edited). The history index is the full corpus.
def _twin_sql(path: str, min_agree: int) -> str:
    r = ROWS_PER_BAND
    return f"""
        with docs as (
          select doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') as words
          from read_parquet('{path}/documents.parquet')
        ), new_docs as (
          select doc_id + {_NEW_OFFSET} as doc_id,
                 case when doc_id % 8 = 0 then words
                      else words[1:greatest(floor(len(words) * 0.9), 1)::int]
                 end as words
          from docs where doc_id % 4 = 0
        ), both_sides as (
          select 'i' as side, doc_id, words from docs
          union all
          select 'n' as side, doc_id, words from new_docs
        ), sh as (
          select side, doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(words) - 2, 1) + 1),
                   i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
                 as shingles
          from both_sides
        ), hs as (
          select side, doc_id,
                 list_transform(shingles,
                   s -> ('0x' || substr(sha256(s), 1, 15))::ubigint::bigint)
                 as hs
          from sh where len(shingles) > 0
        ), sig as (
          select side, doc_id, [{_perms_sql()}] as sig from hs
        ), bands as (
          select side, doc_id, sig,
                 unnest(generate_series(0, {BANDS - 1})) as band
          from sig
        ), keyed as (
          select side, doc_id, sig, band,
                 ('0x' || substr(sha256(
                    to_json(sig[band*{r}+1 : band*{r}+{r}])::varchar
                  ), 1, 15))::ubigint::bigint as bucket
          from bands
        ), pairs as (
          select distinct n.doc_id as doc_id, i.doc_id as index_id,
                 len(list_filter(range(1, {N_HASHES} + 1),
                     i2 -> n.sig[i2] = i.sig[i2]))::int as n_agree
          from keyed n join keyed i
            on n.band = i.band and n.bucket = i.bucket
          where n.side = 'n' and i.side = 'i'
        ), hits as (
          select doc_id, index_id, n_agree,
                 round(n_agree / {N_HASHES}.0, 6) as est_jaccard
          from pairs where n_agree >= {min_agree}
        )
        select nd.doc_id,
               coalesce(h.n_index_hits, 0) as n_index_hits,
               h.max_est_jaccard,
               h.n_index_hits is not null as is_dup
        from new_docs nd
        left join (
          select doc_id, count(*)::int as n_index_hits,
                 max(est_jaccard) as max_est_jaccard
          from hits group by doc_id
        ) h using (doc_id)
        order by nd.doc_id
    """


def _new_snapshot(docs):
    toks = tokens(F.col("text"))
    take = F.greatest(F.floor(F.size(toks) * 0.9), F.lit(1)).cast("int")
    return docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _NEW_OFFSET).alias("doc_id"),
        F.when(F.col("doc_id") % 8 == 0, F.col("text"))
        .otherwise(F.array_join(F.slice(toks, F.lit(1), take), " "))
        .alias("text"),
    )


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def index_path(spark, docs, tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("mhidx")), "index")
    write_minhash_index(docs, path)
    return path


def test_incremental_probe_matches_duckdb_exactly(spark, sf_dir, docs, index_path):
    idx = read_minhash_index(spark, index_path)
    got = [
        tuple(r)
        for r in dedup_incremental(_new_snapshot(docs), idx, tau=TAU)
        .orderBy("doc_id")
        .collect()
    ]
    min_agree = int(math.ceil(N_HASHES * TAU - 1e-9))
    want = duckdb.sql(_twin_sql(sf_dir, min_agree)).fetchall()
    assert got == want
    # discrimination sanity: unchanged re-crawls are exact signature
    # matches of their originals — every %8 doc must be a dup at 64/64
    by_id = {r[0]: r for r in got}
    for doc_id, _, max_j, is_dup in got:
        if (doc_id - _NEW_OFFSET) % 8 == 0:
            assert is_dup and max_j == 1.0, by_id[doc_id]
    assert any(r[3] for r in got) and len(got) > 0


def test_index_roundtrip_layout_and_stamp(spark, docs, index_path):
    # band-partitioned layout on disk
    assert any(d.startswith("band=") for d in os.listdir(index_path))
    idx = read_minhash_index(spark, index_path)
    fields = {f.name: f for f in idx.schema.fields}
    assert fields["bucket"].metadata[FAMILY_META_KEY] == minhash_family_digest()
    assert fields["sig"].metadata[FAMILY_META_KEY] == minhash_family_digest()
    # read-back rows == in-memory banding (the persisted index IS the
    # banded-signature relation, no drift through the parquet roundtrip)
    mem = banded_signatures(docs)
    assert idx.count() == mem.count()
    assert (
        idx.select("band", "bucket", "id")
        .exceptAll(mem.select("band", "bucket", "id"))
        .count()
        == 0
    )


def test_foreign_or_unstamped_index_refuses_to_serve(spark, docs, tmp_path):
    unstamped = os.path.join(str(tmp_path), "unstamped")
    banded_signatures(docs.limit(20)).write.parquet(unstamped)
    with pytest.raises(ValueError, match="no .* stamp|minhash_family"):
        read_minhash_index(spark, unstamped)

    foreign = os.path.join(str(tmp_path), "foreign")
    meta = {FAMILY_META_KEY: "deadbeefdeadbeef"}
    banded_signatures(docs.limit(20)).withColumn(
        "bucket", F.col("bucket").alias("bucket", metadata=meta)
    ).withColumn("sig", F.col("sig").alias("sig", metadata=meta)).write.partitionBy(
        "band"
    ).parquet(foreign)
    with pytest.raises(ValueError, match="family mismatch"):
        read_minhash_index(spark, foreign)


def test_append_equals_rebuild(spark, docs, tmp_path):
    a = docs.where("doc_id < 200")
    b = docs.where("doc_id >= 200")
    incr = os.path.join(str(tmp_path), "incr")
    full = os.path.join(str(tmp_path), "full")
    write_minhash_index(a, incr)
    update_minhash_index(b, incr)
    write_minhash_index(docs, full)
    probe = _new_snapshot(docs)

    def rows(path):
        return sorted(
            tuple(r)
            for r in dedup_incremental(
                probe, read_minhash_index(spark, path), tau=TAU
            ).collect()
        )

    assert rows(incr) == rows(full)


def test_probe_after_append_matches_itself(spark, docs, tmp_path):
    path = os.path.join(str(tmp_path), "selfidx")
    snap = docs.where("doc_id < 50")
    write_minhash_index(snap, path)
    out = dedup_incremental(
        snap, read_minhash_index(spark, path), tau=TAU
    ).collect()
    # every indexed doc matches itself at 64/64 — the reason the
    # contract is probe-BEFORE-append
    signable = {r["id"] for r in banded_signatures(snap).select("id").collect()}
    for r in out:
        if r["doc_id"] in signable:
            assert r["is_dup"] and r["max_est_jaccard"] == 1.0


def test_broadcast_probe_never_shuffles_the_index(spark, docs, index_path):
    idx = read_minhash_index(spark, index_path)
    pairs = near_dup_pairs_against_index(_new_snapshot(docs), idx, tau=TAU)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # below the probe join, the only exchange is the broadcast of the
    # new side — the index scan feeds the join directly
    tail = plan[plan.index("BroadcastHashJoin"):]
    for line in tail.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, line


def test_tau_bounds(spark, docs, index_path):
    idx = read_minhash_index(spark, index_path)
    with pytest.raises(ValueError, match="tau"):
        near_dup_pairs_against_index(_new_snapshot(docs), idx, tau=0.0)
    with pytest.raises(ValueError, match="tau"):
        near_dup_pairs_against_index(_new_snapshot(docs), idx, tau=1.5)
