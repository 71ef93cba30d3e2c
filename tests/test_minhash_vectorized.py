"""Bit-exactness of the MinHash signature fold.

The Catalyst expression fold (`minhash_signature_from_shingles`, the
form the DuckDB oracle SQL mirrors) must equal an independent big-int
Python reference value-for-value on every row: the whole dedup family
(LSH banding, the persisted index, ingest history probes, fuzzy
decontamination) keys on these longs, and the index stamps the family
digest — a single diverging channel would silently zero fuzzy recall
against previously signed history.
"""

from __future__ import annotations

import hashlib

import pytest

from docling_jobkit_spark.operators.dedup import (
    _PERMS,
    _SIG_INIT,
    MINHASH_PRIME,
    N_HASHES,
    minhash_signature_from_shingles,
    word_shingles,
)

ADVERSARIAL_TEXTS = [
    "",
    "one",
    "one two",
    "one two three",  # exactly k tokens -> 1 shingle
    "a a a a a a a a",  # degenerate repeats -> 1 distinct shingle
    "The  quick\tbrown\nfox jumps over the lazy dog",
    "ünïcødé tökens — em–dash “quotes” …ellipsis",
    "数字 と 漢字 の トークン 列 テスト",
    "MiXeD Case TOKENS lower UPPER lower UPPER",
    " ".join(f"w{i}" for i in range(200)),  # long doc, 198 shingles
    "x " * 500,  # whitespace-heavy, 1 distinct shingle
]


def _pure_python_signature(shingles: list[str]) -> list[int]:
    """Independent big-int reference (no numpy, no Spark): Python ints
    never wrap, so any overflow in the long arithmetic of the fold
    shows up as a mismatch."""
    mins = [_SIG_INIT] * N_HASHES
    for s in shingles:
        x = int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:15], 16)
        hi, lo = x >> 30, x & ((1 << 30) - 1)
        for i, (a, c, b) in enumerate(_PERMS):
            v = (hi * a + lo * c + b) % MINHASH_PRIME
            if v < mins[i]:
                mins[i] = v
    return mins


def _py_shingles(text: str, k: int = 3) -> list[str]:
    toks = text.lower().split()
    if len(toks) < k:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))


def test_vectorized_fold_matches_pure_python_reference(spark):
    """The single-pass fold (all 64 channels updated per shingle) on
    hand-made shingle lists, including a null and an empty array."""
    lists = [_py_shingles(t) for t in ADVERSARIAL_TEXTS] + [None, []]
    df = spark.createDataFrame(list(enumerate(lists)), "i long, sh array<string>")
    got = [
        r["sig"]
        for r in df.select("i", minhash_signature_from_shingles("sh").alias("sig"))
        .orderBy("i")
        .collect()
    ]
    assert got[-2] is None  # null-preserving
    assert list(got[-1]) == [_SIG_INIT] * N_HASHES  # empty = fold init
    for sh, g in zip(lists[:-2], got[:-2]):
        assert list(g) == _pure_python_signature(sh)


def test_arrow_and_expr_paths_bit_equal_on_corpus(spark, sf_dir):
    """The expression fold over Spark-computed shingles equals the
    reference on every corpus + adversarial row, and the longs survive
    the Arrow collection path (``toArrow``) as well as row collection:
    the values sit near 2**61, where any float round trip would lose
    low bits."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    adversarial = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)],
        "doc_id long, text string",
    )
    signed = (
        docs.unionByName(adversarial)
        .withColumn("sh", word_shingles("text"))
        .select("doc_id", "sh", minhash_signature_from_shingles("sh").alias("sig"))
    )
    rows = signed.collect()
    assert len(rows) == docs.count() + len(ADVERSARIAL_TEXTS)
    for r in rows:
        assert list(r["sig"]) == _pure_python_signature(r["sh"]), r["doc_id"]
    via_rows = {r["doc_id"]: list(r["sig"]) for r in rows}
    via_arrow = signed.select("doc_id", "sig").toArrow().to_pydict()
    assert dict(zip(via_arrow["doc_id"], via_arrow["sig"])) == via_rows
    # non-degeneracy spot check: channels disagree across docs
    assert len({r["sig"][0] for r in rows}) > 100


@pytest.mark.parametrize("n_words,expect_init", [(0, True), (2, True), (3, False)])
def test_short_doc_edge(spark, n_words, expect_init):
    text = " ".join(f"t{i}" for i in range(n_words))
    df = spark.createDataFrame([(1, text)], "id long, text string")
    sig = df.select(
        minhash_signature_from_shingles(word_shingles("text")).alias("s")
    ).collect()[0]["s"]
    assert (list(sig) == [_SIG_INIT] * N_HASHES) is expect_init
