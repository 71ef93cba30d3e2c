"""Unit tests for dedup / similarity / chunker / textstats / multimodal
operators on small in-memory frames (fast; the oracle harness in
test_queries_oracle.py is the cross-engine gate)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s0"),
        (1, "the quick brown fox jumps over the lazy cat", "en", "s0"),
        (2, "der schnelle braune fuchs springt über den faulen hund", "de", "s1"),
        (3, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # exact dup of 0
        (4, "completely different words appear here only once", "en", "s1"),
        (5, "", "en", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_duplicates(spark, docs):
    from docling_jobkit_spark.operators.dedup import exact_duplicates

    groups = {r["canonical_id"]: r for r in exact_duplicates(docs).collect()}
    assert groups[0]["n_members"] == 2
    assert groups[0]["member_ids"] == [0, 3]
    assert groups[1]["n_members"] == 1


def test_jaccard_pairs_finds_near_dup(spark, docs):
    from docling_jobkit_spark.operators.dedup import jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold_num=1, threshold_den=2).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert not any(a == 2 or b == 2 for a, b in pairs)  # different lang block


def test_minhash_and_simhash_agree_on_dups(spark, docs):
    from docling_jobkit_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
        with_minhash,
        with_simhash,
    )

    nd = docs.filter(F.col("text") != "")
    mh_pairs = {(r["id_a"], r["id_b"]) for r in minhash_near_duplicates(nd).collect()}
    assert (0, 3) in mh_pairs  # exact dup must survive LSH + verify

    sh = {r["doc_id"]: r["simhash"] for r in with_simhash(nd).collect()}
    assert sh[0] == sh[3]
    assert sh[0] != sh[4]
    sh_pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_duplicates(nd, max_hamming=0).collect()}
    assert (0, 3) in sh_pairs

    # signatures deterministic across evaluations
    m1 = with_minhash(nd).filter("doc_id=0").collect()[0]["minhash"]
    m2 = with_minhash(nd).filter("doc_id=0").collect()[0]["minhash"]
    assert m1 == m2 and len(m1) == 64


def test_minhash_channels_are_independent(spark):
    """Regression: partial shingle overlap must give PARTIAL signature
    agreement roughly tracking Jaccard. The original (a·x+b) family had
    a ≤ 129 and b < 2^44, so a·x+b never wrapped mod 2^61-1 — every
    channel was monotone in x and picked the SAME global-min shingle:
    agreement was always 0/64 or 64/64 and per-band LSH collision
    collapsed from j^4 to j."""
    from docling_jobkit_spark.operators.dedup import with_minhash

    full = " ".join(f"tok{i}" for i in range(60))
    half = " ".join(f"tok{i}" for i in range(30)) + " " + " ".join(
        f"new{i}" for i in range(30)
    )
    df = spark.createDataFrame(
        [(0, full), (1, half)], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["minhash"] for r in with_minhash(df).collect()}
    agree = sum(1 for x, y in zip(sigs[0], sigs[1]) if x == y)
    # shingle Jaccard here is 28/88 ≈ 0.32; with 64 channels the
    # agreement must be partial and in a generous band around it
    assert 0 < agree < 64
    assert 5 <= agree <= 40


def test_brute_force_topk_exact(spark):
    from docling_jobkit_spark.operators.similarity import brute_force_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = brute_force_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["cosine"] == 1.0


def test_ann_lsh_contains_exact_match(spark):
    from docling_jobkit_spark.operators.similarity import ann_topk

    import math

    rows = [
        (i, [math.cos(i * 0.37), math.sin(i * 0.37), float((i % 5) - 2) / 2.0])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[7][1]
    top = ann_topk(df, q, k=3, n_bits=6, n_tables=6).collect()
    assert top, "LSH buckets must contain candidates"
    assert top[0]["vec_id"] == 7  # the query vector itself hashes to its own bucket


def test_chunk_text_token_windows():
    from docling_jobkit_spark.operators.chunker import chunk_text

    text = " ".join(f"w{i}" for i in range(100))
    chunks = chunk_text(text, [], max_tokens=32, overlap=4)
    assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))
    assert chunks[0]["num_tokens"] == 32
    # overlap: consecutive windows share `overlap` tokens
    t0 = chunks[0]["text"].split()
    t1 = chunks[1]["text"].split()
    assert t0[-4:] == t1[:4]
    # full coverage: every token appears in some chunk
    seen = set()
    for c in chunks:
        seen.update(c["text"].split())
    assert len(seen) == 100


def test_chunk_text_pages_and_headings():
    from docling_jobkit_spark.extractor.extract import PAGE_JOIN
    from docling_jobkit_spark.operators.chunker import chunk_text

    p1 = " ".join(f"a{i}" for i in range(30))
    p2 = " ".join(f"b{i}" for i in range(30))
    text = "Title Here\n\n" + p1 + PAGE_JOIN + p2
    spans = [{"start": 0, "end": 10, "kind": "heading", "path": "html/body/h1"}]
    chunks = chunk_text(text, spans, max_tokens=16, overlap=0)
    assert chunks[0]["headings"] == ["Title Here"]
    assert chunks[0]["page_numbers"] == [1]
    assert chunks[-1]["page_numbers"][-1] == 2


def test_chunk_text_sweep_matches_naive_rescan():
    """The round-4 linearization (bisect pages/headings + active-span
    sweep) must be byte-identical to the per-chunk rescan semantics it
    replaced. Differential check on randomized docs with nested/
    overlapping spans, multi-page text, and tied heading starts."""
    import random

    from docling_jobkit_spark.extractor.extract import PAGE_JOIN
    from docling_jobkit_spark.operators.chunker import chunk_text

    def naive(text, spans, max_tokens, overlap):
        if not text:
            return []
        toks, pos = [], 0
        for part in text.split():
            start = text.index(part, pos)
            toks.append((start, start + len(part)))
            pos = start + len(part)
        if not toks:
            return []
        page_starts = [0]
        idx = text.find(PAGE_JOIN)
        while idx != -1:
            page_starts.append(idx + len(PAGE_JOIN))
            idx = text.find(PAGE_JOIN, idx + 1)
        headings = sorted(
            (int(s["start"]), int(s["end"]), text[int(s["start"]): int(s["end"])])
            for s in spans
            if s.get("kind") == "heading"
        )
        all_spans = sorted(
            (int(s["start"]), int(s["end"]), s.get("kind", ""), s.get("path", ""))
            for s in spans
        )
        step = max_tokens - overlap
        out, ci = [], 0
        for t0 in range(0, len(toks), step):
            window = toks[t0: t0 + max_tokens]
            lo, hi = window[0][0], window[-1][1]
            chunk_str = text[lo:hi]
            p_lo = sum(1 for p in page_starts if p <= lo)
            p_hi = sum(1 for p in page_starts if p <= hi - 1)
            hs = [(s, e, h) for s, e, h in headings if s <= lo]
            nearest = hs[-1:]
            ctx = (
                nearest[0][2] + "\n" + chunk_str
                if nearest and nearest[0][1] <= lo
                else chunk_str
            )
            overlapped = [sp for sp in all_spans if sp[0] < hi and sp[1] > lo]
            out.append(
                {
                    "chunk_index": ci,
                    "text": ctx,
                    "raw_text": chunk_str,
                    "num_tokens": len(window),
                    "headings": [h for _, _, h in nearest],
                    "captions": [
                        text[s:e] for s, e, k, _ in overlapped if k == "caption"
                    ],
                    "page_numbers": list(range(p_lo, p_hi + 1)),
                    "doc_items": [p for _, _, _, p in overlapped],
                    "has_image": False,
                }
            )
            ci += 1
            if t0 + max_tokens >= len(toks):
                break
        return out

    rng = random.Random(42)
    for trial in range(25):
        n_pages = rng.randint(1, 4)
        text = PAGE_JOIN.join(
            " ".join(f"w{p}_{i}" for i in range(rng.randint(0, 60)))
            for p in range(n_pages)
        )
        spans = []
        for _ in range(rng.randint(0, 12)):
            if not text:
                break
            s = rng.randrange(0, len(text))
            e = rng.randint(s + 1, min(len(text), s + rng.randint(1, 80)))
            spans.append(
                {
                    "start": s,
                    "end": e,
                    "kind": rng.choice(["heading", "caption", "para", "para"]),
                    "path": f"html/body/x{rng.randint(0, 5)}",
                }
            )
        # tied heading starts exercise the bisect tie-break
        if spans:
            spans.append(dict(spans[0], kind="heading"))
        mt = rng.choice([8, 16, 64])
        ov = rng.choice([0, 2, mt // 2 - 1])
        assert chunk_text(text, spans, mt, ov) == naive(text, spans, mt, ov), (
            f"trial {trial} diverged"
        )


def test_chunk_text_hierarchical_respects_section_boundaries():
    """Hierarchical mode: no window crosses a heading boundary, every
    chunk carries exactly its own section's heading, and indices stay
    globally sequential."""
    from docling_jobkit_spark.operators.chunker import (
        chunk_text,
        chunk_text_hierarchical,
    )

    pre = " ".join(f"p{i}" for i in range(10))
    # 10 preamble + 2 heading + 19 body = 31 tokens before s2 — NOT a
    # multiple of the window, so flat mode must straddle the boundary
    s1 = "Alpha Section " + " ".join(f"a{i}" for i in range(19))
    s2 = "Beta Section " + " ".join(f"b{i}" for i in range(5))
    text = pre + " " + s1 + " " + s2
    h1 = text.index("Alpha Section")
    h2 = text.index("Beta Section")
    spans = [
        {"start": h1, "end": h1 + len("Alpha Section"), "kind": "heading",
         "path": "h1"},
        {"start": h2, "end": h2 + len("Beta Section"), "kind": "heading",
         "path": "h2"},
    ]
    chunks = chunk_text_hierarchical(text, spans, max_tokens=8, overlap=0)
    assert [c["chunk_index"] for c in chunks] == list(range(len(chunks)))
    for c in chunks:
        raw = c["raw_text"]
        # a chunk never straddles a section boundary: it either starts at
        # or after a heading and stays inside that section, or lies fully
        # in the preamble
        in_pre = text.index(raw) < h1
        in_s1 = h1 <= text.index(raw) < h2
        assert in_pre or in_s1 or text.index(raw) >= h2
        if in_pre:
            assert text.index(raw) + len(raw) <= h1, "window crossed into s1"
            assert c["headings"] == []
        elif in_s1:
            assert text.index(raw) + len(raw) <= h2, "window crossed into s2"
            assert c["headings"] == ["Alpha Section"]
        else:
            assert c["headings"] == ["Beta Section"]
    # full token coverage (windows restart per section, nothing dropped)
    seen = set()
    for c in chunks:
        seen.update(c["raw_text"].split())
    assert seen == set(text.split())
    # flat mode DOES cross the boundary for the same input (the modes
    # genuinely differ)
    flat = chunk_text(text, spans, max_tokens=8, overlap=0)
    crossing = [
        c for c in flat
        if text.index(c["raw_text"]) < h2
        and text.index(c["raw_text"]) + len(c["raw_text"]) > h2
    ]
    assert crossing, "flat windowing should straddle the heading boundary"


def test_chunk_documents_hierarchical_mode(spark):
    from docling_jobkit_spark.operators.chunker import chunk_documents

    rows = [
        (
            "u1",
            "SUCCESS",
            "Head One " + " ".join(f"w{i}" for i in range(30)),
            [{"start": 0, "end": 8, "kind": "heading", "path": "h"}],
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, status string, extracted_text string, "
        "spans array<struct<start:long,end:long,kind:string,path:string>>",
    )
    out = chunk_documents(df, max_tokens=8, overlap=0, mode="hierarchical").collect()
    assert out and all(r["headings"] == ["Head One"] for r in out[1:])
    import pytest

    with pytest.raises(ValueError, match="unknown chunking mode"):
        chunk_documents(df, mode="nope")


@pytest.mark.parametrize(
    "max_tokens,overlap,mode",
    [
        (4, -2, "window"),  # would step past w4, w5, w10, w11, ...
        (4, -2, "budgeted"),
        (0, -1, "window"),  # would raise IndexError inside the task
        (4, 4, "hierarchical"),
        (3, 5, "window"),
    ],
)
def test_chunkers_reject_bad_window_parameters_at_plan_time(
    spark, max_tokens, overlap, mode
):
    """Both chunkers need 1 <= max_tokens and 0 <= overlap < max_tokens,
    checked before any task runs; ``merges`` outside mode='budgeted' is
    an error, not silently ignored."""
    from docling_jobkit_spark.operators.chunker import (
        chunk_documents,
        token_window_chunks,
    )

    results = spark.createDataFrame(
        [("u1", "SUCCESS", "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", [])],
        "url string, status string, extracted_text string, "
        "spans array<struct<start:long,end:long,kind:string,path:string>>",
    )
    merges = [("w", "0")] if mode == "budgeted" else None
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_documents(results, max_tokens, overlap, mode=mode, merges=merges)
    docs = results.select(F.lit(1).alias("doc_id"), F.col("extracted_text").alias("text"))
    with pytest.raises(ValueError, match="max_tokens"):
        token_window_chunks(docs, max_tokens=max_tokens, overlap=overlap)
    with pytest.raises(ValueError, match="merges applies only"):
        chunk_documents(results, 4, 1, mode="window", merges=[("w", "0")])


def test_chunker_hierarchical_diverges_from_flat_on_sectioned_corpus(spark, sf_dir):
    """On the heading-DENSE corpus variant (sectioned=True: an <h2>
    before every 4th sentence), the hierarchical chunker must produce a
    measurably different chunk set than flat windowing — the default
    corpus has one heading at offset 0 where the two modes coincide by
    definition, so this is the corpus-level evidence that the
    chunker_hierarchical entry discriminates."""
    from docling_jobkit_spark.operators.chunker import chunk_documents
    from docling_jobkit_spark.operators.extract_op import extract_documents
    from docling_jobkit_spark.sources.readers import pages_from_documents

    pages = pages_from_documents(spark, sf_dir, sectioned=True).limit(24)
    extracted = extract_documents(pages).localCheckpoint(eager=False)
    flat = {
        (r["url"], r["chunk_index"], r["text"])
        for r in chunk_documents(extracted, max_tokens=32, overlap=4)
        .select("url", "chunk_index", "text")
        .collect()
    }
    hier_rows = chunk_documents(
        extracted, max_tokens=32, overlap=4, mode="hierarchical"
    ).collect()
    hier = {(r["url"], r["chunk_index"], r["text"]) for r in hier_rows}
    assert flat != hier, "sectioned corpus must separate the two modes"
    # mid-document section headings survived extraction and are carried
    # on the chunks they govern
    assert any(
        r["headings"] and any("Section" in h for h in r["headings"])
        for r in hier_rows
    )


def test_chunker_failure_propagation(spark):
    from docling_jobkit_spark.operators.chunker import chunk_documents

    rows = [
        ("u1", "SUCCESS", "some extracted text with several tokens inside", []),
        ("u2", "FAILURE", "", []),
    ]
    df = spark.createDataFrame(
        rows,
        "url string, status string, extracted_text string, "
        "spans array<struct<start:long,end:long,kind:string,path:string>>",
    )
    out = chunk_documents(df).collect()
    assert {r["url"] for r in out} == {"u1"}  # failed doc → zero chunks


def test_lang_id_and_quality(spark, docs):
    from docling_jobkit_spark.operators.textstats import lang_id, quality_features

    preds = {
        r["doc_id"]: r["p"]
        for r in docs.select("doc_id", lang_id("text").alias("p")).collect()
    }
    assert preds[0] == "en" and preds[2] == "de" and preds[5] == "und"

    q = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[5]["n_tokens"] == 0


def test_multimodal_stub_and_relational_agree(spark):
    from docling_jobkit_spark.operators.multimodal import (
        decode_image,
        extract_media_metadata,
        media_metadata_relational,
    )

    with pytest.raises(NotImplementedError):
        decode_image(b"abc")

    rows = [("m1", b"payload-bytes-1"), ("m2", b"other-payload")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    udf_meta = {
        r["media_id"]: r for r in extract_media_metadata(df).collect()
    }
    rel_meta = {
        r["media_id"]: r for r in media_metadata_relational(df).collect()
    }
    for mid in ("m1", "m2"):
        for k in ("n_bytes", "content_hash", "width", "height"):
            assert udf_meta[mid][k] == rel_meta[mid][k], (mid, k)


def test_binary_file_scan_junk_filter(spark, tmp_path):
    from docling_jobkit_spark.sources.readers import binary_files_as_pages, scan_binary_files

    d = tmp_path / "files"
    d.mkdir()
    (d / "a.html").write_bytes(b"<p>hello content</p>")
    (d / ".hidden").write_bytes(b"junk")
    (d / "Thumbs.db").write_bytes(b"junk")
    sub = d / "sub"
    sub.mkdir()
    (sub / "b.html").write_bytes(b"<p>more content</p>")

    scanned = scan_binary_files(spark, str(d), glob="*", recursive=True)
    paths = [r["path"].split("/")[-1] for r in scanned.collect()]
    assert sorted(paths) == ["a.html", "b.html"]
    pages = binary_files_as_pages(scanned)
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}


def test_frame_sampling_explode(spark):
    from docling_jobkit_spark.operators.multimodal import explode_frames, sample_frames

    with pytest.raises(NotImplementedError):
        sample_frames(b"video-bytes", 1000)

    rows = [("v1", b"fake-video-payload-" * 50), ("v2", b"tiny")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    frames = explode_frames(df, every_ms=500).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, fr in by_media.items():
        idxs = sorted(f["frame_index"] for f in fr)
        assert idxs == list(range(len(fr)))          # dense frame index
        assert all(f["frame_ts_ms"] == f["frame_index"] * 500 for f in fr)
        assert all(isinstance(bytes(f["frame"]), bytes) for f in fr)
    # deterministic across runs
    again = explode_frames(df, every_ms=500).collect()
    assert sorted(map(str, frames)) == sorted(map(str, again))


def test_resize_images_stub(spark):
    from docling_jobkit_spark.operators.multimodal import (
        decode_image,
        resize_image,
        resize_images,
    )

    with pytest.raises(NotImplementedError):
        resize_image(b"img", 512)

    rows = [("m1", b"payload-bytes-1" * 40), ("m2", b"other-payload")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    got = {r["media_id"]: r for r in resize_images(df, max_side=128).collect()}
    for mid, payload in rows:
        meta = decode_image(payload, fake=True)
        r = got[mid]
        assert (r["src_width"], r["src_height"]) == (
            max(meta["width"], 1),
            max(meta["height"], 1),
        )
        # aspect preserved within integer truncation; max side respected
        assert max(r["width"], r["height"]) <= 128
        assert r["width"] >= 1 and r["height"] >= 1
        src_ratio = r["src_width"] / r["src_height"]
        dst_ratio = r["width"] / r["height"]
        assert abs(src_ratio - dst_ratio) / src_ratio < 0.05
        assert len(bytes(r["resized"])) <= len(payload)
    # upscale never happens: a tiny image keeps its dimensions
    small = {r["media_id"]: r for r in resize_images(df, max_side=10**6).collect()}
    for mid, _ in rows:
        assert (small[mid]["width"], small[mid]["height"]) == (
            small[mid]["src_width"],
            small[mid]["src_height"],
        )


def test_short_doc_shingles_empty_both_engines(spark):
    """Docs with <k tokens must yield an EMPTY shingle set (matching the
    DuckDB oracle, whose out-of-range list accesses produce NULLs that
    list_distinct drops) — and therefore never appear in near-dup pairs."""
    import duckdb

    from docling_jobkit_spark.operators.dedup import (
        jaccard_pairs,
        minhash_near_duplicates,
        word_shingles,
    )
    from pyspark.sql import functions as F

    rows = [(1, "one two", "en"), (2, "one two", "en"), (3, "a b c d e f g", "en"),
            (4, "a b c d e f g", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    sh = {r["doc_id"]: r["sh"] for r in df.select("doc_id", word_shingles("text").alias("sh")).collect()}
    assert sh[1] == [] and sh[2] == []
    duck = duckdb.sql(
        "select list_distinct(list_transform(range(1, greatest(len(w)-2,1)+1),"
        " i -> w[i]||' '||w[i+1]||' '||w[i+2])) from"
        " (select string_split_regex(trim(lower('one two')),'\\s+') as w)"
    ).fetchone()[0]
    assert duck == []
    # short docs never pair, in either the exact-jaccard or LSH pipeline
    jp = jaccard_pairs(df, threshold_num=1, threshold_den=2, shingle_k=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in jp} == {(3, 4)}
    mh = minhash_near_duplicates(df, threshold_num=1, threshold_den=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in mh} == {(3, 4)}


def test_presigned_ann_equals_predicate_ann(spark):
    """Materialized-signature ANN (the at-scale layout: signatures as
    bucket columns) must return exactly the predicate-form ann_topk's
    results."""
    from docling_jobkit_spark.operators.similarity import (
        ann_topk,
        ann_topk_presigned,
        with_ann_signatures,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    a = ann_topk(emb, q, k=5, n_bits=8, n_tables=4).collect()
    signed = with_ann_signatures(emb, dim=len(q), n_bits=8, n_tables=4)
    b = ann_topk_presigned(signed, q, k=5, n_bits=8, n_tables=4).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]


def _three_cluster_vectors():
    """Three well-separated clusters; the 10 LOWEST ids all sit in
    cluster 0 — the layout where lowest-id seeding fails."""
    rows = []
    for i in range(10):
        rows.append((i, [1.0, 0.0, 0.0, 0.01 * i]))
    for i in range(10, 20):
        rows.append((i, [0.01 * (i - 10), 1.0, 0.0, 0.0]))
    for i in range(20, 30):
        rows.append((i, [0.0, 0.01 * (i - 20), 1.0, 0.0]))
    return rows


def test_kmeans_centroids_recover_recall_where_lowest_id_seeds_fail(spark):
    """Trained-codebook IVF (farthest-point init + Lloyd) vs the lowest-id
    seed baseline on a fixture where all low ids share one cluster:
    seeds give recall 0, k-means gives recall 1 — and the codebook is a
    pure function of the data (bit-identical across runs)."""
    from docling_jobkit_spark.operators.similarity import (
        brute_force_topk,
        deterministic_centroids,
        ivf_topk,
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        _three_cluster_vectors(), "vec_id long, embedding array<float>"
    )
    q = [0.0, 0.0, 1.0, 0.005]  # a cluster-2 query
    brute = {r["vec_id"] for r in brute_force_topk(df, q, k=5).collect()}

    seeds = deterministic_centroids(df, k=3)
    km = kmeans_centroids(df, k=3, n_iter=4, sample_n=30)
    assert km == kmeans_centroids(df, k=3, n_iter=4, sample_n=30)  # deterministic

    got_seeds = {r["vec_id"] for r in ivf_topk(df, q, seeds, k=5, n_probe=1).collect()}
    got_km = {r["vec_id"] for r in ivf_topk(df, q, km, k=5, n_probe=1).collect()}
    recall_seeds = len(got_seeds & brute) / 5
    recall_km = len(got_km & brute) / 5
    assert recall_seeds == 0.0  # every lowest-id centroid is cluster 0
    assert recall_km == 1.0    # farthest-point init spreads across clusters


def test_ivf_assign_null_embedding_gets_sentinel_cell(spark):
    from docling_jobkit_spark.operators.similarity import ivf_assign

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [])],
        "vec_id long, embedding array<float>",
    )
    cells = {
        r["vec_id"]: r["ivf_cell"]
        for r in ivf_assign(df, [[1.0, 0.0], [0.0, 1.0]]).collect()
    }
    assert cells[0] == 0
    assert cells[1] == -1 and cells[2] == -1  # unscorable → sentinel, not NULL


def test_cosine_array_vector_column_with_backtick(spark):
    """The vector column name is quoted into F.expr SQL text; a backtick
    in it must be escaped, not end the identifier."""
    from docling_jobkit_spark.operators.similarity import _cosine_array

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 2.0])], "vec_id long, `em``b` array<float>"
    )
    got = df.select(
        "vec_id", _cosine_array([[1.0, 0.0], [0.0, 1.0]], "em`b").alias("cos")
    ).orderBy("vec_id")
    assert [r["cos"] for r in got.collect()] == [[1.0, 0.0], [0.0, 1.0]]


@pytest.mark.parametrize("vec_col", ["e.v", "e`v"])
def test_vector_column_needing_quotes(spark, vec_col):
    """ivf_assign and with_ann_signatures take a vector column whose name
    must be quoted (a dot would parse as a struct path, a backtick would
    end the identifier) and give the same cells and signatures as under
    a plain name."""
    from docling_jobkit_spark.operators.similarity import (
        ivf_assign,
        with_ann_signatures,
    )

    rows = [(0, [1.0, 0.0, 0.5]), (1, [0.0, 2.0, -1.0]), (2, [-1.0, 1.0, 3.0])]
    plain = spark.createDataFrame(rows, "vec_id long, v array<float>")
    odd = plain.withColumnRenamed("v", vec_col)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]

    def result(df, col):
        out = with_ann_signatures(ivf_assign(df, cents, col), 3, 4, 2, col)
        assert out.columns == ["vec_id", col, "ivf_cell", "sig_0", "sig_1"]
        return out.withColumnRenamed(col, "v").orderBy("vec_id").collect()

    assert result(odd, vec_col) == result(plain, "v")


def test_multi_table_lsh_recovers_recall_without_quadratic_join(spark):
    """OR-of-tables blocking: multi-table candidates are a superset of
    single-table candidates and a subset of the exact all-pairs result,
    with no duplicate pairs — recall monotonically recovers with tables."""
    from docling_jobkit_spark.operators.similarity import embedding_near_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def pairs(**kw):
        rows = embedding_near_duplicates(emb, threshold=0.25, **kw).collect()
        got = [(r["vec_id_a"], r["vec_id_b"]) for r in rows]
        assert len(got) == len(set(got)), "duplicate pairs leaked"
        return set(got)

    exact = pairs(block_col=None)  # all-pairs baseline (test scale only)
    single = pairs(block_col=None, lsh_bits=8, dim=64)
    multi = pairs(block_col=None, lsh_bits=8, dim=64, lsh_tables=2)
    assert single <= multi <= exact
    assert len(multi) > len(single)  # table 2 recovered split-bucket pairs


# --- webfilter -------------------------------------------------------------


@pytest.fixture(scope="module")
def urls(spark):
    rows = [
        (0, "https://a.example.com/x/page.html?q=1"),
        (1, "ftp://a.example.com/x/file.pdf"),
        (2, "https://ads.bad.tracker.net/pix.gif"),
        (3, "https://notexample.com/clean.html"),      # NOT a subdomain of example.com
        (4, "https://deep.sub.bad.tracker.net/a.html"),
        (5, "https://ok.org/archive.exe"),
        (6, None),                                 # NULL url → unparseable
        (7, "https://example.zip"),                # .zip TLD, no path: NOT an ext
    ]
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_url_filter_reasons_and_precedence(spark, urls):
    from docling_jobkit_spark.operators.webfilter import url_filter

    out = {
        r["doc_id"]: r
        for r in url_filter(
            urls, blocked_domains=("tracker.net",), blocked_exts=("exe", "gif")
        ).collect()
    }
    assert out[0]["url_ok"] and out[0]["url_reject_reason"] is None
    assert out[1]["url_reject_reason"] == "scheme"  # scheme beats extension
    # domain beats extension (gif would also match)
    assert out[2]["url_reject_reason"] == "blocked_domain"
    assert out[3]["url_ok"]  # suffix match is label-aligned, not substring
    assert out[4]["url_reject_reason"] == "blocked_domain"  # deep subdomain
    assert out[5]["url_reject_reason"] == "blocked_extension"
    assert out[0]["host"] == "a.example.com" and out[0]["ext"] == "html"
    assert out[6]["url_reject_reason"] == "unparseable" and not out[6]["url_ok"]
    # a TLD is not a file extension: ext comes from the path only
    assert out[7]["ext"] == "" and out[7]["url_ok"]


def test_url_filter_against_matches_literal_semantics(spark, urls):
    from docling_jobkit_spark.operators.webfilter import url_filter, url_filter_against

    bl = spark.createDataFrame([("tracker.net",), ("ok.org",)], "domain string")
    joined = {
        r["doc_id"]: r["domain_blocked"]
        for r in url_filter_against(urls, bl).collect()
    }
    literal = {
        r["doc_id"]: r["url_reject_reason"] == "blocked_domain"
        for r in url_filter(
            urls,
            blocked_domains=("tracker.net", "ok.org"),
            allowed_schemes=("http", "https", "ftp"),
        ).collect()
    }
    assert joined == literal
    assert joined[2] and joined[4] and joined[5]
    assert not joined[0] and not joined[3]


def test_url_filter_against_plan_broadcasts(spark, urls):
    """The corpus side must never sort-merge: blocklist and flag-back
    joins are both broadcast-hash."""
    from docling_jobkit_spark.operators.webfilter import url_filter_against

    bl = spark.createDataFrame([("tracker.net",)], "domain string")
    plan = url_filter_against(urls, bl)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- repetition signals ----------------------------------------------------


def test_repetition_signals_counts(spark):
    from docling_jobkit_spark.operators.textstats import repetition_signals

    rows = [
        (0, "a b a b a b"),       # 2-grams: [a b, b a, a b, b a, a b] tot=5 dist=2 top=3
        (1, "one"),               # < 2 tokens: zero rows for both n
        (2, "x y z"),             # exactly one 3-gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["doc_id"], r["gram_n"]): r
        for r in repetition_signals(df, ngram_sizes=(2, 3)).collect()
    }
    assert len(out) == 6  # every (doc, n) pair present, even empty ones
    r02 = out[(0, 2)]
    assert (r02["n_grams"], r02["n_distinct"], r02["top_count"]) == (5, 2, 3)
    assert r02["dup_frac"] == 0.6 and r02["top_frac"] == 0.6
    r12 = out[(1, 2)]
    assert (r12["n_grams"], r12["n_distinct"], r12["top_count"]) == (0, 0, 0)
    assert r12["dup_frac"] == 0.0 and r12["top_frac"] == 0.0
    r23 = out[(2, 3)]
    assert (r23["n_grams"], r23["n_distinct"], r23["top_count"]) == (1, 1, 1)


# --- segment dedup ---------------------------------------------------------


def test_segment_dup_stats(spark):
    from docling_jobkit_spark.operators.dedup import segment_dup_stats

    rows = [
        (0, "a b c d e f g h"),   # segs: [a b c, d e f]; trailing "g h" ignored
        (1, "a b c x y z"),       # shares "a b c" with doc 0
        (2, "p q r p q r"),       # within-doc repeat but NOT cross-doc
        (3, "x"),                 # < 3 tokens: no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in segment_dup_stats(df, seg_words=3).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0]["n_segs"], out[0]["n_dup_segs"]) == (2, 1)
    assert out[0]["dup_seg_frac"] == 0.5
    assert (out[1]["n_segs"], out[1]["n_dup_segs"]) == (2, 1)
    # within-doc repetition is not corpus duplication
    assert (out[2]["n_segs"], out[2]["n_dup_segs"]) == (2, 0)


# --- decontamination -------------------------------------------------------


def test_contamination_flags_exact_and_overlapping_docs(spark):
    from docling_jobkit_spark.operators.decontam import contamination

    corpus = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),   # contains bench 5-gram
            (1, "alpha beta gamma delta epsilon"),        # the bench text itself
            (2, "one two three four five six seven"),     # clean
            (3, "tiny doc"),                              # < k tokens
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in contamination(corpus, bench, k=5).collect()}
    assert out[0]["contaminated"] and out[0]["n_matched"] == 1
    assert out[1]["contaminated"]
    assert not out[2]["contaminated"] and out[2]["n_grams"] == 3
    assert not out[3]["contaminated"] and out[3]["n_grams"] == 0
    assert set(out) == {0, 1, 2, 3}  # every doc reported, even sub-k


def test_contamination_broadcast_plan(spark):
    """Broadcast regime must not shuffle the corpus for the join."""
    from docling_jobkit_spark.operators.decontam import contamination

    corpus = spark.createDataFrame(
        [(0, "a b c d e f")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    plan = (
        contamination(corpus, bench, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- PII -------------------------------------------------------------------


def test_pii_signals_counts_and_redaction(spark):
    from docling_jobkit_spark.operators.pii import pii_signals

    rows = [
        (0, "write to jo.doe+spam@corp.example.net today"),
        (1, "server at 192.168.0.17 answered"),
        (2, "call 555-123-4567 or +321-555-0100 now"),
        (3, "clean text with no personal data"),
        (4, "call 555.123.4567 soon"),   # dotted phone: must NOT leave an [IP]-residue
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_signals(df).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["has_pii"]
    assert out[0]["redacted_text"] == "write to [EMAIL] today"
    assert out[1]["n_ipv4"] == 1
    assert out[1]["redacted_text"] == "server at [IP] answered"
    assert out[2]["n_phones"] == 2
    assert out[2]["redacted_text"] == "call [PHONE] or [PHONE] now"
    assert not out[3]["has_pii"] and out[3]["redacted_text"] == rows[3][1]
    assert out[4]["redacted_text"] == "call [PHONE] soon"


def test_gopher_filter_reason_precedence(spark):
    from docling_jobkit_spark.operators.textstats import gopher_filter

    long_clean = " ".join(
        f"the w{i} and x{i} of y{i}" for i in range(8)
    )  # 40 tokens, en stopwords, no repeated 2-grams
    repetitive = " ".join(["spam ham"] * 20)  # 40 tokens, dup 2-grams
    rows = [
        (0, long_clean),
        (1, "short text"),                     # too_short
        (2, repetitive),                       # repetitive_2gram
        (3, " ".join(f"z{i}" for i in range(30))),  # no stopwords → lang_unknown
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_filter(df).collect()}
    assert out[0]["quality_ok"] and out[0]["quality_reject_reason"] is None
    assert out[1]["quality_reject_reason"] == "too_short"
    # repetition fires BEFORE lang (precedence), even though doc 2 is also 'und'
    assert out[2]["quality_reject_reason"] == "repetitive_2gram"
    assert out[3]["quality_reject_reason"] == "lang_unknown"


# --- near-dup cluster resolution -------------------------------------------


def test_near_dup_clusters_transitive_chain(spark):
    """A~B and B~C with no direct A~C edge must still form ONE cluster
    (pairwise keep-one under-deletes transitive groups); disjoint pairs
    and singletons stay separate."""
    from docling_jobkit_spark.operators.dedup import canonical_ids, near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    labels = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 10, 11)], "doc_id long")
    out = {r["doc_id"]: r for r in canonical_ids(docs, near_dup_clusters(pairs)).collect()}
    assert out[5]["cluster_id"] == 5 and out[5]["is_canonical"]  # singleton
    assert not out[4]["is_canonical"] and out[4]["cluster_id"] == 1
    keep = {d for d, r in out.items() if r["is_canonical"]}
    assert keep == {1, 5, 10}


def test_near_dup_clusters_long_chain_pointer_jumping(spark):
    """Chain-shaped component with diameter >> max_iterations: pointer
    jumping must converge in O(log d) rounds (plain propagation needs
    d rounds and used to silently return split clusters)."""
    from docling_jobkit_spark.operators.dedup import near_dup_clusters

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    labels = {
        r["id"]: r["cluster_id"]
        for r in near_dup_clusters(
            pairs, max_iterations=10, local_edge_threshold=0
        ).collect()
    }
    assert labels == {i: 0 for i in range(n + 1)}


def test_near_dup_clusters_nonconvergence_is_loud(spark):
    """If iterations run out with labels still moving, raise — never
    silently return partially merged clusters."""
    import pytest

    from docling_jobkit_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(pairs, max_iterations=1, local_edge_threshold=0)


def test_near_dup_clusters_matches_union_find(spark):
    """Property check vs a Python union-find on a random-ish fixed graph."""
    from docling_jobkit_spark.operators.dedup import near_dup_clusters

    edges = [(i, (i * 7 + 3) % 50) for i in range(50) if i != (i * 7 + 3) % 50]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert got == expected


def test_near_dup_clusters_local_matches_distributed(spark):
    """The size-adaptive local union-find path (small edge sets) must
    label every node identically to the distributed pointer-jumping
    loop — chains, stars, disjoint components, and reversed edges."""
    from docling_jobkit_spark.operators.dedup import near_dup_clusters

    edges = (
        [(i, i + 1) for i in range(30)]          # chain
        + [(100, 100 + i) for i in range(1, 8)]  # star
        + [(503, 502), (501, 502)]               # reversed edges
        + [(900, 901)]                           # disjoint pair
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {
        r["id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs, local_edge_threshold=0).collect()
    }
    assert local == dist and local[30] == 0 and local[502] == 501


def test_lit_array_helpers_bit_identical_to_column_api(spark):
    """lit_doubles/lit_double_rows/lit_longs build the literal in ONE
    expression parse (the Column-API form costs a py4j round trip per
    element — seconds for PQ/LSH matrices). The parsed values must be
    BIT-identical: repr() is the shortest round-trip decimal and Spark's
    ...D literal parses correctly-rounded, so every double — denormals
    and signed zeros included — survives exactly."""
    import random
    import struct

    from pyspark.sql import functions as F

    from docling_jobkit_spark.functions.scalar import (
        lit_double_rows,
        lit_doubles,
        lit_longs,
    )

    rng = random.Random(7)
    vals = (
        [rng.uniform(-1, 1) for _ in range(64)]
        + [rng.uniform(-1e300, 1e300) for _ in range(32)]
        + [rng.uniform(-1e-300, 1e-300) for _ in range(32)]
        + [0.0, -0.0, 1e308, 5e-324, -5e-324]
    )
    longs = [rng.randrange(-(2**62), 2**62) for _ in range(64)] + [0, -1]
    row = spark.range(1).select(
        F.array(*[F.lit(float(x)) for x in vals]).alias("d_old"),
        lit_doubles(vals).alias("d_new"),
        F.array(
            *[F.array(*[F.lit(float(x)) for x in vals[i::8]]) for i in range(8)]
        ).alias("m_old"),
        lit_double_rows([vals[i::8] for i in range(8)]).alias("m_new"),
        F.array(*[F.lit(v).cast("long") for v in longs]).alias("l_old"),
        lit_longs(longs).alias("l_new"),
    ).collect()[0]
    bits = lambda xs: [struct.pack(">d", v) for v in xs]  # noqa: E731
    assert bits(row["d_old"]) == bits(row["d_new"])
    assert [bits(r) for r in row["m_old"]] == [bits(r) for r in row["m_new"]]
    assert row["l_old"] == row["l_new"]
    # empties keep the right element type
    e = spark.range(1).select(
        lit_doubles([]).alias("d"), lit_longs([]).alias("l")
    )
    assert dict(e.dtypes) == {"d": "array<double>", "l": "array<bigint>"}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-finite"):
        lit_doubles([float("nan")])


def test_multimodal_feature_extraction_feeds_vector_family(spark):
    """extract_features emits the embeddings-table contract (vec_id,
    unit-norm embedding): deterministic, idempotent ids, and composable
    with the ANN + IVF operators unchanged."""
    import math

    from docling_jobkit_spark.operators.multimodal import (
        extract_features,
        image_features,
    )
    from docling_jobkit_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        kmeans_centroids,
    )

    rows = [(f"m{i}", bytes([i]) * (40 + i)) for i in range(12)]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    feats = extract_features(df, dim=16)
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 12
    for mid, payload in rows:
        r = got[mid]
        # pure-python stub == the distributed path, element for element
        assert r["embedding"] == pytest.approx(
            image_features(payload, dim=16, fake=True), abs=1e-12
        )
        assert math.isclose(
            sum(v * v for v in r["embedding"]), 1.0, rel_tol=1e-9
        )
        assert 0 < r["vec_id"] < (1 << 56)
    # idempotent: re-extraction reproduces ids and vectors exactly
    key = lambda r: (r["vec_id"], r["media_id"], tuple(r["embedding"]))  # noqa: E731
    assert {key(r) for r in feats.collect()} == {key(r) for r in got.values()}
    # composes with the vector family unchanged: each payload's own
    # feature is its cosine-top-1, and IVF assigns every row to a cell
    q = got["m3"]["embedding"]
    top = brute_force_topk(feats, q, k=1).collect()[0]
    assert top["vec_id"] == got["m3"]["vec_id"]
    cents = kmeans_centroids(feats, k=2, n_iter=2, sample_n=12)
    cells = ivf_assign(feats, cents).select("ivf_cell").distinct().collect()
    assert all(r["ivf_cell"] >= 0 for r in cells)
    # stub discipline: the real path refuses loudly
    with pytest.raises(NotImplementedError):
        image_features(b"x", fake=False)


def test_lit_strings_bit_identical_and_escaped(spark):
    from pyspark.sql import functions as F

    from docling_jobkit_spark.functions.scalar import lit_strings

    vals = [
        "plain",
        "file:///tmp/a b/part-0001.parquet",
        "quote's",
        "back\\slash",
        "new\nline",
        "tab\tand\rcr",
        "unicode-é✓",
        "",
    ]
    row = spark.range(1).select(
        F.array(*[F.lit(v) for v in vals]).alias("o"),
        lit_strings(vals).alias("n"),
    ).collect()[0]
    assert list(row["o"]) == list(row["n"]) == vals
    e = spark.range(1).select(lit_strings([]).alias("s"))
    assert dict(e.dtypes) == {"s": "array<string>"}
