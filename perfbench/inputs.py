"""Seeded inputs for the two workloads, cached per seed under the work
directory, plus the reference digests the outputs are checked against.

The program never sees a seed: each workload reads only the files
written here. References come from the single-threaded extractors
(``extractor.extract.extract`` / ``extractor.pdf.extract_pdf``), never
from Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from docling_jobkit_spark.corpus import generate_pages
from docling_jobkit_spark.extractor import pdf_gen as g
from docling_jobkit_spark.extractor.extract import extract
from docling_jobkit_spark.extractor.pdf import extract_pdf
from docling_jobkit_spark.operators.chunker import chunk_text

PAGES_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)

# Ingest prose: English function words between content words drawn from
# a 4,096-word synthetic vocabulary, so distinct documents share few
# shingles (the corpus generator's 64-word vocabulary makes every long
# page a near-duplicate of every other).
_STOP = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "on")
_SYL = ("ka", "lo", "mi", "ren", "sto", "va", "pel", "dor", "tin", "ush",
        "gra", "mon", "fe", "zi", "bar", "que", "lin", "tor", "ame", "vis")


def _vocab() -> list[str]:
    rng = random.Random(7)
    words: set[str] = set()
    while len(words) < 4096:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3))))
    return sorted(words)


def digest_key(url: str | None, n_bytes: int, text: str | None) -> str:
    """One document's identity in the order-insensitive output digest."""
    sha = hashlib.sha256((text or "").encode("utf-8")).hexdigest()
    return f"{url}\x1f{n_bytes}\x1f{sha}"


def _write_files(rows: list[dict], out_dir: str, n_files: int) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(n_files):
        part = rows[k::n_files]
        path = os.path.join(out_dir, f"part-{k:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(part, schema=PAGES_SCHEMA), path)
        paths.append(path)
    return paths


def _pdf_pages(rng: random.Random, vocab: list[str]) -> list:
    """A 1-4 page document: title, headings, paragraphs, tables, figures;
    one page in four is two-column (untitled, with columns long enough
    for gutter detection). Table cells are short words and numbers: the
    layout the generator's expected text is exact for."""

    def words(lo: int, hi: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))

    short = [v for v in vocab if len(v) <= 5]
    pages = []
    for p in range(rng.choice((1, 1, 2, 3, 4))):
        if rng.random() < 0.25:
            cols = [
                [g.para(words(30, 45)), g.para(words(30, 45))] for _ in range(2)
            ]
            pages.append(g.Page.of(*cols))
            continue
        blocks = [g.heading(words(2, 5).title())]
        for _ in range(rng.randint(2, 5)):
            roll = rng.random()
            if roll < 0.15:
                blocks.append(
                    g.table([[rng.choice(short), str(rng.randint(1, 999))]
                             for _ in range(rng.randint(2, 4))])
                )
            elif roll < 0.22:
                blocks.append(g.figure())
            else:
                blocks.append(g.para(words(12, 60)))
        pages.append(g.Page.of(blocks, title=words(3, 6).title() if p == 0 else None))
    return pages


def pdf_rows(seed: int, n: int) -> list[tuple[dict, str]]:
    """(page row, expected text) for n generated PDFs."""
    vocab = _vocab()
    out = []
    for i in range(n):
        rng = random.Random((seed << 24) ^ (i + 1) ^ 0x5EED)
        spec = _pdf_pages(rng, vocab)
        row = {
            "url": f"https://papers.example.net/{seed}/{i}.pdf",
            "warc_ts": None,
            "html": g.build_pdf(spec, compress=rng.random() < 0.5),
            "text": None,
            "lang": "en",
        }
        out.append((row, g.expected_text(spec)))
    return out


class SeedCache:
    """Per-(workload, seed) directory holding inputs and ``meta.json``."""

    def __init__(self, work: str, workload: str, seed: int) -> None:
        self.dir = os.path.join(work, "cache", f"{workload}-s{seed}")
        self.meta_path = os.path.join(self.dir, "meta.json")
        self.expect_path = os.path.join(self.dir, "expect.json")

    def ready(self) -> bool:
        return os.path.exists(self.meta_path)

    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    def save_meta(self, meta: dict) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self.meta_path)

    def expect(self, key: str, value) -> bool:
        """True when ``value`` equals what an earlier run with this seed
        recorded under ``key`` (the first run records it)."""
        seen = {}
        if os.path.exists(self.expect_path):
            with open(self.expect_path) as f:
                seen = json.load(f)
        if key in seen:
            return seen[key] == value
        seen[key] = value
        tmp = self.expect_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(seen, f)
        os.replace(tmp, self.expect_path)
        return True


def prepare_convert_commit(
    cache: SeedCache, seed: int, n_html: int, n_pdf: int, n_files: int
) -> dict:
    """~4 KB pathological HTML pages mixed in one binary column with
    generated PDFs (some multi-page); reference digest, each PDF's
    expected text from ``pdf_gen.expected_text``, the chunk count of
    ``chunker.chunk_text`` with its defaults (the count depends on the
    text alone) and the number of distinct urls with a chunk."""
    html = generate_pages(n_html, seed=seed)
    pdfs = pdf_rows(seed, n_pdf)
    for row, _exp in pdfs:
        row["warc_ts"] = html[0]["warc_ts"]
    rows = html + [row for row, _exp in pdfs]
    random.Random(seed).shuffle(rows)
    ref = []
    n_chunks, chunked = 0, set()
    for r in rows:
        if r["url"].endswith(".pdf"):
            text = extract_pdf(r["html"], r["url"]).text
        else:
            text = extract(r["html"], r["url"]).text
        ref.append(digest_key(r["url"], len(r["html"]), text))
        n = len(chunk_text(text, None))
        n_chunks += n
        if n:
            chunked.add(r["url"])
    expected = {row["url"]: hashlib.sha256(exp.encode()).hexdigest() for row, exp in pdfs}
    paths = _write_files(rows, os.path.join(cache.dir, "pages"), n_files)
    return {
        "files": paths,
        "n_docs": len(rows),
        "n_pdf": n_pdf,
        "ref": sorted(ref),
        "pdf_expected_sha": expected,
        "chunks": [n_chunks, len(chunked)],
    }


def ingest_documents(seed: int, n: int) -> pa.Table:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) of
    distinct English-shaped prose, 60-160 words per document. About 6% of
    the documents have no function words, so no language is identified,
    and about 6% have 6-12 words, too few for the Gopher quality gate."""
    vocab = _vocab()
    rng = random.Random(seed ^ 0x1D6E57)
    ids, texts = [], []
    for i in range(n):
        sents = []
        roll = rng.random()
        n_words = rng.randint(6, 12) if roll < 0.06 else rng.randint(60, 160)
        stop = not 0.06 <= roll < 0.12
        while n_words > 0:
            k = min(n_words, rng.randint(8, 16))
            ws = []
            for j in range(k):
                ws.append(rng.choice(_STOP) if stop and j % 3 == 1 else rng.choice(vocab))
            ws[0] = ws[0].capitalize()
            sents.append(" ".join(ws) + ".")
            n_words -= k
        ids.append(i)
        texts.append(" ".join(sents))
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
