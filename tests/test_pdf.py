"""From-scratch PDF extractor: generator-roundtrip oracle + handcrafted
spec-corner fixtures + Spark operator equivalence.

The generator (pdf_gen.py) computes the exact expected extraction for
every spec it renders, so roundtrip equality is a *total* oracle over
layout (reading order, columns, tables, figures, headings), not a spot
check. Handcrafted PDFs cover object/content-stream corners the
generator never emits (escapes, hex strings, TJ kerning, form XObjects,
invisible text, broken inputs)."""

from __future__ import annotations

import zlib

import pandas as pd
import pytest

from docling_jobkit_spark.extractor import pdf, pdf_gen as g
from docling_jobkit_spark.extractor.pdf import extract_pdf


# ---------------------------------------------------------------------------
# handcrafted minimal PDFs
# ---------------------------------------------------------------------------
def mini_pdf(content: bytes, extra_objs: dict[int, bytes] | None = None,
             resources: bytes = b"<< /Font << /F1 5 0 R >> >>") -> bytes:
    objs: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources " + resources + b" /Contents 4 0 R >>"),
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    }
    if extra_objs:
        objs.update(extra_objs)
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objs[num])
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (max(objs) + 1)
    for num in range(1, max(objs) + 1):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        max(objs) + 1, xref)
    return bytes(out)


def line(text: bytes, y: int = 700, x: int = 72, size: int = 10) -> bytes:
    return b"BT /F1 %d Tf 1 0 0 1 %d %d Tm (%s) Tj ET" % (size, x, y, text)


# ---------------------------------------------------------------------------
# generator-roundtrip oracle
# ---------------------------------------------------------------------------
def _mixed_pages():
    p1 = g.Page.of(
        [g.heading("Results"),
         g.para("The quick brown fox jumps over the lazy dog repeatedly until done."),
         g.table([["name", "count"], ["alpha", "12"], ["beta", "345"]]),
         g.figure(),
         g.para("A closing paragraph with several more words to wrap across lines.")],
    )
    p2 = g.Page.of(
        [g.para("Left column first paragraph with plenty of words to fill two lines at least."),
         g.para("Left column second paragraph also long enough to wrap onto another line.")],
        [g.para("Right column opening paragraph long enough to wrap onto two lines here."),
         g.para("Right column closer, again with sufficient length for wrapping purposes.")],
        title="A Two Column Title That Spans The Whole Page",
    )
    return [p1, p2]


@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_mixed_layout(compress):
    pages = _mixed_pages()
    res = extract_pdf(g.build_pdf(pages, compress=compress), "u")
    assert res.status == "SUCCESS" and res.error is None
    assert res.n_pages == 2
    assert res.text == g.expected_text(pages)
    assert [s.kind for s in res.spans] == g.expected_kinds(pages)


def test_span_offsets_slice_back_to_block_texts():
    pages = _mixed_pages()
    res = extract_pdf(g.build_pdf(pages))
    texts = [t for p in pages for _k, t in g.expected_blocks(p)]
    assert [res.text[s.start:s.end] for s in res.spans] == texts


def test_reading_order_two_columns_after_full_width_title():
    pages = _mixed_pages()
    res = extract_pdf(g.build_pdf(pages))
    page2 = res.text.split("\f")[1].split("\n\n")
    assert page2[0].startswith("A Two Column Title")
    assert page2[1].startswith("Left column first")
    assert page2[2].startswith("Left column second")
    assert page2[3].startswith("Right column opening")
    assert page2[4].startswith("Right column closer")


def test_wide_title_stopping_short_of_gutter_still_detects_columns():
    """Regression: a full-width title whose estimated end lands a few
    points BEFORE the right column's x must count as crossing (it
    intrudes into the gutter zone), not shrink the measured gap below
    threshold — doc 149 of the sf0.001 corpus merged its two columns
    into a fake table before the gutter-zone rule."""
    # title sized to end ~9pt short of the right column (x0=324)
    title = "a hash merge key fast order"  # 27 chars * 9pt = 243 -> x1=315
    pages = [g.Page.of(
        [g.para("left column body " * 9)], [g.para("right column body " * 9)],
        title=title,
    )]
    res = extract_pdf(g.build_pdf(pages))
    assert res.text == g.expected_text(pages)
    assert [s.kind for s in res.spans][0] == "heading"


def test_table_cells_tab_joined_rows_newline_joined():
    pages = [g.Page.of([g.table([["a", "bb", "ccc"], ["1", "22", "333"]])])]
    res = extract_pdf(g.build_pdf(pages))
    assert res.text == "a\tbb\tccc\n1\t22\t333"
    assert res.spans[0].kind == "table"


def test_multipage_joined_by_formfeed_and_unicode_text():
    pages = [g.Page.of([g.para("première page naïve — déjà vu")]),
             g.Page.of([g.para("second page")])]
    res = extract_pdf(g.build_pdf(pages))
    assert res.text == "première page naïve — déjà vu\fsecond page"
    assert res.n_pages == 2


def test_generator_and_extractor_are_pure():
    pages = _mixed_pages()
    assert g.build_pdf(pages) == g.build_pdf(pages)
    data = g.build_pdf(pages)
    a, b = extract_pdf(data), extract_pdf(data)
    # timings are wall-clock by contract (extract.py: "NOT part of the
    # byte-identical contract"); everything else must be bit-equal
    assert (a.url, a.status, a.text, a.spans, a.error, a.n_pages) == (
        b.url, b.status, b.text, b.spans, b.error, b.n_pages
    )


def test_hard_split_words_match_expected_oracle():
    word = "supercalifragilisticexpialidocious" * 8
    pages = [g.Page.of([g.para(word)])]
    res = extract_pdf(g.build_pdf(pages))
    assert res.text == g.expected_text(pages)
    assert res.text.replace(" ", "") == word


# ---------------------------------------------------------------------------
# content-stream corners (handcrafted)
# ---------------------------------------------------------------------------
def test_literal_string_escapes_and_nesting():
    content = line(rb"a\(b\)c \\ \110\151 (nested) end")
    res = extract_pdf(mini_pdf(content))
    assert res.text == r"a(b)c \ Hi (nested) end"


def test_hex_string_tj():
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <48656C6C6F> Tj ET"
    assert extract_pdf(mini_pdf(content)).text == "Hello"


def test_tj_array_kerning_space_rule():
    big = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm [(Hello) -250 (world)] TJ ET"
    small = b"BT /F1 10 Tf 1 0 0 1 72 600 Tm [(Hel) -50 (lo)] TJ ET"
    assert extract_pdf(mini_pdf(big)).text == "Hello world"
    assert extract_pdf(mini_pdf(small)).text == "Hello"


def test_td_tstar_quote_operators_build_lines():
    content = (b"BT /F1 10 Tf 12 TL 1 0 0 1 72 700 Tm (one) Tj "
               b"(two) ' (three) ' ET")
    res = extract_pdf(mini_pdf(content))
    # 12pt leading at 10pt font: successive lines, same block
    assert res.text == "one two three"


def test_invisible_text_mode_is_skipped():
    content = (line(b"visible", y=700) + b"\n" +
               b"BT /F1 10 Tf 3 Tr 1 0 0 1 72 680 Tm (hidden) Tj ET")
    assert extract_pdf(mini_pdf(content)).text == "visible"


def test_form_xobject_recursion_with_matrix():
    form = b"BT /F1 10 Tf 1 0 0 1 0 0 Tm (from form) Tj ET"
    extra = {
        6: (b"<< /Type /XObject /Subtype /Form /BBox [0 0 200 50] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Length %d >>"
            b"\nstream\n%s\nendstream" % (len(form), form)),
    }
    res_dict = b"<< /Font << /F1 5 0 R >> /XObject << /Fx0 6 0 R >> >>"
    content = b"q 1 0 0 1 72 700 cm /Fx0 Do Q"
    res = extract_pdf(mini_pdf(content, extra, res_dict))
    assert res.text == "from form"


def test_image_xobject_and_inline_image_become_figures():
    extra = {
        6: (b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>"
            b"\nstream\n\x80\nendstream"),
    }
    res_dict = b"<< /Font << /F1 5 0 R >> /XObject << /Im0 6 0 R >> >>"
    content = (line(b"above", y=700) + b"\n"
               b"q 50 0 0 50 72 600 cm /Im0 Do Q\n" + line(b"below", y=560))
    res = extract_pdf(mini_pdf(content, extra, res_dict))
    assert res.text == "above\n\n[figure]\n\nbelow"
    assert [s.kind for s in res.spans] == ["text", "figure", "text"]


def test_graphics_state_stack_restores_ctm():
    content = (b"q 2 0 0 2 0 0 cm " + line(b"scaled", y=350) + b" Q\n"
               + line(b"normal", y=680))
    res = extract_pdf(mini_pdf(content))
    # scaled text renders at y=700 device with size 20 -> heading-sized
    assert "scaled" in res.text and "normal" in res.text
    kinds = {res.text[s.start:s.end]: s.kind for s in res.spans}
    assert kinds["scaled"] == "heading"


def test_flate_stream_with_direct_length():
    raw = line(b"compressed content line")
    body = zlib.compress(raw)
    objs = {4: b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
               % (len(body), body)}
    res = extract_pdf(mini_pdf(b"", objs))
    assert res.text == "compressed content line"


# ---------------------------------------------------------------------------
# tolerance + failure rows
# ---------------------------------------------------------------------------
def test_junk_before_header_and_broken_xref_tolerated():
    data = g.build_pdf([g.Page.of([g.para("still readable")])])
    prefixed = b"\xff\xfe junk " + data  # magic still within first 1KB
    broken = data.replace(b"0000000015", b"0000009999", 1)  # xref is ignored
    assert extract_pdf(prefixed).text == "still readable"
    assert extract_pdf(broken).text == "still readable"


def test_failure_rows_never_raise():
    empty = extract_pdf(b"")
    assert empty.status == "FAILURE" and empty.error.category == "SOURCE_UNAVAILABLE"
    not_pdf = extract_pdf(b"<html><body>hi</body></html>")
    assert not_pdf.status == "FAILURE" and not_pdf.error.category == "POLICY"
    too_big = extract_pdf(g.build_pdf([g.Page.of([g.para("x")])]), max_bytes=10)
    assert too_big.status == "FAILURE" and "max_file_size" in too_big.error.message
    pages = [g.Page.of([g.para("a")]), g.Page.of([g.para("b")])]
    too_many = extract_pdf(g.build_pdf(pages), max_pages=1)
    assert too_many.status == "FAILURE" and too_many.error.category == "POLICY"
    assert too_many.n_pages == 2


def test_unsupported_filter_and_corrupt_flate_are_policy_rows():
    raw = line(b"x")
    objs = {4: b"<< /Length %d /Filter /DCTDecode >>\nstream\n%s\nendstream"
               % (len(raw), raw)}
    res = extract_pdf(mini_pdf(b"", objs))
    assert res.status == "FAILURE" and "unsupported stream filter" in res.error.message
    objs = {4: b"<< /Length 9 /Filter /FlateDecode >>\nstream\nnotflate!\nendstream"}
    res = extract_pdf(mini_pdf(b"", objs))
    assert res.status == "FAILURE" and "Flate" in res.error.message


def test_truncated_pdf_is_failure_row_not_exception():
    data = g.build_pdf(_mixed_pages())
    for cut in (20, 200, len(data) // 2):
        res = extract_pdf(data[:cut])
        assert res.status in ("SUCCESS", "FAILURE")  # never raises


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------
def test_spark_pdf_operator_matches_driver(spark):
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pages = _mixed_pages()
    rows = [("pdf://doc/%d" % i, g.build_pdf(pages, compress=bool(i % 2)))
            for i in range(6)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "pdf"]),
        schema="url string, pdf binary",
    )
    got = {
        r["url"]: r
        for r in extract_documents(df, payload_format="pdf", payload_col="pdf").collect()
    }
    for url, data in rows:
        exp = extract_pdf(data, url)
        assert got[url]["status"] == exp.status
        assert got[url]["extracted_text"] == exp.text
        assert got[url]["n_pages"] == exp.n_pages
        assert [tuple(s) for s in got[url]["spans"]] == [tuple(s) for s in exp.spans]
        assert got[url]["content_hash"] is not None


def test_spark_auto_routing_mixed_corpus(spark):
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pdf_bytes = g.build_pdf([g.Page.of([g.para("pdf payload body text")])])
    html_bytes = (b"<html><body><p>" +
                  b"an html paragraph long enough to be kept by the classifier" +
                  b"</p></body></html>")
    df = spark.createDataFrame(
        pd.DataFrame(
            [("u://pdf", pdf_bytes), ("u://html", html_bytes), ("u://junk", b"\x00\x01")],
            columns=["url", "html"],
        ),
        schema="url string, html binary",
    )
    got = {r["url"]: r for r in extract_documents(df, payload_format="auto").collect()}
    assert got["u://pdf"]["extracted_text"] == "pdf payload body text"
    assert "an html paragraph" in got["u://html"]["extracted_text"]
    # junk routes to the HTML extractor (no %PDF- magic): any structured
    # outcome is fine — the contract is rows, never task failures
    assert got["u://junk"]["status"] in ("SUCCESS", "PARTIAL_SUCCESS", "FAILURE")


# ---------------------------------------------------------------------------
# page splitting + sliced fan-out
# ---------------------------------------------------------------------------
def _threepage_spec():
    return [
        g.Page.of([g.heading("P1"), g.para("first page body with enough words here"),
                   g.table([["a", "b"], ["1", "2"]])]),
        g.Page.of([g.para("second page body text with several words"), g.figure()]),
        g.Page.of([g.para("third page closing paragraph body words")]),
    ]


@pytest.mark.parametrize("k", [1, 2])
def test_split_pdf_slices_extract_to_full_document(k):
    data = g.build_pdf(_threepage_spec(), compress=True)
    full = extract_pdf(data)
    parts, n_total = pdf.split_pdf(data, k)
    assert n_total == 3
    assert len(parts) == (3 + k - 1) // k
    texts = [extract_pdf(p).text for p in parts]
    assert "\f".join(texts) == full.text
    # each sub-PDF is self-contained: the figure slice carries the image
    # object closure, the first slice its font
    assert all(extract_pdf(p).status == "SUCCESS" for p in parts)


def test_split_pdf_raises_on_unparseable():
    with pytest.raises(pdf.PdfParseError):
        pdf.split_pdf(b"%PDF-1.4 garbage with no objects", 1)


def test_spark_pdf_sliced_matches_single_shot(spark):
    from docling_jobkit_spark.operators.extract_op import extract_documents
    from docling_jobkit_spark.operators.slices import extract_pdf_documents_sliced

    multi = g.build_pdf(_threepage_spec(), compress=True)
    single = g.build_pdf([g.Page.of([g.para("one page doc body text")])])
    corrupt = multi[16:]  # header stripped -> single-shot failure row
    rows = [
        ("u://a", multi), ("u://b", single),
        ("u://dup", multi), ("u://dup", single),  # duplicate url, distinct payloads
        ("u://bad", corrupt),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "pdf"]), schema="url string, pdf binary"
    )
    sliced = extract_pdf_documents_sliced(df, pages_per_slice=1, slice_min_pages=2)
    direct = extract_documents(df, payload_format="pdf", payload_col="pdf")

    def key(r):
        return (r["url"], r["n_bytes"], r["extracted_text"])

    got = sorted(
        ((r["url"], r["status"], r["extracted_text"], r["n_pages"],
          [tuple(s) for s in r["spans"]], r["content_hash"])
         for r in sliced.collect())
    )
    want = sorted(
        ((r["url"], r["status"], r["extracted_text"], r["n_pages"],
          [tuple(s) for s in r["spans"]], r["content_hash"])
         for r in direct.collect())
    )
    assert got == want


def test_warc_pdf_mixed_corpus_composes_with_auto_router(spark, tmp_path):
    """Common-Crawl shape: a .warc.gz shard holding BOTH html and pdf
    response payloads scans through read_warc and converts in one pass
    via the content-sniffing router — the mixed-format crawl loop."""
    from docling_jobkit_spark.operators.extract_op import extract_documents
    from docling_jobkit_spark.sources.warc import read_warc, write_warc

    pdf_bytes = g.build_pdf([g.Page.of([g.para("warc pdf body text")])], compress=True)
    html_bytes = (b"<html><body><p>a kept html paragraph with enough "
                  b"characters to classify as good</p></body></html>")
    df = spark.createDataFrame(
        pd.DataFrame(
            [("w://pdf", pdf_bytes), ("w://html", html_bytes)],
            columns=["url", "html"],
        ),
        schema="url string, html binary",
    )
    out = str(tmp_path / "warc_mixed")
    write_warc(df.repartition(1), out)
    records = read_warc(spark, out).where("warc_type = 'response'")
    pages = records.select(
        records["target_uri"].alias("url"), records["payload"].alias("html")
    )
    got = {r["url"]: r for r in extract_documents(pages, payload_format="auto").collect()}
    assert got["w://pdf"]["extracted_text"] == "warc pdf body text"
    assert "a kept html paragraph" in got["w://html"]["extracted_text"]


def test_jvm_page_count_estimate_matches_exact_on_wellformed(spark):
    from docling_jobkit_spark.operators.slices import pdf_page_count_col

    fixtures = [
        g.build_pdf(_threepage_spec(), compress=True),          # 3 pages
        g.build_pdf([g.Page.of([g.para("one page")])]),         # 1 page
        g.build_pdf([g.Page.of([g.para("a")]) for _ in range(5)]),  # 5 pages
        b"not a pdf at all",                                    # -> 1
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, b) for i, b in enumerate(fixtures)], columns=["i", "pdf"]
        ),
        schema="i int, pdf binary",
    )
    got = {r["i"]: r["est"] for r in
           df.select("i", pdf_page_count_col("pdf").alias("est")).collect()}
    exact = [pdf.pdf_page_count(b) for b in fixtures]
    assert [got[i] for i in range(4)] == exact == [3, 1, 5, 1]


def test_seeded_mutation_fuzz_never_raises_and_is_deterministic():
    """Failures-are-rows under arbitrary corruption: 150 seeded random
    mutations of a valid compressed PDF (byte flips, deletes, inserts)
    plus systematic truncations must all return a structured result, and
    extraction must be bit-deterministic on every one of them."""
    import random

    base = g.build_pdf(
        [g.Page.of([g.heading("T"), g.para("body text here with words"),
                    g.table([["a", "b"], ["1", "2"]]), g.figure()])],
        compress=True,
    )
    rng = random.Random(42)
    for _ in range(150):
        data = bytearray(base)
        for _m in range(rng.randint(1, 30)):
            op = rng.random()
            pos = rng.randrange(len(data))
            if op < 0.5:
                data[pos] = rng.randrange(256)
            elif op < 0.75:
                del data[pos]
            else:
                data.insert(pos, rng.randrange(256))
        payload = bytes(data)
        a = extract_pdf(payload)
        b = extract_pdf(payload)
        assert (a.status, a.text, a.spans, a.error) == (b.status, b.text, b.spans, b.error)
    for cut in range(0, len(base), 97):
        assert extract_pdf(base[:cut]).status in ("SUCCESS", "FAILURE")


def test_object_stream_packed_objects_are_read():
    """PDF 1.5+ layout: the page and font dicts live INSIDE a compressed
    /Type /ObjStm object stream (the layout virtually every modern
    writer emits); only the catalog, pages node, content stream, and the
    object stream itself are top-level objects."""
    content = line(b"packed objects work")
    page = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    header = b"3 0 5 %d " % (len(page) + 1)
    body = header + page + b" " + font
    first = len(header)
    packed = zlib.compress(body)
    objstm = (b"<< /Type /ObjStm /N 2 /First %d /Filter /FlateDecode "
              b"/Length %d >>\nstream\n%s\nendstream" % (first, len(packed), packed))
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
        6: objstm,
    }
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objs[num])
    out += b"trailer\n<< /Size 7 /Root 1 0 R >>\n%%EOF\n"
    res = extract_pdf(bytes(out))
    assert res.status == "SUCCESS"
    assert res.text == "packed objects work"


def test_type0_cid_font_decodes_via_tounicode_cmap():
    """Modern embedded-subset-font PDFs: 2-byte CID codes are opaque
    without the /ToUnicode CMap. Covers bfchar, the incrementing bfrange
    form, and the explicit-array bfrange form."""
    cmap = (b"/CIDInit /ProcSet findresource begin\n"
            b"begincmap\n"
            b"3 beginbfchar\n"
            b"<0001> <0048>\n<0002> <0065>\n<0003> <006C>\n"
            b"endbfchar\n"
            b"2 beginbfrange\n"
            b"<0004> <0005> <006F>\n"
            b"<0006> <0007> [<0041> <00420043>]\n"
            b"endbfrange\nendcmap\nend")
    content = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm "
               b"<000100020003000300040005> Tj ET\n"
               b"BT /F1 10 Tf 1 0 0 1 72 680 Tm <00060007> Tj ET")
    extra = {
        6: (b"<< /Type /Font /Subtype /Type0 /BaseFont /Sub+CID "
            b"/Encoding /Identity-H /DescendantFonts [7 0 R] "
            b"/ToUnicode 8 0 R >>"),
        7: (b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Sub+CID "
            b"/DW 600 /W [1 [500 600 700]] >>"),
        8: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(cmap), cmap),
    }
    res = extract_pdf(mini_pdf(content, extra, b"<< /Font << /F1 6 0 R >> >>"))
    assert res.status == "SUCCESS"
    # 20pt between baselines at 10pt font > the 1.8x block-gap: two blocks
    assert res.text == "Hellop\n\nABC"


def test_simple_font_widths_drive_advance_and_layout_extents():
    """/Widths metrics flow into BOTH the unpositioned advance and the
    layout's run extents (Run.w): consecutive Tj ops are adjacent
    whatever the glyph width, and an explicitly positioned second run
    reads as touching or gapped according to the TRUE width of the
    first — the 0.5-size model would misread the wide-glyph case as a
    31pt cell gap."""
    def doc(widths, content):
        extra = {
            6: (b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                b"/FirstChar 97 /LastChar 99 /Widths [%s] >>" % widths),
        }
        return mini_pdf(content, extra, b"<< /Font << /F1 6 0 R >> >>")

    consec = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (aa) Tj (bb) Tj ET"
    assert extract_pdf(doc(b"250 250 250", consec)).text == "aabb"
    assert extract_pdf(doc(b"2000 2000 2000", consec)).text == "aabb"

    positioned = (b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (aa) Tj ET\n"
                  b"BT /F1 10 Tf 1 0 0 1 113 700 Tm (bb) Tj ET")
    # wide glyphs: 'aa' truly extends to x=112 -> 1pt gap -> adjacent
    assert extract_pdf(doc(b"2000 2000 2000", positioned)).text == "aabb"
    # narrow glyphs: 'aa' ends at x=77 -> 36pt gap -> separated
    assert extract_pdf(doc(b"250 250 250", positioned)).text == "aa bb"


def test_encrypted_pdf_is_refused_with_policy_row():
    """An /Encrypt trailer means strings/streams are ciphertext —
    extraction must refuse (POLICY row), not emit deterministic
    garbage."""
    data = g.build_pdf([g.Page.of([g.para("secret")])])
    enc = data.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    res = extract_pdf(enc)
    assert res.status == "FAILURE"
    assert "encrypted" in res.error.message


def test_utf16be_bom_string_decodes():
    # U+0048 U+00E9 -> "Hé" as a BOM-prefixed UTF-16BE literal string
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <FEFF004800E9> Tj ET"
    assert extract_pdf(mini_pdf(content)).text == "Hé"


def test_pipeline_auto_format_mixed_corpus_with_resume(spark, tmp_path):
    """The production pipeline (admission → salted repartition → sliced
    extraction → commit groups → resume) over a MIXED html+pdf corpus
    with payload_format='auto': per-row results equal the single-shot
    extractors, and a rerun is a committed no-op."""
    from docling_jobkit_spark.extractor.extract import extract as extract_html
    from docling_jobkit_spark.plans.pipeline import (
        ExtractionPipeline,
        PipelineConfig,
    )

    multi_pdf = g.build_pdf(_threepage_spec(), compress=True)
    one_pdf = g.build_pdf([g.Page.of([g.para("single page pdf body")])])
    html = (b"<html><body><p>an html paragraph with enough characters "
            b"to be kept by the block classifier</p></body></html>")
    rows = [(f"u://{i}", [multi_pdf, one_pdf, html][i % 3]) for i in range(12)]
    src = str(tmp_path / "mixed_pages.parquet")
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "html"]),
        schema="url string, html binary",
    ).write.parquet(src)

    cfg = PipelineConfig(
        num_partitions=4, n_commit_groups=2, payload_format="auto",
        pages_per_slice=1, slice_min_pages=2,
    )
    pipe = ExtractionPipeline(spark, cfg)
    out = str(tmp_path / "out")
    log = pipe.run(spark.read.parquet(src), out, run_id="mix1")
    got = {r["url"]: r for r in log.committed_results(spark).collect()}
    assert len(got) == 12
    for url, payload in rows:
        want = (extract_pdf(payload) if payload != html
                else extract_html(payload))
        assert got[url]["status"] == want.status
        assert got[url]["extracted_text"] == want.text
    # resume: rerun commits nothing new and returns the same snapshot
    log2 = pipe.run(spark.read.parquet(src), out, run_id="mix1")
    assert log2.committed_results(spark).count() == 12


def test_stream_extract_auto_routes_mixed_payloads(spark, tmp_path):
    """Streaming twin of the format router: an AvailableNow drain over a
    mixed html+pdf pages directory converts both formats exactly once."""
    import os

    from docling_jobkit_spark.streaming import start_file_stream, stream_extract

    indir = str(tmp_path / "in")
    os.makedirs(indir)
    pdf_bytes = g.build_pdf([g.Page.of([g.para("streamed pdf body")])])
    html = (b"<html><body><p>a streamed html paragraph long enough to "
            b"be kept by the classifier</p></body></html>")
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    # one plain parquet FILE (the stream source lists files, not
    # spark-writer directories — write_pages_parquet's shape)
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    table = pa.table({
        "url": ["s://pdf", "s://html"],
        "warc_ts": pa.array([ts, ts], pa.timestamp("us", tz="UTC")),
        "html": pa.array([pdf_bytes, html], pa.binary()),
        "text": ["", ""],
        "lang": ["en", "en"],
    })
    pq.write_table(table, f"{indir}/batch1.parquet")

    q = start_file_stream(
        stream_extract(spark, indir, payload_format="auto"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(180)
    got = {r["url"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got["s://pdf"]["extracted_text"] == "streamed pdf body"
    assert "a streamed html paragraph" in got["s://html"]["extracted_text"]


def _sniff_probes() -> dict[str, bytes | None]:
    """Payloads on the edge of the ``%PDF-`` sniff: the magic inside or
    just outside the first 1024 bytes, behind multi-byte characters,
    and behind stray UTF-8 lead bytes that a character-counting check
    would let swallow it."""
    multi = g.build_pdf(_threepage_spec(), compress=True)
    html = b"<!--PAGE_BREAK-->".join(
        b"<html><body><p>page %d of an html document long enough to be "
        b"kept by the block classifier</p></body></html>" % i
        for i in range(3)
    )
    return {
        "s://at0": multi,
        "s://at1019": b"x" * 1019 + multi,
        "s://at1020": b"x" * 1020 + multi,
        "s://at1030": b"x" * 1030 + multi,
        "s://eacute": "\u00e9".encode() * 600 + multi,
        "s://f0": b"\xf0" + multi,
        "s://abe2": b"ab\xe2" + multi,
        "s://html": html,
        "s://null": None,
    }


def test_pdf_sniff_is_one_decision_on_every_path(spark, tmp_path):
    """``is_pdf`` is the one PDF/HTML definition: its JVM twin agrees on
    every probe, and the auto pipeline with and without slicing and the
    streaming extractor all give the rows of the single-shot extractor
    that ``is_pdf`` picks."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_jobkit_spark.extractor.extract import extract as extract_html
    from docling_jobkit_spark.operators.extract_op import pdf_sniff_col
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig
    from docling_jobkit_spark.streaming import start_file_stream, stream_extract

    probes = _sniff_probes()
    df = spark.createDataFrame(list(probes.items()), "url string, html binary")
    sniffed = {
        r["url"]: r["s"]
        for r in df.select("url", pdf_sniff_col("html").alias("s")).collect()
    }
    assert sniffed == {u: pdf.is_pdf(p) for u, p in probes.items()}
    assert sniffed["s://at1030"] is False and sniffed["s://f0"] is True

    def rows(results):
        return {
            r["url"]: (r["status"], r["extracted_text"], r["n_pages"], r["n_bytes"],
                       [tuple(s) for s in r["spans"]], r["content_hash"])
            for r in results.collect()
        }

    def oracle(url, p):
        res = extract_pdf(p, url) if pdf.is_pdf(p) else extract_html(p, url)
        return res.status, res.text, res.n_pages, [tuple(s) for s in res.spans]

    want = {u: oracle(u, p) for u, p in probes.items()}
    got = []
    for slicing in (False, True):
        pipe = ExtractionPipeline(spark, PipelineConfig(
            num_partitions=2, payload_format="auto", use_slicing=slicing,
            pages_per_slice=1, slice_min_pages=2,
        ))
        got.append(rows(pipe.extract(df)))
    indir = tmp_path / "in"
    indir.mkdir()
    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    pq.write_table(pa.table({
        "url": list(probes),
        "warc_ts": pa.array([ts] * len(probes), pa.timestamp("us", tz="UTC")),
        "html": pa.array(list(probes.values()), pa.binary()),
        "text": [""] * len(probes),
        "lang": ["en"] * len(probes),
    }), str(indir / "batch1.parquet"))
    q = start_file_stream(
        stream_extract(spark, str(indir), payload_format="auto"),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(180)
    got.append(rows(spark.read.parquet(str(tmp_path / "out"))))
    assert got[0] == got[1] == got[2]
    assert {u: (r[0], r[1], r[2], r[4]) for u, r in got[0].items()} == want
    # the probes exercise both extractors, sliced and not
    assert want["s://at1030"][0] == "PARTIAL_SUCCESS"
    assert want["s://f0"][:3] == want["s://at0"][:3] == ("SUCCESS", want["s://at0"][1], 3)


@pytest.mark.parametrize("surface", ["pipeline", "stream"])
def test_unknown_payload_format_is_rejected(spark, tmp_path, surface):
    """An unknown ``payload_format`` (formats are lower-case) raises on
    both surfaces instead of silently running the HTML extractor."""
    from docling_jobkit_spark.plans.pipeline import ExtractionPipeline, PipelineConfig
    from docling_jobkit_spark.streaming import stream_extract

    with pytest.raises(ValueError, match="payload_format must be html"):
        if surface == "pipeline":
            pages = spark.createDataFrame([("u", b"x")], "url string, html binary")
            ExtractionPipeline(spark, PipelineConfig(payload_format="PDF")).extract(pages)
        else:
            (tmp_path / "in").mkdir()
            stream_extract(spark, str(tmp_path / "in"), payload_format="PDF")


def test_chunker_consumes_pdf_extraction_with_heading_sections(spark):
    """Downstream composition: the hierarchical chunker consumes PDF
    extraction rows unchanged — PDF heading spans become section
    boundaries and propagate as chunk heading context."""
    from docling_jobkit_spark.operators.chunker import chunk_documents
    from docling_jobkit_spark.operators.extract_op import extract_documents

    pages = [g.Page.of(
        [g.heading("Alpha Section"),
         g.para("alpha body " * 40),
         g.heading("Beta Section"),
         g.para("beta body " * 40)],
    )]
    df = spark.createDataFrame(
        pd.DataFrame([("p://doc", g.build_pdf(pages))], columns=["url", "pdf"]),
        schema="url string, pdf binary",
    )
    chunks = chunk_documents(
        extract_documents(df, payload_format="pdf", payload_col="pdf"),
        max_tokens=32, overlap=4, mode="hierarchical",
    ).collect()
    assert len(chunks) >= 3
    heads = {tuple(c["headings"]) for c in chunks}
    assert ("Alpha Section",) in heads and ("Beta Section",) in heads
    # no chunk mixes the two sections' bodies
    for c in chunks:
        assert not ("alpha body" in c["raw_text"] and "beta body" in c["raw_text"])


def test_pdf_corpus_flows_through_production_ingest_loop(spark, tmp_path):
    """Capstone composition: a PDF crawl batch runs the FULL production
    loop — extract_documents(payload_format="pdf") → docs_from_extraction
    bridge → ingest_batch (curation funnel → exact dedup → commit). Exact PDF
    re-posts of already-committed documents are dropped by the history
    stage on the second batch; the bit-identical replay no-ops."""
    from docling_jobkit_spark.operators.extract_op import extract_documents
    from docling_jobkit_spark.plans.ingest import (
        IngestConfig,
        docs_from_extraction,
        ingest_batch,
    )

    def corpus(urls_texts):
        rows = [
            (url, g.build_pdf([g.Page.of([g.para(t)])], compress=True))
            for url, t in urls_texts
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["url", "pdf"]),
            schema="url string, pdf binary",
        )

    # distinct natural-English paragraphs: the funnel's lang-id gate
    # wants stopwords, the Gopher gate punishes repeated phrases, and
    # the within-batch near-dup stage collapses mutually similar docs —
    # so each text must be genuinely different prose
    texts = [
        "the sun rises over the quiet valley while farmers walk to the "
        "fields and children gather near the old stone bridge to watch "
        "boats drift slowly down the calm river toward the distant sea",
        "a library in the middle of the town keeps thousands of maps "
        "that sailors once used to cross dangerous waters and traders "
        "still study them for stories about harbors that vanished long ago",
        "during the winter months the mountain road closes and the "
        "villagers rely on a narrow path through the forest where deer "
        "and foxes leave fresh tracks in the deep snow every morning",
        "the museum opened a new hall this spring with paintings from "
        "a forgotten school of artists whose bold colors and strange "
        "shapes confused critics but delighted visitors of every age",
        "engineers tested the new bridge for several weeks by driving "
        "heavy trucks across it at night and measuring how the steel "
        "cables stretched under the enormous weight of the loads",
        "a small bakery near the station sells bread made from an old "
        "family recipe and people line up before dawn because the first "
        "loaves always disappear within minutes of the doors opening",
    ]
    fresh = [
        "the observatory on the hill lets students watch planets "
        "through an ancient telescope that still turns smoothly on its "
        "brass mount after more than a hundred years of careful use",
        "fishermen along the coast repair their nets each evening and "
        "trade quiet stories about the storms they survived while the "
        "lighthouse sweeps its slow beam across the darkening water",
    ]
    batch_a = corpus([(f"https://a.example.com/doc/{i}", texts[i]) for i in range(6)])
    # batch B: 2 fresh docs + 3 exact re-posts of batch A content
    batch_b = corpus(
        [(f"https://b.example.com/doc/{i}", texts[i]) for i in range(3)]
        + [(f"https://b.example.com/new/{i}", fresh[i]) for i in range(2)]
    )
    state = str(tmp_path / "pdf_ingest")
    cfg = IngestConfig()
    res_a = ingest_batch(
        spark, docs_from_extraction(
            extract_documents(batch_a, payload_format="pdf", payload_col="pdf")
        ),
        state, "2026-01", config=cfg,
    )
    kept_a = res_a.kept.count()
    assert kept_a >= 5  # funnel may drop at most a stray
    res_b = ingest_batch(
        spark, docs_from_extraction(
            extract_documents(batch_b, payload_format="pdf", payload_col="pdf")
        ),
        state, "2026-02", config=cfg,
    )
    ledger_b = {r["stage"]: r["docs_dropped"] for r in res_b.ledger.collect()}
    assert ledger_b.get("history_exact", 0) == 3  # the re-posts
    assert res_b.kept.count() == 2
    # bit-identical replay no-ops
    replay = ingest_batch(
        spark, docs_from_extraction(
            extract_documents(batch_b, payload_format="pdf", payload_col="pdf")
        ),
        state, "2026-02", config=cfg,
    )
    assert replay.replayed
