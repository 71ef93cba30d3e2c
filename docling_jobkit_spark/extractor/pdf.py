"""From-scratch deterministic PDF text + layout extractor.

The reference converts PDFs through the external ``docling`` package
(backend selection ``convert/manager.py:1554-1565``, PDF pipeline options
``convert/manager.py:1672-1723``, single-PDF page-slice fan-out
``orchestrators/ray/serve_deployment.py:437-464``). This module re-derives
the *capability* from public knowledge only — the ISO 32000-1 PDF spec —
as a pure function ``extract_pdf(pdf_bytes) -> ExtractResult`` emitting the
same ``Span``/``ExtractResult`` contract as the HTML extractor, so every
downstream operator (chunker, dedup, curation, shards) consumes PDF corpora
unchanged.

Scope (documented subset, everything deterministic):

- **object layer**: tolerant ``N 0 obj … endobj`` scan (no xref trust — a
  broken xref table never fails a document), nested dict/array/name/string
  values, indirect references, streams with direct ``/Length`` (fallback:
  ``endstream`` search), filters Flate (stdlib zlib) + ASCIIHex + none,
  PDF 1.5+ ``/ObjStm`` object streams (packed non-stream objects — the
  modern-writer layout) expanded after the scan;
- **document layer**: trailer ``/Root`` → ``/Pages`` tree walk with
  attribute inheritance and cycle guard; fallback to ``/Type /Page``
  objects in object-number order when the catalog is missing;
- **content layer**: full text-state machine (``BT/ET Tf TL Tc Tw Tz Tr Td
  TD Tm T* Tj TJ ' "``), graphics stack ``q/Q/cm`` with real matrix
  composition, Form-XObject recursion (``Do`` with ``/Matrix``, depth
  capped), Image XObjects + inline images (``BI…EI``) become figure
  regions, invisible text (``Tr 3``, OCR layers) advances but never emits;
  composite (Type0/CID) fonts decode through their ``/ToUnicode`` CMap
  (bfchar + both bfrange forms) and advance by ``/W``//``/DW`` metrics,
  simple fonts by ``/Widths`` — a missing width falls back to the
  500/1000 model; UTF-16BE BOM strings decode per spec 7.9.2.2;
  encrypted documents (``/Encrypt``) refuse with a POLICY failure row
  instead of emitting ciphertext-garbled text;
- **layout layer** (the "PDF layout analysis with reading-order
  reconstruction" of the north star): device-space runs quantized to
  integer centipoints → baseline line clustering → column detection via a
  maximal vertical gutter with full-width lines as band separators →
  reading order = bands top-to-bottom, left column before right inside a
  band → block segmentation by leading gaps + font-size class → headings
  by size outlier → **table regions** by multi-cell lines sharing an
  x-grid across rows (cells joined by tabs, rows by newlines) → figures as
  placeholder blocks.

Every classification decision happens on integers (centipoints); float
math is confined to matrix composition whose results are immediately
quantized, so extraction is bit-stable across platforms. No font metrics
ship with a PDF subset this small, so unpositioned advances use the
documented width model ``advance = 0.5 * size`` per character — the
fixture generator (pdf_gen.py) positions every run explicitly with the
same model, making the pair a closed, exactly-testable system, while
explicitly-positioned real-world PDFs (the common case for text runs)
never depend on it.

Pages are joined by ``"\\f"`` — the same paged-document invariant as the
HTML path, so the slice fan-out / reassembly machinery applies verbatim.
Failures are structured results, never exceptions.
"""

from __future__ import annotations

import re
import zlib
from typing import NamedTuple

from docling_jobkit_spark.extractor.errors import (
    CATEGORY_POLICY,
    CATEGORY_SOURCE_UNAVAILABLE,
    PHASE_ADMISSION,
    PHASE_DECODE,
    PHASE_EXTRACT,
    FailureInfo,
)
from docling_jobkit_spark.extractor.extract import (
    PAGE_JOIN,
    STATUS_FAILURE,
    STATUS_SUCCESS,
    ExtractResult,
    Span,
)

# ---------------------------------------------------------------------------
# layout constants (centipoints: 1 cp = 1/100 pt). Integers only.
# ---------------------------------------------------------------------------
CP = 100
# a run joins an existing line when |y - line.y| <= max(20, 45% of size)
LINE_Y_TOL_PCT = 45
LINE_Y_TOL_MIN = 20
# intra-line gap >= 100% of font size starts a new cell (table column);
# gap >= 25% of font size is a word space
CELL_GAP_PCT = 100
WORD_GAP_PCT = 25
# vertical gap > 180% of font size starts a new block (generator leading
# is 120%, block spacing 250%)
BLOCK_GAP_PCT = 180
# heading = line size >= 120% of the page's median body size
HEADING_SIZE_PCT = 120
# columns need a physical gutter of >= 6 pt AND >= 240% of the median
# font size between left x1 and right x0 — table cell padding (the
# generator emits 180% of size; real tables are similar) must never
# read as a column gutter on table-only pages
MIN_GUTTER_CP = 600
GUTTER_MIN_SIZE_PCT = 240
# x-grid bucket for table column alignment: 0.5 pt
GRID_BUCKET_CP = 50
# a TJ kern more negative than this (thousandths of text space) is a space
TJ_SPACE_KERN = 180
# per-character advance without font metrics: 50% of font size
CHAR_ADVANCE_PCT = 50

FIGURE_TEXT = "[figure]"

_MAX_FORM_DEPTH = 8


class PdfParseError(ValueError):
    """Structural failure (bad header, unsupported filter, broken stream).

    A ValueError so ``classify_failure`` maps it to POLICY/non-retryable —
    malformed input, not infrastructure."""


# ---------------------------------------------------------------------------
# object-layer values
# ---------------------------------------------------------------------------
class Ref(NamedTuple):
    num: int


class Name(str):
    """A PDF name (``/Foo``); subclass so dict keys stay plain strings."""

    __slots__ = ()


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REG_END = _WS + _DELIM

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_OBJ_RE = re.compile(rb"(?<![0-9])(\d{1,10})\s+(\d+)\s+obj\b")
_NAME_HEX_RE = re.compile(rb"#([0-9A-Fa-f]{2})")


class _Lexer:
    """Shared cursor for object bodies AND content streams."""

    __slots__ = ("data", "pos", "n")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.n = len(data)

    def skip_ws(self) -> None:
        data, n = self.data, self.n
        p = self.pos
        while p < n:
            c = data[p]
            if c in _WS:
                p += 1
            elif c == 0x25:  # '%' comment to EOL
                while p < n and data[p] not in b"\r\n":
                    p += 1
            else:
                break
        self.pos = p

    def _read_regular(self) -> bytes:
        data, n = self.data, self.n
        p = self.pos
        start = p
        while p < n and data[p] not in _REG_END:
            p += 1
        self.pos = p
        return data[start:p]

    def parse_name(self) -> Name:
        self.pos += 1  # the '/'
        raw = self._read_regular()
        if b"#" in raw:
            raw = _NAME_HEX_RE.sub(lambda m: bytes([int(m.group(1), 16)]), raw)
        return Name(raw.decode("latin-1"))

    def parse_literal_string(self) -> bytes:
        data, n = self.data, self.n
        p = self.pos + 1  # the '('
        out = bytearray()
        depth = 1
        while p < n:
            c = data[p]
            if c == 0x5C:  # backslash
                p += 1
                if p >= n:
                    break
                e = data[p]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # 1-3 octal digits
                    val = e - 0x30
                    for _ in range(2):
                        if p + 1 < n and 0x30 <= data[p + 1] <= 0x37:
                            p += 1
                            val = val * 8 + (data[p] - 0x30)
                        else:
                            break
                    out.append(val & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and p + 1 < n and data[p + 1] == 0x0A:
                        p += 1
                else:
                    out.append(e)
                p += 1
                continue
            if c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    p += 1
                    break
                out.append(c)
            elif c == 0x0D:  # raw EOL normalizes to \n (spec 7.3.4.2)
                out.append(0x0A)
                if p + 1 < n and data[p + 1] == 0x0A:
                    p += 1
            else:
                out.append(c)
            p += 1
        self.pos = p
        return bytes(out)

    def parse_hex_string(self) -> bytes:
        data = self.data
        end = data.find(b">", self.pos + 1)
        if end < 0:
            raise PdfParseError("unterminated hex string")
        hx = re.sub(rb"\s+", b"", data[self.pos + 1 : end])
        self.pos = end + 1
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except ValueError as exc:
            raise PdfParseError(f"bad hex string: {exc}") from exc

    def parse_value(self, allow_ref: bool = True):
        """One object-layer value. Raises PdfParseError on junk."""
        self.skip_ws()
        if self.pos >= self.n:
            raise PdfParseError("unexpected end of data")
        data = self.data
        c = data[self.pos]
        if c == 0x2F:
            return self.parse_name()
        if c == 0x28:
            return self.parse_literal_string()
        if c == 0x3C:
            if data.startswith(b"<<", self.pos):
                return self._parse_dict(allow_ref)
            return self.parse_hex_string()
        if c == 0x5B:
            self.pos += 1
            out = []
            while True:
                self.skip_ws()
                if self.pos >= self.n:
                    raise PdfParseError("unterminated array")
                if data[self.pos] == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.parse_value(allow_ref))
        m = _NUM_RE.match(data, self.pos)
        if m:
            self.pos = m.end()
            tok = m.group()
            if allow_ref and b"." not in tok and b"-" not in tok and b"+" not in tok:
                save = self.pos
                self.skip_ws()
                m2 = _NUM_RE.match(data, self.pos)
                if m2 and b"." not in m2.group():
                    p2 = m2.end()
                    q = p2
                    while q < self.n and data[q] in _WS:
                        q += 1
                    if (
                        q < self.n
                        and data[q : q + 1] == b"R"
                        and (q + 1 >= self.n or data[q + 1] in _REG_END)
                    ):
                        self.pos = q + 1
                        return Ref(int(tok))
                self.pos = save
            return float(tok) if b"." in tok else int(tok)
        word = self._read_regular()
        if word == b"true":
            return True
        if word == b"false":
            return False
        if word == b"null":
            return None
        raise PdfParseError(f"unexpected token {word[:20]!r}")

    def _parse_dict(self, allow_ref: bool) -> dict:
        self.pos += 2  # '<<'
        out: dict[str, object] = {}
        data = self.data
        while True:
            self.skip_ws()
            if self.pos >= self.n:
                raise PdfParseError("unterminated dict")
            if data.startswith(b">>", self.pos):
                self.pos += 2
                return out
            if data[self.pos] != 0x2F:
                raise PdfParseError("dict key is not a name")
            key = str(self.parse_name())
            out[key] = self.parse_value(allow_ref)


# ---------------------------------------------------------------------------
# document layer
# ---------------------------------------------------------------------------
class _Page(NamedTuple):
    resources: dict
    content: bytes


class PdfDocument:
    """Parsed object table + page list (tolerant, xref-free)."""

    def __init__(self, data: bytes):
        self.objects: dict[int, tuple[object, bytes | None]] = {}
        self._scan(data)
        self._expand_object_streams()
        self._trailer_root = self._find_root(data)
        # strings/streams of an encrypted file are RC4/AES ciphertext:
        # extracting would emit deterministic garbage — refuse honestly
        # (POLICY failure row), checking both trailer forms (the
        # ``trailer`` keyword and the PDF 1.5 /Type /XRef stream dict)
        self._encrypted = self._has_encrypt(data)

    def _has_encrypt(self, data: bytes) -> bool:
        pos = 0
        while True:
            idx = data.find(b"trailer", pos)
            if idx < 0:
                break
            try:
                tr = _Lexer(data, idx + 7).parse_value()
                if isinstance(tr, dict) and "Encrypt" in tr:
                    return True
            except PdfParseError:
                pass
            pos = idx + 7
        for _num, (val, raw) in self.objects.items():
            if raw is not None and isinstance(val, dict) and val.get("Type") == "XRef":
                if "Encrypt" in val:
                    return True
        return False

    # -- object scan ------------------------------------------------------
    def _scan(self, data: bytes) -> None:
        for m in _OBJ_RE.finditer(data):
            num = int(m.group(1))
            lex = _Lexer(data, m.end())
            try:
                val = lex.parse_value()
            except PdfParseError:
                continue  # junk between objects: tolerated, object skipped
            raw: bytes | None = None
            lex.skip_ws()
            if data.startswith(b"stream", lex.pos):
                p = lex.pos + 6
                if data.startswith(b"\r\n", p):
                    p += 2
                elif data.startswith(b"\n", p) or data.startswith(b"\r", p):
                    p += 1
                length = val.get("Length") if isinstance(val, dict) else None
                if isinstance(length, int) and data.startswith(
                    b"endstream", self._skip_eol(data, p + length)
                ):
                    raw = data[p : p + length]
                else:  # indirect/wrong Length: locate endstream instead
                    end = data.find(b"endstream", p)
                    if end < 0:
                        continue
                    raw = data[p:end].rstrip(b"\r\n")
            # first definition wins (tolerant of appended duplicates —
            # incremental updates put the NEWER object later, but without
            # xref trust the deterministic choice is documented: first)
            self.objects.setdefault(num, (val, raw))

    def _expand_object_streams(self) -> None:
        """PDF 1.5+ object streams (spec 7.5.7): a ``/Type /ObjStm``
        stream packs non-stream objects as ``num offset`` header pairs
        followed by the object bodies — the layout virtually every
        modern writer emits. Decode each one and register its embedded
        objects (existing top-level definitions win, matching the
        first-definition-wins scan policy). A malformed object stream is
        skipped, never fatal — the tolerant-scan posture."""
        for num in sorted(self.objects):
            val, raw = self.objects[num]
            if raw is None or not isinstance(val, dict):
                continue
            if val.get("Type") != "ObjStm":
                continue
            try:
                data = self._decode_stream(val, raw)
                n = self.resolve(val.get("N"))
                first = self.resolve(val.get("First"))
                if not isinstance(n, int) or not isinstance(first, int):
                    continue
                head = _Lexer(data[:first])
                pairs: list[tuple[int, int]] = []
                for _ in range(n):
                    onum = head.parse_value(allow_ref=False)
                    off = head.parse_value(allow_ref=False)
                    if not isinstance(onum, int) or not isinstance(off, int):
                        raise PdfParseError("bad ObjStm header pair")
                    pairs.append((onum, off))
                for onum, off in pairs:
                    try:
                        inner = _Lexer(data, first + off).parse_value()
                    except PdfParseError:
                        continue
                    self.objects.setdefault(onum, (inner, None))
            except (PdfParseError, zlib.error):
                continue

    @staticmethod
    def _skip_eol(data: bytes, p: int) -> int:
        while p < len(data) and data[p] in b"\r\n":
            p += 1
        return p

    def _find_root(self, data: bytes) -> Ref | None:
        pos = 0
        root = None
        while True:
            idx = data.find(b"trailer", pos)
            if idx < 0:
                break
            lex = _Lexer(data, idx + 7)
            try:
                tr = lex.parse_value()
                if isinstance(tr, dict) and isinstance(tr.get("Root"), Ref):
                    root = tr["Root"]  # last trailer wins (newest update)
            except PdfParseError:
                pass
            pos = idx + 7
        return root

    # -- resolution -------------------------------------------------------
    def resolve(self, v, _depth: int = 0):
        while isinstance(v, Ref):
            if _depth > 32:
                raise PdfParseError("reference cycle")
            entry = self.objects.get(v.num)
            if entry is None:
                return None
            v = entry[0]
            _depth += 1
        return v

    def stream_bytes(self, ref: Ref) -> bytes:
        entry = self.objects.get(ref.num) if isinstance(ref, Ref) else None
        if entry is None or entry[1] is None:
            raise PdfParseError(f"object {ref} is not a stream")
        val, raw = entry
        return self._decode_stream(val, raw)

    def _decode_stream(self, val: object, raw: bytes) -> bytes:
        filters = self.resolve(val.get("Filter")) if isinstance(val, dict) else None
        if filters is None:
            filters = []
        elif not isinstance(filters, list):
            filters = [filters]
        parms = self.resolve(val.get("DecodeParms")) if isinstance(val, dict) else None
        if isinstance(parms, dict) and self.resolve(parms.get("Predictor", 1)) != 1:
            raise PdfParseError("unsupported Flate predictor")
        out = raw
        for f in filters:
            f = str(self.resolve(f))
            if f in ("FlateDecode", "Fl"):
                try:
                    out = zlib.decompress(out)
                except zlib.error as exc:
                    raise PdfParseError(f"bad Flate stream: {exc}") from exc
            elif f in ("ASCIIHexDecode", "AHx"):
                hx = re.sub(rb"\s+", b"", out.rstrip(b">"))
                if len(hx) % 2:
                    hx += b"0"
                out = bytes.fromhex(hx.decode("ascii", errors="replace"))
            else:
                raise PdfParseError(f"unsupported stream filter /{f}")
        return out

    # -- page tree --------------------------------------------------------
    def page_nodes(self) -> list[tuple[dict, dict]]:
        """(raw page dict, inherited attrs) per page, document order —
        the structural view ``split_pdf`` re-serializes from."""
        if self._encrypted:
            raise PdfParseError("encrypted PDF (strings/streams are ciphertext)")
        root = self.resolve(self._trailer_root)
        if not isinstance(root, dict):
            for num in sorted(self.objects):  # fallback: scan for a catalog
                v = self.objects[num][0]
                if isinstance(v, dict) and v.get("Type") == "Catalog":
                    root = v
                    break
        pages_ref = root.get("Pages") if isinstance(root, dict) else None
        out: list[tuple[dict, dict]] = []
        if pages_ref is not None:
            self._walk(pages_ref, {}, out, set())
        if not out:  # no catalog: every /Type /Page object, in obj order
            for num in sorted(self.objects):
                v = self.objects[num][0]
                if isinstance(v, dict) and v.get("Type") == "Page":
                    out.append((v, {}))
        if not out:
            raise PdfParseError("no pages found")
        return out

    def pages(self) -> list[_Page]:
        return [self._leaf(node, inh) for node, inh in self.page_nodes()]

    def _walk(self, node_ref, inherited: dict, out: list, seen: set) -> None:
        key = node_ref.num if isinstance(node_ref, Ref) else id(node_ref)
        if key in seen:
            raise PdfParseError("page tree cycle")
        seen = seen | {key}
        node = self.resolve(node_ref)
        if not isinstance(node, dict):
            return
        inh = dict(inherited)
        for attr in ("Resources", "MediaBox"):
            if attr in node:
                inh[attr] = node[attr]
        if node.get("Type") == "Page" or ("Kids" not in node and "Contents" in node):
            out.append((node, inh))
            return
        kids = self.resolve(node.get("Kids"))
        if isinstance(kids, list):
            for kid in kids:
                self._walk(kid, inh, out, seen)

    def _leaf(self, node: dict, inherited: dict) -> _Page:
        res = self.resolve(node.get("Resources", inherited.get("Resources"))) or {}
        contents = node.get("Contents")
        parts: list[bytes] = []
        if contents is not None:
            items = self.resolve(contents) if isinstance(contents, Ref) else contents
            # Contents: one stream ref, or an array of stream refs. A ref
            # to a STREAM resolves to its dict — detect via objects table.
            if isinstance(contents, Ref) and self._is_stream(contents):
                parts.append(self.stream_bytes(contents))
            elif isinstance(items, list):
                for it in items:
                    if isinstance(it, Ref) and self._is_stream(it):
                        parts.append(self.stream_bytes(it))
        return _Page(resources=res if isinstance(res, dict) else {}, content=b"\n".join(parts))

    def _is_stream(self, ref: Ref) -> bool:
        entry = self.objects.get(ref.num)
        return entry is not None and entry[1] is not None


# ---------------------------------------------------------------------------
# content interpreter
# ---------------------------------------------------------------------------
class Run(NamedTuple):
    x: int          # device x, centipoints
    y: int          # device y (baseline), centipoints
    size: int       # effective font size, centipoints
    text: str
    w: int          # device advance width, centipoints (true font
                    # metrics when the font carries them; the 500/1000
                    # model otherwise — so layout sees exact extents)


class Fig(NamedTuple):
    x: int
    y: int
    name: str


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mmul(m1, m2):
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def _decode_text(raw: bytes) -> str:
    """UTF-16BE when BOM-prefixed (spec 7.9.2.2 text strings), else UTF-8
    first (the generator contract) with latin-1 fallback — total and
    deterministic for every byte sequence; plain-ASCII simple-font PDFs
    (the web-corpus common case) decode identically either way."""
    if raw.startswith(b"\xfe\xff"):
        return raw[2:].decode("utf-16-be", errors="replace")
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


class _FontInfo(NamedTuple):
    """Per-font decode + metrics resolved once per document.

    ``cmap``: ToUnicode code→string map (None = byte decode);
    ``two_byte``: Type0/CID fonts consume 2-byte codes;
    ``widths``: code→glyph width in 1/1000 text units (None = no metrics);
    ``default_width``: /DW (Type0) or None. A missing width falls back to
    500/1000 = the module's 0.5×size model, so metric-less fonts behave
    exactly as before."""

    cmap: dict[int, str] | None
    two_byte: bool
    widths: dict[int, float] | None
    default_width: float | None


_NO_FONT = _FontInfo(None, False, None, None)


def _parse_hex_units(hx: str) -> str:
    """UTF-16BE code units from a CMap hex destination (<0066006C> → 'fl');
    odd 2-digit singles (<66>) are taken as one unit."""
    hx = hx.strip()
    if len(hx) % 4 == 2 and len(hx) > 2:
        hx = "00" + hx  # tolerate sloppy odd-unit strings
    if len(hx) <= 2:
        return chr(int(hx, 16)) if hx else ""
    return "".join(chr(int(hx[i : i + 4], 16)) for i in range(0, len(hx), 4))


def _parse_tounicode(data: bytes) -> dict[int, str]:
    """bfchar/bfrange sections of a ToUnicode CMap (spec 9.10.3). The
    surrounding PostScript scaffolding is ignored; each section body is
    read with the shared lexer (hex strings + arrays), so both bfrange
    forms — incrementing <lo> <hi> <dst> and explicit <lo> <hi> [..] —
    parse without regex ambiguity."""
    out: dict[int, str] = {}

    def _hex_of(v) -> str:
        return bytes(v).hex().upper() if isinstance(v, (bytes, bytearray)) else ""

    for open_kw, close_kw in ((b"beginbfchar", b"endbfchar"),
                              (b"beginbfrange", b"endbfrange")):
        pos = 0
        while True:
            i = data.find(open_kw, pos)
            if i < 0:
                break
            j = data.find(close_kw, i)
            if j < 0:
                break
            lex = _Lexer(data[i + len(open_kw) : j])
            try:
                while True:
                    lex.skip_ws()
                    if lex.pos >= lex.n:
                        break
                    lo = lex.parse_value(allow_ref=False)
                    if open_kw == b"beginbfchar":
                        dst = lex.parse_value(allow_ref=False)
                        if isinstance(lo, (bytes, bytearray)):
                            out[int(_hex_of(lo) or "0", 16)] = _parse_hex_units(
                                _hex_of(dst)
                            )
                        continue
                    hi = lex.parse_value(allow_ref=False)
                    dst = lex.parse_value(allow_ref=False)
                    if not isinstance(lo, (bytes, bytearray)):
                        continue
                    lo_i = int(_hex_of(lo) or "0", 16)
                    hi_i = int(_hex_of(hi) or "0", 16) if isinstance(hi, (bytes, bytearray)) else lo_i
                    if isinstance(dst, list):  # explicit destination array
                        for off, d in enumerate(dst):
                            out[lo_i + off] = _parse_hex_units(_hex_of(d))
                    elif isinstance(dst, (bytes, bytearray)):
                        units = _parse_hex_units(_hex_of(dst))
                        for off in range(hi_i - lo_i + 1):
                            if units:
                                out[lo_i + off] = units[:-1] + chr(
                                    ord(units[-1]) + off
                                )
            except PdfParseError:
                pass  # malformed section: keep what parsed
            pos = j + len(close_kw)
    return out


def _parse_cid_widths(w_list: list, doc: PdfDocument) -> dict[int, float]:
    """Type0 /W array (spec 9.7.4.3): ``c [w1 w2 ...]`` or ``c1 c2 w``."""
    out: dict[int, float] = {}
    i = 0
    vals = [doc.resolve(v) for v in w_list]
    while i < len(vals):
        c = vals[i]
        if not isinstance(c, (int, float)):
            break
        if i + 1 < len(vals) and isinstance(vals[i + 1], list):
            for off, w in enumerate(vals[i + 1]):
                if isinstance(w, (int, float)):
                    out[int(c) + off] = float(w)
            i += 2
        elif i + 2 < len(vals):
            c2, w = vals[i + 1], vals[i + 2]
            if isinstance(c2, (int, float)) and isinstance(w, (int, float)):
                for code in range(int(c), int(c2) + 1):
                    out[code] = float(w)
            i += 3
        else:
            break
    return out


def _font_info(doc: PdfDocument, resources: dict, name: str) -> _FontInfo:
    fonts = doc.resolve(resources.get("Font")) or {}
    ref = fonts.get(name) if isinstance(fonts, dict) else None
    cache: dict = getattr(doc, "_font_cache", None)
    if cache is None:
        cache = doc._font_cache = {}
    key = ref.num if isinstance(ref, Ref) else (name, id(resources))
    if key in cache:
        return cache[key]
    info = _NO_FONT
    fd = doc.resolve(ref)
    if isinstance(fd, dict):
        two_byte = fd.get("Subtype") == "Type0"
        cmap = None
        tu = fd.get("ToUnicode")
        if isinstance(tu, Ref):
            try:
                cmap = _parse_tounicode(doc.stream_bytes(tu)) or None
            except PdfParseError:
                cmap = None
        widths: dict[int, float] | None = None
        default_width: float | None = None
        if two_byte:
            desc = doc.resolve(fd.get("DescendantFonts"))
            d0 = doc.resolve(desc[0]) if isinstance(desc, list) and desc else None
            if isinstance(d0, dict):
                dw = doc.resolve(d0.get("DW"))
                default_width = float(dw) if isinstance(dw, (int, float)) else 1000.0
                wl = doc.resolve(d0.get("W"))
                if isinstance(wl, list):
                    widths = _parse_cid_widths(wl, doc)
        else:
            wl = doc.resolve(fd.get("Widths"))
            first = doc.resolve(fd.get("FirstChar"))
            if isinstance(wl, list) and isinstance(first, int):
                widths = {
                    first + i: float(w)
                    for i, w in enumerate(doc.resolve(v) for v in wl)
                    if isinstance(w, (int, float))
                }
        info = _FontInfo(cmap, two_byte, widths, default_width)
    cache[key] = info
    return info


class _TextState:
    __slots__ = ("size", "leading", "char_sp", "word_sp", "hscale", "mode", "font")

    def __init__(self):
        self.size = 0.0
        self.leading = 0.0
        self.char_sp = 0.0
        self.word_sp = 0.0
        self.hscale = 1.0
        self.mode = 0
        self.font = _NO_FONT


def _interpret(
    content: bytes,
    resources: dict,
    doc: PdfDocument,
    ctm,
    runs: list[Run],
    figs: list[Fig],
    ts: _TextState,
    depth: int = 0,
) -> None:
    """Execute one content stream, appending device-space runs/figures."""
    lex = _Lexer(content)
    stack: list = []
    gstack: list = []
    tm = tlm = _ID
    data = content

    def device(m, x=0.0, y=0.0):
        a, b, c, d, e, f = m
        return (x * a + y * c + e, x * b + y * d + f)

    def emit(raw_parts: list, start_m, width_ts: float) -> None:
        if ts.mode == 3:  # invisible (OCR layer): advances, never emits
            return
        text = "".join(raw_parts)
        if not text:
            return
        trm = _mmul(start_m, ctm)
        dx, dy = trm[4], trm[5]
        scale_x = (trm[0] * trm[0] + trm[2] * trm[2]) ** 0.5
        scale_y = (trm[1] * trm[1] + trm[3] * trm[3]) ** 0.5
        size_cp = int(round(ts.size * scale_y * CP))
        if size_cp <= 0:
            size_cp = 1
        w_cp = max(0, int(round(width_ts * ts.hscale * scale_x * CP)))
        runs.append(
            Run(int(round(dx * CP)), int(round(dy * CP)), size_cp, text, w_cp)
        )

    def decode_piece(raw: bytes) -> tuple[str, float]:
        """(text, advance in text space) for one shown string. Widths come
        from the font's metrics when present; a missing width falls back
        to 500/1000 — identical to the module's 0.5×size model, so
        metric-less documents are unchanged."""
        f = ts.font
        if f.cmap is not None:
            step = 2 if f.two_byte else 1
            chars: list[str] = []
            w = 0.0
            for i in range(0, len(raw) - (len(raw) % step), step):
                code = int.from_bytes(raw[i : i + step], "big")
                chars.append(f.cmap.get(code, "�"))
                cw = None
                if f.widths is not None:
                    cw = f.widths.get(code)
                if cw is None:
                    cw = f.default_width if f.default_width is not None else 500.0
                w += cw / 1000.0 * ts.size + ts.char_sp
                if step == 1 and code == 32:  # word spacing: 1-byte code 32 only
                    w += ts.word_sp
            return "".join(chars), w
        text = _decode_text(raw)
        w = 0.0
        for ch in text:
            cw = f.widths.get(ord(ch)) if f.widths is not None else None
            if cw is None:
                cw = float(CHAR_ADVANCE_PCT) * 10.0  # 500/1000 model
            w += cw / 1000.0 * ts.size + ts.char_sp
            if ch == " ":
                w += ts.word_sp
        return text, w

    def show(parts_and_kerns: list) -> None:
        # one run per show op; kerns below -TJ_SPACE_KERN become spaces
        raw_parts: list[str] = []
        width_ts = 0.0
        for item in parts_and_kerns:
            if isinstance(item, bytes):
                text, w = decode_piece(item)
                raw_parts.append(text)
                width_ts += w
            else:  # kern in thousandths of text space
                width_ts -= float(item) / 1000.0 * ts.size
                if float(item) <= -TJ_SPACE_KERN:
                    raw_parts.append(" ")
        emit(raw_parts, tm, width_ts)
        return width_ts * ts.hscale

    def translate_tm(tx: float, ty: float, line: bool):
        nonlocal tm, tlm
        t = (1.0, 0.0, 0.0, 1.0, tx, ty)
        if line:
            tlm = _mmul(t, tlm)
            tm = tlm
        else:
            tm = _mmul(t, tm)

    n = len(data)
    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = data[lex.pos]
        if c == 0x2F or c == 0x28 or c == 0x5B or c == 0x3C or c in b"+-.0123456789":
            try:
                stack.append(lex.parse_value(allow_ref=False))
            except PdfParseError:
                lex.pos += 1
                stack.clear()
            continue
        op = lex._read_regular().decode("latin-1", errors="replace")
        if not op:
            lex.pos += 1
            continue
        try:
            if op == "q":
                gstack.append((ctm, ts.size, ts.leading, ts.char_sp, ts.word_sp, ts.hscale, ts.mode, ts.font))
            elif op == "Q":
                if gstack:
                    ctm, ts.size, ts.leading, ts.char_sp, ts.word_sp, ts.hscale, ts.mode, ts.font = gstack.pop()
            elif op == "cm" and len(stack) >= 6:
                m = tuple(float(v) for v in stack[-6:])
                ctm = _mmul(m, ctm)
            elif op == "BT":
                tm = tlm = _ID
            elif op == "ET":
                pass
            elif op == "Tf" and len(stack) >= 1:
                ts.size = float(stack[-1])
                if len(stack) >= 2 and isinstance(stack[-2], Name):
                    ts.font = _font_info(doc, resources, str(stack[-2]))
            elif op == "TL" and stack:
                ts.leading = float(stack[-1])
            elif op == "Tc" and stack:
                ts.char_sp = float(stack[-1])
            elif op == "Tw" and stack:
                ts.word_sp = float(stack[-1])
            elif op == "Tz" and stack:
                ts.hscale = float(stack[-1]) / 100.0
            elif op == "Tr" and stack:
                ts.mode = int(stack[-1])
            elif op == "Ts":
                pass  # rise: ignored (layout uses baselines)
            elif op == "Td" and len(stack) >= 2:
                translate_tm(float(stack[-2]), float(stack[-1]), line=True)
            elif op == "TD" and len(stack) >= 2:
                ts.leading = -float(stack[-1])
                translate_tm(float(stack[-2]), float(stack[-1]), line=True)
            elif op == "Tm" and len(stack) >= 6:
                tlm = tm = tuple(float(v) for v in stack[-6:])
            elif op == "T*":
                translate_tm(0.0, -ts.leading, line=True)
            elif op == "Tj" and stack and isinstance(stack[-1], bytes):
                adv = show([stack[-1]])
                translate_tm(adv, 0.0, line=False)
            elif op == "'" and stack and isinstance(stack[-1], bytes):
                translate_tm(0.0, -ts.leading, line=True)
                adv = show([stack[-1]])
                translate_tm(adv, 0.0, line=False)
            elif op == '"' and len(stack) >= 3 and isinstance(stack[-1], bytes):
                ts.word_sp = float(stack[-3])
                ts.char_sp = float(stack[-2])
                translate_tm(0.0, -ts.leading, line=True)
                adv = show([stack[-1]])
                translate_tm(adv, 0.0, line=False)
            elif op == "TJ" and stack and isinstance(stack[-1], list):
                adv = show(stack[-1])
                translate_tm(adv, 0.0, line=False)
            elif op == "Do" and stack and isinstance(stack[-1], Name):
                _do_xobject(str(stack[-1]), resources, doc, ctm, runs, figs, ts, depth)
            elif op == "BI":  # inline image: skip to EI, emit figure
                end = data.find(b"EI", lex.pos)
                lex.pos = end + 2 if end >= 0 else n
                dx, dy = device(ctm)
                figs.append(Fig(int(round(dx * CP)), int(round(dy * CP)), "inline"))
        except (TypeError, ValueError, IndexError):
            pass  # malformed operands degrade to a skipped operator
        stack.clear()


def _do_xobject(name, resources, doc, ctm, runs, figs, ts, depth) -> None:
    xobjs = doc.resolve(resources.get("XObject")) or {}
    ref = xobjs.get(name) if isinstance(xobjs, dict) else None
    if not isinstance(ref, Ref):
        return
    xv = doc.resolve(ref)
    if not isinstance(xv, dict):
        return
    subtype = xv.get("Subtype")
    if subtype == "Image":
        a, b, c, d, e, f = ctm
        figs.append(Fig(int(round(e * CP)), int(round(f * CP)), name))
    elif subtype == "Form" and depth < _MAX_FORM_DEPTH:
        mat = doc.resolve(xv.get("Matrix")) or [1, 0, 0, 1, 0, 0]
        inner_ctm = _mmul(tuple(float(v) for v in mat), ctm)
        inner_res = doc.resolve(xv.get("Resources")) or resources
        try:
            content = doc.stream_bytes(ref)
        except PdfParseError:
            return
        _interpret(
            content, inner_res if isinstance(inner_res, dict) else resources,
            doc, inner_ctm, runs, figs, ts, depth + 1,
        )


# ---------------------------------------------------------------------------
# layout analysis
# ---------------------------------------------------------------------------
class _Line(NamedTuple):
    y: int
    x0: int
    x1: int
    size: int
    cells: tuple[str, ...]       # >=2 entries when intra-line gaps are wide
    cell_x: tuple[int, ...]      # x-start per cell


class PdfBlock(NamedTuple):
    kind: str   # text | heading | table | figure
    text: str
    path: str


def _lines_from_runs(runs: list[Run]) -> list[_Line]:
    ordered = sorted(runs, key=lambda r: (-r.y, r.x))
    lines: list[list[Run]] = []
    anchor_y: list[int] = []
    for r in ordered:
        placed = False
        if lines:
            ly = anchor_y[-1]
            tol = max(LINE_Y_TOL_MIN, (LINE_Y_TOL_PCT * min(r.size, lines[-1][0].size)) // 100)
            if abs(r.y - ly) <= tol:
                lines[-1].append(r)
                placed = True
        if not placed:
            lines.append([r])
            anchor_y.append(r.y)
    out: list[_Line] = []
    for group in lines:
        group.sort(key=lambda r: r.x)
        size = max(r.size for r in group)
        cells: list[str] = []
        cell_x: list[int] = []
        cur = ""
        cur_x = group[0].x
        pen = group[0].x
        for r in group:
            gap = r.x - pen
            if cur and gap >= (size * CELL_GAP_PCT) // 100:
                cells.append(cur)
                cell_x.append(cur_x)
                cur = r.text
                cur_x = r.x
            elif cur:
                sep = " " if gap >= (size * WORD_GAP_PCT) // 100 else ""
                cur = cur + sep + r.text
            else:
                cur = r.text
                cur_x = r.x
            pen = r.x + r.w
        cells.append(cur)
        cell_x.append(cur_x)
        x0 = group[0].x
        x1 = pen
        out.append(_Line(group[0].y, x0, x1, size, tuple(cells), tuple(cell_x)))
    return out


def _detect_columns_runs(runs: list[Run]) -> tuple[int | None, list[int]]:
    """RUN-level column detection (before any line clustering — two
    side-by-side columns share baselines, so detecting on lines would
    merge them into fake table rows). Returns (gutter_x or None, indexes
    of runs that INTRUDE INTO the gutter zone — full-width titles, which
    become band separators). A left run is one ending at least a full
    gutter width (max(MIN_GUTTER_CP, 240% of median size)) before the
    right side starts; a run ending inside that zone is 'crossing'
    whether or not it touches the right side — a wide centered title
    that stops 1 pt short of the right column must not erase the gutter.
    Constraints: >=2 runs per side, at most 20% crossing; score
    maximizes min(left, right). O(n log n) via a sorted sweep."""
    import bisect

    n = len(runs)
    if n < 4:
        return None, []
    xs = sorted(r.x for r in runs)
    xends = sorted(r.x + r.w for r in runs)
    sizes = sorted(r.size for r in runs)
    min_gutter = max(MIN_GUTTER_CP, (sizes[n // 2] * GUTTER_MIN_SIZE_PCT) // 100)
    best_key: tuple[int, int] | None = None
    best_g = None
    for g in sorted(set(xs[1:])):
        n_right = n - bisect.bisect_left(xs, g)
        n_left = bisect.bisect_right(xends, g - min_gutter)
        crossing = n - n_left - n_right
        if n_left < 2 or n_right < 2 or crossing * 5 > n:
            continue
        key = (min(n_left, n_right), -g)
        if best_key is None or key > best_key:
            best_key = key
            best_g = g
    if best_g is None:
        return None, []
    crossing_idx = [
        i
        for i, r in enumerate(runs)
        if r.x < best_g and r.x + r.w > best_g - min_gutter
    ]
    return best_g, crossing_idx


def _reading_order(
    runs: list[Run], figs: list[Fig]
) -> list[tuple]:
    """Reading-order reconstruction: detect columns on RUNS, cluster each
    lane into lines independently, merge figures into their lane by y.
    Returns (item, lane) pairs — item is a _Line or Fig — where a lane
    change forces a block boundary."""

    def _merge(lines: list[_Line], lane_figs: list[Fig]) -> list:
        items: list = [*lines, *lane_figs]
        items.sort(key=lambda it: (-it.y, it.x0 if isinstance(it, _Line) else it.x))
        return items

    gutter, crossing_idx = _detect_columns_runs(runs)
    if gutter is None:
        return [(it, 0) for it in _merge(_lines_from_runs(runs), figs)]
    crossing_set = set(crossing_idx)
    full_lines = sorted(
        _lines_from_runs([runs[i] for i in crossing_idx]), key=lambda ln: -ln.y
    )
    band_bounds = [ln.y for ln in full_lines]  # descending y

    def band_of(y: int) -> int:
        b = 0
        for by in band_bounds:
            if y < by:
                b += 1
        return b

    lanes: dict[tuple[int, int], tuple[list[Run], list[Fig]]] = {}
    for i, r in enumerate(runs):
        if i in crossing_set:
            continue
        key = (band_of(r.y), 0 if r.x < gutter else 1)
        lanes.setdefault(key, ([], []))[0].append(r)
    for f in figs:
        key = (band_of(f.y), 0 if f.x < gutter else 1)
        lanes.setdefault(key, ([], []))[1].append(f)
    # band k content sits BELOW full-width line k-1 and above line k;
    # reading order: band-0 content, full[0], band-1 content, full[1], ...
    out: list[tuple] = []
    for band in range(len(full_lines) + 1):
        if band > 0:
            out.append((full_lines[band - 1], band * 10 + 9))  # its own lane
        for col in (0, 1):
            lane_runs, lane_figs = lanes.get((band, col), ([], []))
            for it in _merge(_lines_from_runs(lane_runs), lane_figs):
                out.append((it, band * 10 + col))
    return out


def _median_size(lines: list[_Line]) -> int:
    # lower middle on even counts: a 2-line page (one big, one body)
    # takes the body size as the baseline, so the big line reads as a
    # heading rather than dragging the median up to itself
    sizes = sorted(ln.size for ln in lines)
    return sizes[(len(sizes) - 1) // 2] if sizes else CP * 10


def _is_table_pair(a: _Line, b: _Line) -> bool:
    if len(a.cells) < 2 or len(b.cells) < 2:
        return False
    ga = {x // GRID_BUCKET_CP for x in a.cell_x}
    gb = {x // GRID_BUCKET_CP for x in b.cell_x}
    return len(ga & gb) >= 2


def page_blocks(runs: list[Run], figs: list[Fig], page_no: int) -> list[PdfBlock]:
    """Layout analysis for one page: runs+figures → ordered typed blocks."""
    if not runs and not figs:
        return []
    ordered = _reading_order(runs, figs)
    body = _median_size([it for it, _lane in ordered if isinstance(it, _Line)])

    # group into (lane, kind-class) segments with gap-based block breaks
    blocks: list[tuple[str, list[_Line]]] = []
    prev: _Line | Fig | None = None
    prev_lane: int | None = None
    for item, lane in ordered:
        if isinstance(item, Fig):
            blocks.append(("figure", []))
            prev, prev_lane = item, lane
            continue
        ln = item
        is_heading = ln.size * 100 >= body * HEADING_SIZE_PCT
        multi = len(ln.cells) >= 2
        kind = "heading" if (is_heading and not multi) else ("row" if multi else "text")
        new_block = (
            prev is None
            or isinstance(prev, Fig)
            or lane != prev_lane
            or kind != blocks[-1][0]
            or (prev.y - ln.y) > (BLOCK_GAP_PCT * max(prev.size, ln.size)) // 100
        )
        if new_block:
            blocks.append((kind, [ln]))
        else:
            blocks[-1][1].append(ln)
        prev, prev_lane = ln, lane

    out: list[PdfBlock] = []
    bi = 0
    for kind, lns in blocks:
        if kind == "figure":
            out.append(PdfBlock("figure", FIGURE_TEXT, f"p{page_no}/fig{bi}"))
            bi += 1
            continue
        if kind == "row":
            # verify x-grid alignment; an isolated multi-cell line (no
            # aligned neighbor) degrades to a text line with cell spaces
            aligned = len(lns) >= 2 and all(
                _is_table_pair(lns[i], lns[i + 1]) for i in range(len(lns) - 1)
            )
            if aligned:
                text = "\n".join("\t".join(ln.cells) for ln in lns)
                out.append(PdfBlock("table", text, f"p{page_no}/table{bi}"))
            else:
                text = " ".join(" ".join(ln.cells) for ln in lns)
                out.append(PdfBlock("text", text, f"p{page_no}/b{bi}"))
        elif kind == "heading":
            out.append(
                PdfBlock("heading", " ".join(" ".join(ln.cells) for ln in lns), f"p{page_no}/h{bi}")
            )
        else:
            out.append(
                PdfBlock("text", " ".join(" ".join(ln.cells) for ln in lns), f"p{page_no}/b{bi}")
            )
        bi += 1
    return out


# ---------------------------------------------------------------------------
# top level
# ---------------------------------------------------------------------------
PDF_MAGIC = b"%PDF-"


def is_pdf(payload: bytes | None) -> bool:
    """Format sniff (the reference's backend selection is by declared
    format, ``convert/manager.py:1554-1565``; a crawl corpus needs content
    sniffing). Spec allows junk before the header within the first 1024
    bytes."""
    return payload is not None and PDF_MAGIC in payload[:1024]


def parse_pdf_pages(data: bytes) -> list[list[PdfBlock]]:
    """Parse + interpret + layout: one list of typed blocks per page."""
    doc = PdfDocument(data)
    pages = doc.pages()
    out: list[list[PdfBlock]] = []
    for i, page in enumerate(pages, start=1):
        runs: list[Run] = []
        figs: list[Fig] = []
        _interpret(page.content, page.resources, doc, _ID, runs, figs, _TextState())
        out.append(page_blocks(runs, figs, i))
    return out


def _render(pages_blocks: list[list[PdfBlock]]) -> tuple[str, list[Span]]:
    parts: list[str] = []
    spans: list[Span] = []
    offset = 0
    for blocks in pages_blocks:
        page_parts: list[str] = []
        if parts:
            offset += len(PAGE_JOIN)
        for b in blocks:
            if page_parts:
                offset += 2  # "\n\n"
            spans.append(Span(offset, offset + len(b.text), b.kind, b.path))
            page_parts.append(b.text)
            offset += len(b.text)
        parts.append("\n\n".join(page_parts))
    return PAGE_JOIN.join(parts), spans


def extract_pdf(
    pdf: bytes | None,
    url: str | None = None,
    max_bytes: int | None = None,
    max_pages: int | None = None,
) -> ExtractResult:
    """The PDF flagship map — same contract as ``extract()`` (never
    raises; failures are structured rows; pages joined by ``"\\f"``)."""
    import time as _time

    try:
        if pdf is None or len(pdf) == 0:
            return ExtractResult(
                url, STATUS_FAILURE, "",
                error=FailureInfo(
                    CATEGORY_SOURCE_UNAVAILABLE, "empty document", False, PHASE_ADMISSION
                ),
            )
        if max_bytes is not None and len(pdf) > max_bytes:
            return ExtractResult(
                url, STATUS_FAILURE, "",
                error=FailureInfo(
                    CATEGORY_POLICY,
                    f"document size {len(pdf)} exceeds max_file_size {max_bytes}",
                    False, PHASE_ADMISSION,
                ),
            )
        if not is_pdf(pdf):
            return ExtractResult(
                url, STATUS_FAILURE, "",
                error=FailureInfo(
                    CATEGORY_POLICY, "not a PDF (missing %PDF- header)", False, PHASE_ADMISSION
                ),
            )
        t0 = _time.perf_counter()
        try:
            pages_blocks = parse_pdf_pages(bytes(pdf))
        except PdfParseError as exc:
            return ExtractResult(
                url, STATUS_FAILURE, "",
                error=FailureInfo(CATEGORY_POLICY, str(exc), False, PHASE_DECODE),
            )
        n_pages = len(pages_blocks)
        if max_pages is not None and n_pages > max_pages:
            return ExtractResult(
                url, STATUS_FAILURE, "", n_pages=n_pages,
                error=FailureInfo(
                    CATEGORY_POLICY,
                    f"page count {n_pages} exceeds max_num_pages {max_pages}",
                    False, PHASE_ADMISSION,
                ),
            )
        text, spans = _render(pages_blocks)
        dt = _time.perf_counter() - t0
        return ExtractResult(
            url, STATUS_SUCCESS, text, spans=spans, n_pages=n_pages,
            timings={"pdf_parse_layout": dt},
        )
    except Exception as exc:  # noqa: BLE001 — failures are rows, never raises
        return ExtractResult(
            url, STATUS_FAILURE, "",
            error=FailureInfo(
                CATEGORY_POLICY, f"{exc.__class__.__name__}: {exc}", False, PHASE_EXTRACT
            ),
        )


# ---------------------------------------------------------------------------
# page splitting (the reference's single-PDF slice fan-out,
# ``orchestrators/ray/serve_deployment.py:437-464`` — re-expressed as a
# REAL page split: each slice is a self-contained sub-PDF carrying only
# its pages' objects, so Spark slice rows ship slice-sized bytes, the
# same contract as the HTML slice path in operators/slices.py)
# ---------------------------------------------------------------------------
# page-dict keys copied into a sub-PDF. A whitelist, not "everything but
# Parent": /Annots, /B, /StructParents… can reference page-tree or
# document-level objects whose closure would drag the whole file in.
_PAGE_COPY_KEYS = ("Type", "MediaBox", "CropBox", "Rotate", "Resources", "Contents")

_NAME_ESCAPE = set(_REG_END) | {0x23}  # delimiters, whitespace, '#'


def _ser_name(name: str) -> bytes:
    out = bytearray(b"/")
    for b in name.encode("latin-1"):
        if b in _NAME_ESCAPE or b < 0x21 or b > 0x7E:
            out += b"#%02X" % b
        else:
            out.append(b)
    return bytes(out)


def _ser_value(v, renum: dict[int, int]) -> bytes:
    if isinstance(v, Ref):
        new = renum.get(v.num)
        return b"%d 0 R" % new if new is not None else b"null"
    if isinstance(v, Name):
        return _ser_name(str(v))
    if isinstance(v, bool):
        return b"true" if v else b"false"
    if v is None:
        return b"null"
    if isinstance(v, int):
        return b"%d" % v
    if isinstance(v, float):
        s = f"{v:.6f}".rstrip("0").rstrip(".")
        return (s or "0").encode()
    if isinstance(v, (bytes, bytearray)):
        return b"<" + bytes(v).hex().encode() + b">"  # hex: no escaping
    if isinstance(v, dict):
        parts = [
            _ser_name(k) + b" " + _ser_value(val, renum) for k, val in v.items()
        ]
        return b"<< " + b" ".join(parts) + b" >>"
    if isinstance(v, list):
        return b"[" + b" ".join(_ser_value(it, renum) for it in v) + b"]"
    raise PdfParseError(f"unserializable value {type(v).__name__}")


def _closure(doc: PdfDocument, values) -> list[int]:
    """Object numbers reachable from the given values, sorted."""
    seen: set[int] = set()
    stack = list(values)
    while stack:
        v = stack.pop()
        if isinstance(v, Ref):
            if v.num in seen or v.num not in doc.objects:
                continue
            seen.add(v.num)
            stack.append(doc.objects[v.num][0])
        elif isinstance(v, dict):
            stack.extend(v.values())
        elif isinstance(v, list):
            stack.extend(v)
    return sorted(seen)


def pdf_page_count(data: bytes) -> int:
    """Page count for slice routing; payloads failing the ``%PDF-``
    admission sniff or any structural parse count as 1, so they route to
    the single-shot path whose failure row is the oracle. (The object
    scan itself would happily read a header-stripped file — without the
    sniff the sliced path would 'repair' documents the single-shot path
    rejects, breaking the identical-either-way contract.)"""
    if not is_pdf(data):
        return 1
    try:
        return len(PdfDocument(bytes(data)).page_nodes())
    except Exception:  # noqa: BLE001 — routing must never fail a task
        return 1


def split_pdf(data: bytes, pages_per_slice: int) -> tuple[list[bytes], int]:
    """Split into self-contained sub-PDFs of <= pages_per_slice pages;
    returns (slices, exact total page count — the authoritative figure
    for slice rows, independent of the JVM routing estimate).

    Each sub-PDF copies exactly the objects reachable from its pages'
    Resources/Contents (streams re-emitted byte-exact, still compressed),
    with inherited attributes materialized onto the page dicts — so
    extraction of slice k equals pages [lo,hi] of the full document by
    construction (layout is per-page). Raises PdfParseError on
    structurally unparseable input."""
    doc = PdfDocument(bytes(data))
    nodes = doc.page_nodes()
    k = max(1, pages_per_slice)
    out: list[bytes] = []
    for lo in range(0, len(nodes), k):
        out.append(_build_sub_pdf(doc, nodes[lo : lo + k]))
    return out, len(nodes)


def _build_sub_pdf(doc: PdfDocument, nodes: list[tuple[dict, dict]]) -> bytes:
    page_dicts: list[dict] = []
    for node, inh in nodes:
        pd: dict = {}
        for key in _PAGE_COPY_KEYS:
            if key in node:
                pd[key] = node[key]
            elif key in inh:
                pd[key] = inh[key]
        pd["Type"] = Name("Page")
        page_dicts.append(pd)
    copied = _closure(doc, page_dicts)
    renum = {old: 3 + i for i, old in enumerate(copied)}
    first_page = 3 + len(copied)

    objects: dict[int, bytes] = {}
    kids = b" ".join(b"%d 0 R" % (first_page + i) for i in range(len(page_dicts)))
    objects[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objects[2] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_dicts))
    for old in copied:
        val, raw = doc.objects[old]
        if raw is not None and isinstance(val, dict):
            d2 = {k: v for k, v in val.items() if k != "Length"}
            d2_ser = _ser_value(d2, renum)
            # direct Length replaces whatever the original carried
            body = d2_ser[:-3] + b"/Length %d >>" % len(raw)
            objects[renum[old]] = body + b"\nstream\n" + raw + b"\nendstream"
        else:
            objects[renum[old]] = _ser_value(val, renum)
    for i, pd in enumerate(page_dicts):
        ser = _ser_value(pd, renum)
        # graft the new Parent into the serialized dict
        objects[first_page + i] = ser[:-3] + b"/Parent 2 0 R >>"

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objects[num])
    xref_pos = len(out)
    max_num = max(objects)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (max_num + 1)
    for num in range(1, max_num + 1):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        max_num + 1,
        xref_pos,
    )
    return bytes(out)
