"""Scalar functions (SURVEY §2.5) — all JVM-side, whole-stage-codegen.

Cross-engine determinism note: where a value must be reproducible outside
Spark (DuckDB oracle, other engines), hashes are derived from sha-256 hex
prefixes instead of engine-native hash functions (xxhash64/murmur differ
per engine; sha-256 of the same bytes never does). Reference precedent
for the sha-prefix key: ``connectors/artifact_paths.py:9-10``
(``sha256(uri)[:12]``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_hash_key(col="url", n: int = 12) -> Column:
    """Stable artifact/bucket key: first n hex chars of sha256.

    P2 in SURVEY §2.5 (``hash_path_component``)."""
    return F.substring(F.sha2(F.col(col) if isinstance(col, str) else col, 256), 1, n)


def stable_hash64(col, bits: int = 56) -> Column:
    """Deterministic cross-engine integer hash: sha256 hex prefix → long.

    56 bits (14 hex chars) keeps the value strictly inside a signed 64-bit
    long in every engine (DuckDB ubigint, Spark long, Python int)."""
    n_hex = bits // 4
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.sha2(c, 256), 1, n_hex), 16, 10).cast("long")


def normalized_text(col) -> Column:
    """Deterministic normalization used by fingerprints & dedup: lowercase,
    collapse whitespace runs, trim. Mirrors the oracle-extractor policy."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col, n: int = 16) -> Column:
    """Document fingerprint: sha256 of normalized text, hex prefix."""
    return F.substring(F.sha2(normalized_text(col), 256), 1, n)


def content_hash(col) -> Column:
    """THE canonical dedup key: full sha256 hex of the normalized text.
    Single definition shared by batch dedup, streaming dedup, and the
    curation composite — change the normalization policy here and every
    consumer stays in sync."""
    return F.sha2(normalized_text(col), 256)


def uri_parts(col) -> list[Column]:
    """P6 (SURVEY §2.5): filename/URI derivation — scheme, host, path,
    filename, extension as pure regexp projections. The reference derives
    artifact paths and target filenames from source URIs
    (``connectors/artifact_paths.py``, filename fallbacks in the target
    contract); here it is one codegen projection, and the exact same
    regexes run in the DuckDB oracle (class-portable patterns only)."""
    c = F.col(col) if isinstance(col, str) else col
    no_query = F.regexp_replace(c, r"[?#].*$", "")
    filename = F.regexp_extract(no_query, r"([^/]+)$", 1)
    return [
        F.regexp_extract(c, r"^([a-z][a-z0-9+.-]*)://", 1).alias("scheme"),
        F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1).alias("host"),
        F.regexp_extract(c, r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1).alias("upath"),
        filename.alias("filename"),
        F.regexp_extract(filename, r"\.([A-Za-z0-9]+)$", 1).alias("ext"),
    ]


BPE_TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def bpe_tokens(col) -> Column:
    """BPE-ish pre-tokenization: letter runs, digit runs, single
    punctuation marks (the GPT-2-style regex family, simplified to a
    class-portable pattern that behaves identically in DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0)


def rolling_hash(col, base: int = 31, mod: int = 10**15 + 37) -> Column:
    """Polynomial rolling hash over the characters of the normalized
    text: h = h*base + code(char) (mod p), a pure left fold in integer
    arithmetic — identical in any engine with ascii() and a list fold,
    unlike engine-native hash functions. mod < 2^50 keeps h*base far
    from long overflow. ASCII corpora only (codepoint semantics of
    ascii() differ across engines beyond ASCII)."""
    chars = F.split(normalized_text(col), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def tokens(col) -> Column:
    """Whitespace tokenization with exact empty-string semantics shared
    with the DuckDB oracle (`string_split_regex(trim(x),'\\s+')`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(tokens(c))).cast("int")


def single_eval(col: Column) -> Column:
    """``col`` evaluated ONCE per row, behind a single-row Generate.

    Higher-order-function projections (transform/aggregate/zip_with/
    array_intersect chains) are CodegenFallback and get no
    subexpression elimination, and project-collapse or filter-pushdown
    re-inlines an aliased column into every consumer: a fold referenced
    twice, or filtered through a pushed predicate, runs twice.
    ``explode(array(col))`` is a Generate Catalyst does not collapse
    through, so every consumer reads one stored evaluation. Plan shape
    pinned in tests/test_plans.py."""
    return F.explode(F.array(col))


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), for column names spliced into ``F.expr`` text or passed
    where Spark would otherwise parse ``a.b`` as a struct path."""
    return "`" + name.replace("`", "``") + "`"


def _double_sql(x: float) -> str:
    """Shortest round-trip double literal. Python's repr is the shortest
    string that parses back to the same bits under correct rounding, and
    Spark's ``...D`` literal parses via Double.parseDouble (also
    correctly rounded) — bit-identity is pinned in tests."""
    import math

    v = float(x)
    if not math.isfinite(v):
        raise ValueError(f"non-finite literal {x!r} has no SQL double form")
    return f"{v!r}D"


def lit_doubles(vals) -> Column:
    """``array<double>`` literal in ONE py4j round trip.

    The Column-API spelling (``F.array(*[F.lit(float(x)) ...])``) costs
    one gateway call per element — a 2048-entry PQ lookup table or a
    1024-entry hyperplane matrix burns SECONDS of pure driver latency
    per call (measured via cProfile: the minhash coefficient array alone
    was ~0.8-2 s per ingest commit). One parsed expression string is
    ~1000x cheaper and value-identical bit-for-bit (test-pinned)."""
    xs = list(vals)
    if not xs:
        return F.expr("cast(array() as array<double>)")
    return F.expr("array(" + ",".join(_double_sql(x) for x in xs) + ")")


def lit_double_rows(rows) -> Column:
    """``array<array<double>>`` literal in ONE py4j round trip (see
    ``lit_doubles``) — codebooks, LUTs, hyperplane matrices."""
    rs = [list(r) for r in rows]
    if not rs:
        return F.expr("cast(array() as array<array<double>>)")
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_double_sql(x) for x in r) + ")" for r in rs
        )
        + ")"
    )


def lit_longs(vals) -> Column:
    """``array<bigint>`` literal in ONE py4j round trip (see
    ``lit_doubles``)."""
    xs = [int(v) for v in vals]
    if not xs:
        return F.expr("cast(array() as array<bigint>)")
    return F.expr("array(" + ",".join(f"{v}L" for v in xs) + ")")


def lit_strings(vals) -> Column:
    """``array<string>`` literal in ONE py4j round trip (see
    ``lit_doubles``) — file lists for zone-map footer scans and other
    driver-known string sets. Values are backslash-escaped for Spark's
    default string-literal rules (bit-identity vs the Column-API form
    pinned in tests, quotes/backslashes/newlines included)."""
    xs = [str(v) for v in vals]
    if not xs:
        return F.expr("cast(array() as array<string>)")

    def esc(s: str) -> str:
        out = s.replace("\\", "\\\\").replace("'", "\\'")
        return out.replace("\n", "\\n").replace("\r", "\\r").replace("\x00", "\\0")

    return F.expr("array(" + ",".join(f"'{esc(s)}'" for s in xs) + ")")


def empty_frame(spark, schema) -> DataFrame:
    """Zero-row frame of ``schema`` (a ``StructType`` or a
    ``"name type, ..."`` DDL string) built on ``range(0)`` — never
    ``createDataFrame([])``, whose Python-RDD path forks a worker per
    default-parallelism partition even for zero rows. Every column is
    nullable."""
    if isinstance(schema, str):
        cols = [p.strip().rsplit(" ", 1) for p in schema.split(",")]
    else:
        cols = [(f.name, f.dataType) for f in schema.fields]
    return spark.range(0).select(*[F.lit(None).cast(t).alias(c) for c, t in cols])
