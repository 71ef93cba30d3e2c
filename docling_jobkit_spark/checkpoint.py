"""Exactly-once commit + cross-run resume (SURVEY §2.7 O5/O6).

The reference guarantees first-terminal-state-wins via Redis WATCH/MULTI
(``orchestrators/ray/redis_helper.py:950-1078``) and reconciles stale
executions via lease+heartbeat (``:1225-1266``). Spark gives task-level
retries for free; what it does NOT give is **cross-run resume**. This
module re-expresses the reference's durable-result discipline with the
reference's own object-store pattern (``convert/results_processor.py:
372-452``: data files first, then one small manifest PUT):

- each commit attempt writes its parquet files to a UNIQUE final path
  ``results/group=<gid>/attempt=<attempt>/`` — written once, never
  renamed (directory rename is atomic on POSIX but does not exist on
  S3/GCS, where "rename" is a non-atomic copy+delete);
- a group is committed iff its manifest object exists. The manifest is
  published with a SINGLE conditional object PUT (create-if-absent) —
  the atomic terminalization, exactly the role of Redis MULTI. A loser
  (duplicate concurrent committer, or a retry racing a slow first
  attempt) fails the conditional PUT, discards its own attempt files,
  and adopts the winner's manifest;
- attempt directories without a manifest (crashed attempts, losers that
  died before cleanup) are INVISIBLE: every read path resolves data
  locations through manifests, never by listing ``results/``;
- resume = anti-join: pages whose commit group already has a manifest
  are skipped (coarse, partition-pruned), and a ``left_anti`` on the
  payload-qualified identity ``(url, n_bytes)`` against the committed
  results guards the fine grain (SURVEY §3.3) — url alone is NOT an
  identity, the corpus contains duplicate urls with distinct payloads.

Storage contract. Every filesystem touch in the commit, streaming
sketch-state, ingest and sink paths goes through the primitives below,
which speak the Hadoop FileSystem API (any scheme the JVM has a
connector for) with the active Spark context's Hadoop configuration:
``exists``, ``list_status``, ``committed_dirs`` (directories gated on
their OWN ``_SUCCESS``), ``latest_version`` (newest complete
``<prefix><int>`` directory, optionally strictly below a given id),
``put_if_absent``, ``read_bytes`` and ``delete``. Two seams are built
on them, and nothing else publishes or rewrites:

- publish: ``put_if_absent`` — one conditional object PUT makes a
  version (a manifest, a sketch state) visible;
- rewrite: ``certified_rewrite`` — data that must change in place
  (compaction, takedown, shard purge) moves through a tmp directory
  certified by ``content_signature`` on the way in and on the way out;
  the tmp is deleted last, a complete tmp found on entry is finished,
  and a tmp that fails its own certificate is deleted at once.

``put_if_absent`` is the only step that needs atomicity, and what gives
it depends on the scheme:

- ``file``: ``os.link`` from a fully written temp name — atomic,
  fails-if-exists, and the content is complete before the name
  appears, so a crash mid-write never publishes a torn manifest.
  Hadoop's local ``create(overwrite=false)`` checks and then creates,
  which is NOT atomic, so the local branch bypasses it.
- ``hdfs``/``viewfs``: ``FileSystem.create(path, false)``, which the
  NameNode runs as an exclusive create (a second creator gets
  ``FileAlreadyExistsException``). The name is visible, empty, until
  the winner closes the stream.
- object stores (``s3a``, ``gs``, ``abfs``): atomic only through a
  connector that maps ``create(path, false)`` to a conditional PUT
  (S3 ``If-None-Match: *`` / GCS ``x-goog-if-generation-match: 0``).
  A connector that checks-then-PUTs lets two racing committers both
  "win"; single-writer runs stay correct either way.

With an Iceberg catalog the manifest becomes a snapshot commit and this
module shrinks to a writer config.

Scale note: manifests hold only group ids + attempt paths + row counts
(bytes, not rows), so at 10^12 documents they stay tiny. Resume's fine
grain is COUNT-VERIFIED: each committed group's manifest ``n_rows`` is
checked against the current page count of that group (one map-side-
combined agg shuffling a single long per group — never a corpus url
shuffle). Only when a count mismatches (the page set or grouping changed
between runs) does resume fall back to the exact ``left_anti`` on
``(url, n_bytes)`` against committed results, and the fallback is
logged — it implies corpus-scale join work a steady-state resume never
pays.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(path: str):
    """(FileSystem, Path) for ``path`` under the active Spark context's
    Hadoop configuration — a plain path resolves against
    ``fs.defaultFS``, exactly as Spark's own readers resolve it."""
    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError("the storage primitives need an active SparkContext")
    # a JavaClass built by name skips the per-package reflection round
    # trips of sc._jvm.org.apache...; these run many times per commit
    jpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def exists(path: str) -> bool:
    fs, jpath = _fs(path)
    return bool(fs.exists(jpath))


def list_status(root: str, prefix: str = ""):
    """Yields the FileStatus of each child of ``root`` whose name starts
    with ``prefix`` — one LIST, metadata-scale; nothing when ``root`` is
    absent. Lazy, so a caller that stops early skips the per-child
    py4j calls for the rest."""
    fs, jroot = _fs(root)
    if fs.exists(jroot):
        for st in fs.listStatus(jroot):
            if not prefix or st.getPath().getName().startswith(prefix):
                yield st


def _list_parquet_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of the parquet data files anywhere under ``path`` —
    one recursive driver-side LIST, bounded by the file count; ``_``/``.``
    metadata files are skipped."""
    fs, jpath = _fs(path)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith(("_", ".")):
            out.append((st.getPath().toString(), int(st.getLen())))
    return out


def committed_dirs(root: str, prefix: str = "batch=") -> dict[str, str]:
    """{key: dir} for each directory ``root/<prefix><key>`` whose OWN
    ``_SUCCESS`` exists — a torn write (no committer marker) is
    invisible. No rename assumptions: object-store safe."""
    out: dict[str, str] = {}
    for st in list_status(root, prefix):
        d = st.getPath().toString()
        if st.isDirectory() and exists(f"{d}/_SUCCESS"):
            out[st.getPath().getName()[len(prefix):]] = d
    return out


def latest_version(root: str, prefix: str, before: int | None = None) -> str | None:
    """Newest complete ``root/<prefix><int>`` directory, optionally
    restricted to versions strictly below ``before``."""
    versions = {}
    for key, d in committed_dirs(root, prefix).items():
        if key.isdigit() and (before is None or int(key) < before):
            versions[int(key)] = d
    return versions[max(versions)] if versions else None


def _link_if_absent(path: str, payload: bytes) -> bool:
    """The ``file``-scheme publish: write the payload to a temp name,
    fsync, then ``os.link`` it to ``path`` (see the module docstring)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    with open(tmp, "wb") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def put_if_absent(path: str, payload: bytes) -> bool:
    """Atomically create ``path`` with ``payload`` iff it does not exist
    — the conditional single-object PUT. Returns True iff this caller
    won the name. Atomicity per scheme: module docstring."""
    fs, jpath = _fs(path)
    uri = fs.makeQualified(jpath).toUri()
    if uri.getScheme() == "file":
        return _link_if_absent(uri.getPath(), payload)
    return _create_if_absent(fs, jpath, payload)


def _create_if_absent(fs, jpath, payload: bytes) -> bool:
    """The non-``file`` publish: ``FileSystem.create(path, false)``."""
    try:
        out = fs.create(jpath, False)
    except Py4JJavaError as e:
        name = e.java_exception.getClass().getName()
        if name == "org.apache.hadoop.fs.FileAlreadyExistsException":
            return False
        raise
    try:
        out.write(bytearray(payload))
    finally:
        out.close()
    return True


def read_bytes(path: str) -> bytes | None:
    """The whole object at ``path``; None when it does not exist."""
    fs, jpath = _fs(path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def delete(path: str) -> int:
    """Recursively delete ``path``; returns the bytes it held (0 when
    absent). Idempotent."""
    fs, jpath = _fs(path)
    if not fs.exists(jpath):
        return 0
    n_bytes = int(fs.getContentSummary(jpath).getLength())
    fs.delete(jpath, True)
    return n_bytes


def _url_hash_sum() -> F.Column:
    """Order-insensitive url-set signature: sum of 56-bit sha256-prefix
    hashes as decimal(38,0) — 10^12 rows × 2^56 ≈ 7×10^28 can't overflow,
    and any membership change moves the sum with probability 1-2^-56.

    NULL urls are hashed as the empty string (coalesce) rather than
    silently dropped: ``F.sum`` skips NULL terms while ``count(*)`` does
    not, so an un-guarded hash would make any group containing a NULL
    url permanently fail verification (count matches, sum doesn't) and
    silently degrade every resume to the fallback join."""
    h = F.conv(
        F.substring(F.sha2(F.coalesce(F.col("url"), F.lit("")), 256), 1, 14), 16, 10
    ).cast("decimal(28,0)")
    return F.sum(h).cast("decimal(38,0)")


def content_signature(df: DataFrame, key_col: str = "url") -> tuple[int, int]:
    """(n_rows, order-insensitive key-hash sum) — the manifest signature
    (``_url_hash_sum``: 56-bit sha prefixes summed as decimal(38,0),
    overflow-proof to 10^12 rows, null-guarded because ``F.sum``
    silently drops NULL terms). Equal signatures across a rewrite
    certify the layout change moved every row exactly once."""
    keyed = df.select(F.col(key_col).cast("string").alias("url"))
    row = keyed.agg(
        F.count("*").alias("n"),
        # empty input: F.sum is NULL, the signature of nothing is 0
        F.coalesce(_url_hash_sum(), F.lit(0).cast("decimal(38,0)")).alias("sig"),
    ).collect()[0]
    return int(row["n"]), int(row["sig"])


def certified_rewrite(
    tmp: str,
    read: Callable[[str], DataFrame],
    key_col: str,
    apply: Callable[[str], DataFrame],
    stage: Callable[[str], DataFrame] | None = None,
) -> bool:
    """The one in-place rewrite protocol, object-store safe (no rename):
    the new content goes to the ``tmp`` directory first and is checked
    by ``content_signature`` on ``key_col`` at every hop.

    1. A complete ``tmp`` (its own ``_SUCCESS``) found on entry was
       certified by an earlier call that did not finish: its content is
       the target, and ``stage`` is never called.
    2. Otherwise ``stage(tmp)`` writes the tmp from the untouched source
       and returns the content it must hold. A tmp whose ``read(tmp)``
       signature differs is DELETED before raising — left in place, its
       ``_SUCCESS`` would make the next call apply it as a heal copy.
    3. ``apply(tmp)`` moves the content into place and returns what
       landed. A mismatch raises and KEEPS the tmp: it may be the only
       intact copy, and re-running heals from it.
    4. The tmp is deleted last.

    Returns True iff a complete tmp was finished (step 1)."""
    healed = exists(f"{tmp}/_SUCCESS")
    if healed:
        want = content_signature(read(tmp), key_col)
    elif stage is None:
        raise ValueError(f"no complete rewrite tmp at {tmp} and nothing to stage")
    else:
        want = content_signature(stage(tmp), key_col)
        if content_signature(read(tmp), key_col) != want:
            delete(tmp)
            raise RuntimeError(
                f"rewrite tmp {tmp} does not match its source; tmp deleted, "
                f"source untouched"
            )
    if content_signature(apply(tmp), key_col) != want:
        raise RuntimeError(
            f"rewrite landed content that does not match its tmp; recover by "
            f"re-running (the certified tmp is kept at {tmp})"
        )
    delete(tmp)
    return healed


class CommitLog:
    """Manifest-of-committed-groups over any filesystem/object store."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.results_dir = f"{root.rstrip('/')}/results"
        self.manifest_dir = f"{root.rstrip('/')}/manifest"
        for d in (self.results_dir, self.manifest_dir):
            fs, jpath = _fs(d)
            fs.mkdirs(jpath)

    # -- commit side --------------------------------------------------

    def _manifest_path(self, gid: int) -> str:
        return f"{self.manifest_dir}/group-{gid}.json"

    def committed_groups(self) -> set[int]:
        names = [
            st.getPath().getName() for st in list_status(self.manifest_dir, "group-")
        ]
        return {
            int(n[len("group-"):-len(".json")]) for n in names if n.endswith(".json")
        }

    def read_manifest(self, gid: int) -> dict | None:
        raw = read_bytes(self._manifest_path(gid))
        return None if raw is None else json.loads(raw)

    def group_result_path(self, gid: int) -> str:
        """The committed group's data location (from its manifest); before
        any commit, the group's base directory (where a crashed legacy
        attempt might sit — without a manifest it stays invisible)."""
        m = self.read_manifest(gid)
        if m is not None:
            return m["path"]
        return f"{self.results_dir}/group={gid}"

    def _attempt_path(self, gid: int, attempt: str) -> str:
        return f"{self.results_dir}/group={gid}/attempt={attempt}"

    def _write_attempt(self, gid: int, results: DataFrame) -> dict:
        """Phase 1: data files to a unique final path — no rename ever."""
        attempt = uuid.uuid4().hex[:12]
        path = self._attempt_path(gid, attempt)
        results.write.mode("error").parquet(path)
        # group-coverage signature from the written files (one narrow
        # url-column scan of THIS group's data): row count + order-
        # insensitive sum of 56-bit url hashes (NULL-guarded — see
        # _url_hash_sum). Recorded in the manifest so resume can verify
        # coverage membership-exactly WITHOUT a corpus url anti-join
        # (see remaining_pages). A count alone is membership-blind: a
        # regrouping that preserves per-group counts would slip through.
        # CONTRACT: the signature stands in for the group's INPUT pages,
        # which is valid because results are 1:1 with pages by the
        # engine's failures-are-rows invariant (every input page yields
        # exactly one output row carrying its url — extract_op,
        # admission reject rows, and slice reassembly all preserve
        # this). A caller committing results that are NOT 1:1 with its
        # pages makes every future signature check mismatch, degrading
        # (loudly — the fallback logs) every resume to the exact join.
        row = (
            results.sparkSession.read.parquet(path)
            .agg(F.count("*").alias("n"), _url_hash_sum().alias("s"))
            .collect()[0]
        )
        return {
            "gid": gid,
            "attempt": attempt,
            "path": path,
            "n_rows": row["n"],
            "url_sig": str(row["s"]),
        }

    def _publish(self, manifest: dict) -> dict:
        """Phase 2: one conditional manifest PUT = the terminalization.

        First terminal state wins: a losing committer's data files are
        deleted best-effort (they were never visible) and the WINNER's
        manifest is returned, so every caller converges on one result."""
        gid = manifest["gid"]
        payload = json.dumps(manifest).encode()
        if put_if_absent(self._manifest_path(gid), payload):
            return manifest
        delete(manifest["path"])
        won = self.read_manifest(gid)
        assert won is not None, f"manifest for group {gid} vanished"
        return won

    def commit_group(self, gid: int, results: DataFrame) -> dict:
        """Write one group's results parquet + manifest, exactly-once.

        Idempotent: if the manifest already exists nothing is written
        (first terminal state wins, ``redis_helper.py:1001-1041`` analog);
        under a concurrent duplicate committer, exactly one manifest PUT
        succeeds and both callers return it."""
        existing = self.read_manifest(gid)
        if existing is not None:
            return existing
        return self._publish(self._write_attempt(gid, results))

    # -- resume side ---------------------------------------------------

    def committed_results(self, spark: SparkSession) -> DataFrame | None:
        """Union of committed groups — paths resolved THROUGH manifests,
        so orphaned attempt directories are never read."""
        gids = sorted(self.committed_groups())
        if not gids:
            return None
        paths = [self.group_result_path(g) for g in gids]
        return spark.read.parquet(*paths)

    def remaining_pages(
        self, spark: SparkSession, pages: DataFrame, group_col
    ) -> DataFrame:
        """Pages not yet covered by a committed group.

        Coarse prune on the group id (no shuffle — a broadcast IN-list of
        committed gids), then a SIGNATURE verification of the fine grain:
        each committed manifest carries (row count, order-insensitive sum
        of 56-bit url hashes) and resume recomputes both over the current
        pages of that group. The verification aggregates two numbers per
        group (map-side combined — the shuffle payload is ``n_groups``
        rows regardless of corpus size) and detects ANY membership change
        with probability 1-2^-56. When every signature matches — the
        steady state: same page set, same grouping — resume performs
        ZERO url-level work.

        Only on a mismatch (pages were added/removed, or the grouping
        function/count changed between runs) does it fall back to the
        exact ``left_anti`` against committed results — applied to ALL
        pages, not the coarse-pruned remainder, because a changed
        grouping makes gid membership meaningless. Manifests from older
        versions without the signature take the fallback too (safe).

        The fallback join key is PAYLOAD-QUALIFIED when both sides carry
        the identity: ``(url, n_bytes)`` — committed results record
        ``n_bytes = coalesce(length(html), 0)`` (extract_op and the
        admission reject path agree on this), and the pages side
        recomputes it on the fly. The corpus deliberately contains
        duplicate urls with DISTINCT payloads, so a url-only key would
        silently skip an uncommitted page sharing a url with any
        committed row (under-processing). Equal-length payload swaps at
        the same url remain outside this identity — catching those would
        require re-hashing the full corpus payload at resume time, which
        no resume should pay; pipelines needing content-exact identity
        should key commit groups on a payload hash upstream. The
        ``length(html)`` read happens ONLY on this rare fallback path;
        the steady state never touches the payload column. Every
        fallback is logged (it means corpus-scale work) with the reason.
        """
        import logging

        gids = self.committed_groups()
        if not gids:
            return pages
        glist = sorted(gids)
        expected = {}
        for g in glist:
            m = self.read_manifest(g)
            expected[g] = (
                None
                if m is None or "n_rows" not in m or "url_sig" not in m
                else (m["n_rows"], m["url_sig"])
            )
        log = logging.getLogger(__name__)
        if all(v is not None for v in expected.values()):
            actual = {
                r["gid"]: (r["cnt"], str(r["sig"]))
                for r in pages.filter(group_col.isin(glist))
                .groupBy(group_col.alias("gid"))
                .agg(F.count("*").alias("cnt"), _url_hash_sum().alias("sig"))
                .collect()
            }
            mismatched = [g for g in glist if actual.get(g) != expected[g]]
            if not mismatched:
                return pages.filter(~group_col.isin(glist))
            log.warning(
                "resume signature mismatch for groups %s (page set or "
                "grouping changed since commit) — falling back to the "
                "exact anti-join over all pages", mismatched,
            )
        else:
            log.warning(
                "resume manifests missing coverage signature for groups %s "
                "(pre-signature commit) — falling back to the exact "
                "anti-join over all pages",
                [g for g in glist if expected[g] is None],
            )
        done = self.committed_results(spark)
        if done is None:
            return pages.filter(~group_col.isin(glist))
        # AQE picks broadcast vs shuffle for the anti-join based on the
        # actual size of the committed-identity set at runtime
        if "n_bytes" in done.columns and "html" in pages.columns:
            keyed = pages.withColumn(
                "_resume_nb", F.coalesce(F.length("html").cast("long"), F.lit(0))
            )
            committed_keys = done.select(
                F.col("url").alias("_resume_url"),
                F.col("n_bytes").alias("_resume_done_nb"),
            ).distinct()
            return keyed.join(
                committed_keys,
                (keyed["url"] == committed_keys["_resume_url"])
                & (keyed["_resume_nb"] == committed_keys["_resume_done_nb"]),
                how="left_anti",
            ).drop("_resume_nb")
        log.warning(
            "resume fallback joining on url alone: committed results lack "
            "n_bytes or pages lack html — duplicate urls with distinct "
            "payloads cannot be distinguished on this path"
        )
        return pages.join(
            done.select("url").distinct(), on="url", how="left_anti"
        )
