"""SparkSession factory tuned for the extraction workload.

Local-mode knobs follow the public Spark docs: AQE on, Arrow on, shuffle
partitions sized to cores (not the 200 default), UTC session timezone so
timestamps round-trip deterministically.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MEMORY_UNITS = {None: 2**20, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}

# Entries of Spark's generated-class cache (the static conf
# spark.sql.codegen.cache.maxEntries, default 100). One ingest_batch
# step plus its read side generates about 250 distinct classes
# (whole-stage, projection and predicate code), so at 100 the cache
# evicts each one before the next batch comes back to the same plan
# shape and every step re-runs Janino on all of them (about 250
# compiles, 1.1-2.7 CPU-s). At this size the steady state compiles only
# the ~20 classes per step whose code is new; the cost is driver
# metaspace for the classes actually generated (OPTIMIZATION_r06.md §14).
CODEGEN_CACHE_ENTRIES = 1024


def _memory_mb(size: str) -> int:
    """A Spark memory string in whole MiB, read as Spark reads it: a bare
    number is MiB; k, m, g and t take an optional b, in any case
    ("2G", "512M", "2gb")."""
    m = re.fullmatch(r"(\d+)(?:([kmgt])b?)?", size.strip().lower())
    if m is None:
        raise ValueError(f"not a Spark memory size: {size!r}")
    return int(m[1]) * _MEMORY_UNITS[m[2]] // 2**20


def _remove_app_dir(sc: SparkContext, app_dir: str) -> None:
    """Stop the app (its executors exit with it; a no-op when already
    stopped), then delete its executor directory."""
    sc.stop()
    shutil.rmtree(app_dir, ignore_errors=True)


def get_spark(
    app_name: str = "docling-jobkit-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
    tuned: bool = False,
    extra: dict[str, str] | None = None,
    n_executors: int | None = None,
    executor_memory: str = "6g",
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    ``cores`` controls ``local[N]``; shuffle partitions default to ``cores``
    so local shuffles don't fragment into 200 tiny tasks. On a real cluster
    the same code runs under spark-submit with master/partitions supplied by
    the deployment, so nothing here hard-codes local-only behavior beyond
    the master URL.

    ``n_executors`` switches the master to ``local-cluster[n, cores/n, mem]``
    — Spark's multi-JVM local standalone cluster (the mode Spark's own test
    suite uses). Each executor is a SEPARATE JVM with its own heap, GC, and
    python-worker pool, which is how a real cluster scales: adding executors
    multiplies heaps and GC bandwidth, while ``local[4N]`` quadruples mutator
    threads inside ONE fixed heap (measured: per-doc JVM CPU inflates with
    thread count under local[N]; see BENCH.md round-5 scaling notes).
    Executor JVMs get the same GC profile as the tuned driver, sized to
    their own core count. Spark's local cluster gives its workers no work
    dir, so executors write under ``$SPARK_HOME/work/<app id>``, inside
    the Spark installation; the driver stops the app and removes that
    directory when it exits.

    Every session, in either mode, forks its Python workers from
    ``docling_jobkit_spark.pyworker`` instead of ``pyspark.daemon``, and
    ships this package's root in the workers' PYTHONPATH so that daemon and
    the pandas UDFs resolve in any executor (workers do not inherit the
    driver's sys.path). The daemon stat-gates the zip re-reads that
    ``importlib.invalidate_caches()`` triggers on every task: on Python
    3.10-3.12 that was ~16 parses of pyspark.zip's directory per task, most
    of a Python task's fixed cost (~0.23 -> ~0.045 CPU-s; OPTIMIZATION_r06.md
    §13). Plans and rows are unchanged.

    Every session also keeps ``CODEGEN_CACHE_ENTRIES`` generated classes
    (Spark's default is 100), so a plan shape that recurs — the same
    ingest step batch after batch — is compiled once per session, not
    once per batch. The conf is static: it applies to the session that
    builds the JVM, not to one ``getOrCreate`` picks up.

    ``tuned=True`` applies the measured throughput profile for the
    pandas-UDF extraction workload (see BENCH.md for the evidence):
    - ParallelGC: the output is a high-rate churn of large short-lived
      strings; G1's concurrent machinery costs ~30% at 32 cores;
    - larger Arrow batches + IPC buffer and unix-domain sockets: fewer
      JVM↔python wakeups (expensive on virtualized hosts);
    - a persistent python-worker pool: without it, idle workers are
      reaped between stages and every stage pays a fork+import stampede.
      Pooling does not remove the per-task zip re-read; the daemon above
      does, in every profile.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cores
    if n_executors:
        exec_cores = max(1, cores // n_executors)
        exec_mem_mb = _memory_mb(executor_memory)
        master = f"local-cluster[{n_executors},{exec_cores},{exec_mem_mb}]"
    else:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces shuffle partitions by BYTES; this engine's hot
        # stages are interpreted higher-order-function chains whose CPU
        # per byte is 100-1000x a plain scan, so the default 1MB floor
        # serializes them whenever the shuffled payload is small (hashes
        # and ids, not text). 64KB keeps those stages wide; measured at
        # sf0.1/local[32]: jaccard_pairs 2.6->1.8 s, curation_funnel
        # 7.4->6.4, minhash_index_dedup 1.9->1.6 (16KB/4KB no better).
        # Inert at production scale where partitions exceed 1MB anyway.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64KB")
        # runtime skew mitigation for the join families (AQE splits an
        # oversized shuffle partition into parallel sub-joins): crawl
        # corpora are Zipfian in host/template keys, so the dedup/
        # frequency joins hit skewed keys at scale. Static salting
        # (partitioning.salted_repartition) remains the write-time tool;
        # this is the runtime backstop.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary html payloads: cap Arrow batch size so a batch of big pages
        # doesn't blow the python worker heap (SURVEY §7 "What's hard" #4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # PySpark 4 captures a Python call-site (stack walk) AND pushes it
        # to the JVM (one extra py4j round trip) on EVERY DataFrame API
        # call when dataFrameDebugging is on (the default) — pure driver
        # latency on plan-construction-heavy operators (measured via
        # cProfile: thousands of gateway calls per composite plan build).
        # Error messages lose the user-code line pointer; plans, results
        # and executor behavior are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # pyspark.daemon with stat-gated zip re-reads (see the docstring)
        .config("spark.python.daemon.module", "docling_jobkit_spark.pyworker")
        # a real deployment ships the package with spark-submit --py-files
        # or a cluster-wide install instead
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
    )
    if n_executors:
        builder = builder.config("spark.executor.memory", executor_memory)
    if tuned:
        jvm_cores = max(1, cores // n_executors) if n_executors else cores
        gc_opts = f"-XX:+UseParallelGC -XX:ActiveProcessorCount={jvm_cores}"
        for k, v in {
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:ActiveProcessorCount={cores}",
            "spark.python.factory.idleWorkerMaxPoolSize": str(cores * 8),
            "spark.buffer.size": "1048576",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
            "spark.python.unix.domain.socket.enabled": "true",
            **({"spark.executor.extraJavaOptions": gc_opts} if n_executors else {}),
        }.items():
            builder = builder.config(k, v)
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    if sc.master.startswith("local-cluster"):
        home = sc._jvm.System.getenv("SPARK_HOME")  # the workers' home
        atexit.register(
            _remove_app_dir, sc, os.path.join(home, "work", sc.applicationId)
        )
    return spark
