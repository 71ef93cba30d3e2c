"""Benchmark driver: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload convert_commit --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. Starts Spark on ``local[4]`` in this
process, generates (or loads from the per-seed cache) the workload's
inputs, loads them and runs the warm pass three times, then runs the
workload's unit job in a closed loop until ``--seconds`` have passed. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Everything else goes to standard error.
Spans of a traced run are written to ``.bench_work/trace/``.

Exits non-zero without a result when the package cannot be imported or
any step raises.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and of the per-layer metrics, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def configure_env(run_dir: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def start_session(tmp: str):
    from docling_jobkit_spark import session

    # the Python workers' unix-domain sockets get a path relative to the
    # checkout root (every process of the run has it as working
    # directory), so a long checkout path cannot pass the 108-byte
    # socket-path limit
    sock_dir = os.path.relpath(os.path.join(tmp, "s"), ROOT)
    os.makedirs(sock_dir, exist_ok=True)
    return session.get_spark(
        "perfbench",
        cores=4,
        shuffle_partitions=4,
        driver_memory="3g",
        tuned=True,
        extra={
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:ActiveProcessorCount=4 -Djava.io.tmpdir={tmp}",
            "spark.python.unix.domain.socket.dir": sock_dir,
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process this
    run started has exited."""
    import probe
    from pyspark import SparkContext

    pids = set(probe.tree()) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rpartition(")")[2].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def measure(args) -> dict:
    import probe
    from workloads import WORKLOADS

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    wl = WORKLOADS[args.workload](WORK, run_dir, args.seed, log)
    e2e_units, layer_units = load_units()

    # set-up = session start, then load + warm pass, repeated; the inputs
    # are generated or loaded from the per-seed cache in between, untimed
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        launch_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(spark)
        log(f"inputs ready in {time.perf_counter() - t0:.2f}s")
        reps = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.load(spark)
            wl.warm(spark, r)
            reps.append(time.perf_counter() - t0)
        setup_s = launch_s + statistics.median(reps)
        log(f"launch {launch_s:.2f}s, load + warm repetitions {[round(x, 2) for x in reps]}")

        sc = spark.sparkContext
        sc.setJobGroup(probe.WINDOW_GROUP, probe.WINDOW_GROUP)
        fallbacks = probe.FallbackCounter()
        logging.getLogger("docling_jobkit_spark.checkpoint").addHandler(fallbacks)
        if args.trace:
            tr = probe.Tracer(sc)
            install_wrappers(tr)
        else:
            tr = probe.NoTracer()

        steps = []
        deadline = time.perf_counter() + args.seconds
        # a traced run alternates untraced and traced steps; step 0 is
        # left out of the overhead comparison as the coldest one
        min_steps = max(wl.MIN_STEPS, 3 if args.trace else 1)
        with probe.MemSampler() as mem:
            i = 0
            while i < min_steps or time.perf_counter() < deadline:
                traced = bool(args.trace) and i % 2 == 1
                tr.enabled = traced
                try:
                    with probe.Meter() as m:
                        docs = wl.step(spark, tr, i)
                except StopIteration:
                    log("inputs exhausted; window ends early")
                    break
                tr.enabled = False
                wl.verify(spark, i)
                steps.append({"traced": traced, "docs": docs,
                              "wall": m.wall, "cpu": m.cpu, "cpu_total": m.cpu_total,
                              "ext_cores": m.ext_cores})
                log(f"step {i}: {docs} docs in {m.wall:.3f}s, cpu {m.cpu_total:.2f}s, "
                    f"ext {m.ext_cores:.2f} cores")
                i += 1
        log("peak memory (PSS) MB by process kind: "
            + str({k: round(v / 2**20) for k, v in mem.peak_by.items()}))

        failed_tasks = probe.job_counts(sc, probe.WINDOW_GROUP)["failed_tasks"]
        if args.trace:
            tr.resolve()
            failed_tasks += sum(s["failed_tasks"] for s in tr.spans)
        wl.fail(failed_tasks, "failed Spark task attempts")

        if args.trace:
            metrics = layer_metrics(wl, spark, tr, steps, launch_s, failed_tasks,
                                    fallbacks.count, layer_units)
            write_spans(args, tr.spans, steps)
        else:
            metrics = e2e_metrics(wl, steps, setup_s, mem.peak)
    finally:
        if spark is not None:
            t0 = time.perf_counter()
            shutdown(spark)
            log(f"shut down in {time.perf_counter() - t0:.2f}s")
        shutil.rmtree(run_dir, ignore_errors=True)
    unit = layer_units if args.trace else e2e_units
    return {
        "correct": wl.failed == 0,
        "attempted": int(wl.attempted),
        "failed": int(wl.failed),
        "metrics": {k: {"value": float(v), "unit": unit[k]} for k, v in metrics.items()},
    }


def e2e_metrics(wl, steps, setup_s: float, peak_mem: int) -> dict:
    med = statistics.median
    return {
        "setup_s": setup_s,
        "docs_per_s": med(s["docs"] / s["wall"] for s in steps),
        "cpu_ms_per_doc": med(1000 * s["cpu_total"] / s["docs"] for s in steps),
        "peak_rss_mb": peak_mem / 2**20,
        "ops_ok_frac": 1.0 - wl.failed / max(1, wl.attempted),
    }


def install_wrappers(tr) -> None:
    """Spans around the public calls each layer is entered through.
    ``ingest_batch`` imports its helpers by name, so they are wrapped on
    ``plans.ingest``; the pipeline's ``with_lineage`` likewise."""
    from docling_jobkit_spark import checkpoint
    from docling_jobkit_spark.plans import ingest, pipeline

    for owner, attr, name in (
        (pipeline.ExtractionPipeline, "extract", "pipeline.build"),
        (pipeline, "with_lineage", "pipeline.build"),
        (pipeline.ExtractionPipeline, "run", "pipeline.run"),
        (checkpoint.CommitLog, "commit_group", "checkpoint.commit"),
        (checkpoint.CommitLog, "remaining_pages", "checkpoint.resume_scan"),
        (ingest, "ingest_batch", "ingest.batch"),
        (ingest, "curate_corpus", "curation.build"),
        (ingest, "write_minhash_index", "minhash_index.write"),
        (ingest, "write_training_shards", "sinks.shards_write"),
        (ingest, "update_zonemap", "zonemap.update"),
        (ingest, "update_bloom_index", "bloom_index.update"),
    ):
        tr.wrap(owner, attr, name)


def layer_metrics(wl, spark, tr, steps, launch_s, failed_tasks, fallbacks, names) -> dict:
    med = statistics.median
    traced = [s for s in steps if s["traced"]]
    plain = [s for s in steps[1:] if not s["traced"]]
    docs = sum(s["docs"] for s in steps)
    out = dict.fromkeys(names, 0.0)
    out.update({
        "session.start_s": launch_s,
        "spark.failed_tasks": failed_tasks,
        "checkpoint.resume_fallbacks": fallbacks,
        "proc.host_ext_cores": med(s["ext_cores"] for s in steps),
        "trace.overhead_frac": med(s["wall"] for s in traced) / med(s["wall"] for s in plain) - 1,
        "trace.spans": len(tr.spans) / max(1, len(traced)),
        "trace.py4j_calls_per_doc": sum(s["py4j_calls"] for s in tr.spans if s["parent"] is None)
        / max(1, sum(s["docs"] for s in traced)),
    })
    for kind in ("driver", "jvm", "python"):
        out[f"proc.{kind}_cpu_ms_per_doc"] = 1000 * sum(s["cpu"][kind] for s in steps) / docs
    out.update(wl.layers(spark, tr, tr.spans, len(traced)))
    unknown = set(out) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return out


def write_spans(args, spans, steps) -> None:
    path = os.path.join(WORK, "trace", f"{args.workload}-s{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "steps": steps,
                   "spans": spans}, f, indent=1)
    log(f"spans written to {os.path.relpath(path, ROOT)}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the JVM and Python workers inherit fd 1; point it at stderr so the
    # result line is the only thing on standard output
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    os.chdir(ROOT)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir)
    try:
        import docling_jobkit_spark  # noqa: F401
        import pyspark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        result = measure(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
