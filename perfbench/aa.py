"""A/A check: two sets of benchmark runs of the same tree, compared.

    python3 perfbench/aa.py [--seconds S]

Runs every workload of ``BENCHMARK.json`` with seeds 101-110 (set 1),
then again with the same seeds (set 2), so both sets measure the same
inputs and set 2's runs also check their outputs against what set 1's
recorded for each seed. Each run is ``perfbench/run.py --workload W
--seed N --seconds S --trace 0`` in a child process, from the root of
this checkout; the workloads take turns so that host drift is spread over
all of them. ``--seconds`` defaults to ``run_seconds``.

For each set, workload and end-to-end metric it prints the median and the
quartiles (``statistics.quantiles(values, n=4)``) and the spread,
(q3 - q1) / median. A metric agrees when each set's spread is within the
metric's bound and the two sets' medians differ by no more than the bound
(as a share of set 1's). Also prints each workload's mean run wall time
and the time a schedule of 4 + 22 x workloads runs would take at that
rate.

Records every run, and its standard error, under ``.bench_work/aa/<time>/``.
Exits 0 when every run succeeded and was correct, and every metric agreed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = range(101, 111)
SETS = 2


def run_once(workload: str, seed: int, seconds: int, log_dir: str, k: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    with open(os.path.join(log_dir, f"{workload}-s{seed}-set{k}.log"), "w") as err:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                              text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "set": k, "rc": proc.returncode,
            "wall": wall, "result": result}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def compare(spec: dict, runs: list[dict]) -> bool:
    ok = True
    print(f"{'workload':18} {'metric':16} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>7} {'bound':>6}  verdict")
    for wl in [w["name"] for w in spec["workloads"]]:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = None
            for k in range(SETS):
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == wl and r["set"] == k and r["result"]]
                if len(vals) < 2:
                    print(f"{wl:18} {name:16} {k:>3} too few runs")
                    ok = False
                    continue
                med, q1, q3, sp = spread(vals)
                verdict = "ok"
                if sp > bound:
                    verdict, ok = "SPREAD", False
                if first is None:
                    first = med
                elif abs(med - first) > bound * abs(first):
                    verdict, ok = "DRIFT", False
                print(f"{wl:18} {name:16} {k:>3} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{sp:7.3f} {bound:6.2f}  {verdict}")
    return ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]

    out_dir = os.path.join(ROOT, ".bench_work", "aa", time.strftime("%Y%m%dT%H%M%S"))
    os.makedirs(out_dir, exist_ok=True)
    runs = []
    for k in range(SETS):
        for seed in SEEDS:
            for wl in workloads:
                r = run_once(wl, seed, args.seconds, out_dir, k)
                runs.append(r)
                res = r["result"] or {}
                print(f"set {k} {wl} seed {seed}: rc {r['rc']} wall {r['wall']:.1f}s "
                      f"correct {res.get('correct')}", file=sys.stderr, flush=True)

    path = os.path.join(out_dir, "runs.json")
    with open(path, "w") as f:
        json.dump({"seconds": args.seconds, "runs": runs}, f, indent=1)

    bad = [r for r in runs if r["rc"] != 0 or not r["result"] or not r["result"]["correct"]]
    for r in bad:
        print(f"FAILED RUN: {r['workload']} seed {r['seed']} set {r['set']} rc {r['rc']}")
    ok = compare(spec, runs) and not bad
    per_wl = {wl: statistics.mean(r["wall"] for r in runs if r["workload"] == wl)
              for wl in workloads}
    for wl, wall in per_wl.items():
        print(f"mean run wall {wl}: {wall:.1f}s")
    total = 4 * max(per_wl.values()) + 22 * sum(per_wl.values())
    print(f"schedule at this rate: {total:.0f}s for {4 + 22 * len(workloads)} runs")
    print(f"runs recorded in {os.path.relpath(path, ROOT)}; verdict: {'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
