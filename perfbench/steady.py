"""Steadiness evidence: two sets of runs of one commit.

    python3 perfbench/steady.py --runs 10 [--workloads adhoc_sql ingest] \
        [--trace-runs 2]

Run from the repository root. Every run is ``perfbench/run.py`` with its
own seed (set ``k``, run ``i`` uses ``seed_base + k * runs + i``). For
each workload × end-to-end metric it prints, per set, the median, the
quartiles (``statistics.quantiles(n=4)``) and their distance as a share
of the median, and whether the second set's median is within the
metric's bound of the first's in the direction that counts as worse.
It exits with 1 unless every spread and every comparison is within its
bound.
With ``--trace-runs`` it also makes traced runs, prints their per-layer
medians, and states the tracing overhead as the traced runs'
statement geomean over the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return {"info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])}


def summary(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=names, choices=names)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args()
    seconds = bench["run_seconds"]

    raw: dict = {}
    for w in args.workloads:
        sets = []
        for k in range(SETS):
            runs = []
            for i in range(args.runs):
                seed = args.seed_base + k * args.runs + i
                r = run_once(w, seed, seconds, 0)
                if not r["result"]["correct"]:
                    print(f"{w} seed {seed}: INCORRECT {r['info']['errors']}")
                runs.append(r)
                print(f"{w} set {k} seed {seed}: " + ", ".join(
                    f"{m}={v['value']:.4g}" for m, v in r["result"]["metrics"].items()
                ), flush=True)
            sets.append(runs)
        traced = [
            run_once(w, args.seed_base + 900 + i, seconds, 1)
            for i in range(args.trace_runs)
        ]
        raw[w] = {"sets": sets, "traced": traced}

    print()
    ok = True
    for w in args.workloads:
        for metric in bench["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            meds = []
            for k, runs in enumerate(raw[w]["sets"]):
                values = [r["result"]["metrics"][name]["value"] for r in runs]
                med, q1, q3, spread = summary(values)
                meds.append(med)
                print(f"{w:10s} {name:15s} set {k}: median {med:.4g} "
                      f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} "
                      f"(bound {bound}, {'within' if spread <= bound else 'OUTSIDE'})")
                ok &= spread <= bound
            change = (meds[1] - meds[0]) / meds[0]
            worse = change if metric["better"] == "lower" else -change
            agree = worse <= bound
            ok &= agree
            print(f"{w:10s} {name:15s} set 1 vs set 0: {change:+.3f} "
                  f"({'agree' if agree else 'DISAGREE'})")
        traced = raw[w]["traced"]
        if traced:
            untraced = [
                r["result"]["metrics"]["stmt_geomean_s"]["value"]
                for runs in raw[w]["sets"] for r in runs
            ]
            layer = {
                m: statistics.median(r["result"]["metrics"][m]["value"] for r in traced)
                for m in traced[0]["result"]["metrics"]
            }
            overhead = layer["trace.stmt_geomean_s"] / statistics.median(untraced) - 1
            print(f"{w:10s} tracing overhead on stmt_geomean_s: {overhead:+.3f}")
            print(f"{w:10s} per-layer medians: " + json.dumps(
                {m: round(v, 4) for m, v in layer.items()}
            ))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
