"""Benchmark entry point for the nutdb_spark engine (see BENCHMARK.json).

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds the seeded input tables once
under ``.bench_build/perfbench/`` and then runs the workload in a fresh
worker process (``worker.py``) whose working directory, catalog, Spark
local dirs and temp dir are new and are deleted afterwards. The worker
reaches the engine only through ``nutdb_spark.connect(...).sql(text)``.

The last line on stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or with ``--trace 1`` the
per-layer ones). The line before it holds the run's context: CPUs,
driver heap, Spark version, scale, per-statement samples and medians,
the latency tail, error rate and, for ``ingest``, insert throughput,
write and read latency and stored bytes. A traced run also leaves its
spans in ``.bench_build/perfbench/traces/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
# local[4] on any box with at least 4 CPUs, and a driver heap that fits
# a 15 GiB machine shared with other work.
CPUS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEM = "4g"
DEADLINE_S = 170


def _inputs(workload: str) -> str:
    """Path of the workload's tables, generated on first use."""
    sys.path.insert(0, HERE)
    import datagen
    import workloads

    scale = workloads.SCALES[workload]
    path = os.path.join(WORK, "data", f"scale{scale}-seed{workloads.DATA_SEED}")
    datagen.build(path, scale, workloads.DATA_SEED)
    datagen.verify(path)
    return path


def _reap(pgid: int) -> None:
    """Stop whatever is left of the worker's process group."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        time.sleep(1.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("adhoc_sql", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_launch = time.time()

    if not os.path.isfile(os.path.join(ROOT, "nutdb_spark", "engine.py")):
        print(f"no nutdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    data = _inputs(args.workload)

    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(WORK, "runs"))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", out,
    ]
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        cmd += ["--spans", os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"
        )]
    budget = DEADLINE_S - (time.time() - t_launch)
    # a SIGTERM to this process still stops the worker (see finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        # the worker's set-up time counts from here, after the inputs exist
        cmd += ["--t0", repr(time.time())]
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {DEADLINE_S}s", file=sys.stderr)
            rc = None
        finally:
            _reap(proc.pid)
            proc.wait()
        if rc != 0:
            print(f"worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"info": res["info"]}))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
