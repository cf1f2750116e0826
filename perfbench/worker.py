"""One benchmark run of one workload, in a fresh process.

``run.py`` starts this script in an isolated directory with the engine's
settings in the environment, and reads the JSON it writes to
``--out``. Phases, in order:

1. set-up, timed from the moment ``run.py`` launched this process:
   interpreter start, imports, the JVM launch, ``connect()`` on a fresh
   catalog directory, and the workload's tables and views;
2. warm-up (untimed) and, for read workloads, the output check;
3. the timed closed loop for ``--seconds`` seconds, then the workload's
   final statements;
4. for ``ingest``, the output check of the final table and view.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import math
import os
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _frame_key():
    """The repository's result normalisation (``tools/check.py``)."""
    spec = importlib.util.spec_from_file_location(
        "_nutdb_check", os.path.join(ROOT, "tools", "check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_key


def _duckdb(data_dir: str):
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    return con


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail_ratio(lat: dict[str, list[float]]) -> tuple[float, float, int]:
    """(value, percentile, samples) of latency ÷ own statement's median,
    at the highest percentile that leaves at least ten samples above it."""
    ratios = sorted(
        x / statistics.median(v) for v in lat.values() for x in v
    )
    n = len(ratios)
    if n < 11:
        return ratios[-1], 100.0, n
    return ratios[n - 11], 100.0 * (n - 10) / n, n


class Runner:
    def __init__(self, eng, tracer, frame_key, duck):
        self.eng = eng
        self.tracer = tracer
        self.frame_key = frame_key
        self.duck = duck
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows: dict[str, int] = {}
        self.seq = 0

    def execute(self, key: str, sql: str) -> float | None:
        """Run one statement to completion; its latency, or None if it failed."""
        self.attempted += 1
        self.seq += 1
        tr = self.tracer
        if tr is not None:
            tr.start_statement(f"s{self.seq}-{key}", sql)
        action = False
        t0 = time.perf_counter()
        try:
            df = self.eng.sql(sql)
            if df is not None:
                action = True
                with tr.span("action") if tr is not None else contextlib.nullcontext():
                    df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
        except Exception as ex:  # noqa: BLE001 - a failed statement is counted, not fatal
            self.failed += 1
            self.errors.append(f"{key}: {type(ex).__name__}: {str(ex)[:300]}")
            dt = None
        finally:
            if tr is not None:
                tr.end_statement(key, action)
        return dt

    def check(self, key: str, sql: str, oracle: str) -> None:
        """Untimed: the statement's result must equal its DuckDB oracle."""
        self.attempted += 1
        try:
            df = self.eng.sql(sql)
            rows = [tuple(r) for r in df.collect()]
            cols = df.columns
            res = self.duck.execute(oracle)
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            self.failed += 1
            self.errors.append(f"check {key}: {type(ex).__name__}: {str(ex)[:300]}")
            return
        self.rows[key] = len(rows)
        if self.frame_key(cols, rows) != self.frame_key(ocols, orows):
            self.failed += 1
            self.errors.append(f"check {key}: result differs from its oracle")


def _setup(workload, data_dir: str, cat_dir: str):
    from nutdb_spark import connect

    eng = connect(data_dir=data_dir, catalog_dir=cat_dir)
    workload.setup(eng)
    return eng


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--spans", help="where a traced run writes its spans")
    args = ap.parse_args()

    import workloads

    wl = workloads.make(args.workload, args.seed)
    tracer = None
    if args.trace:
        from layertrace import Tracer

        tracer = Tracer()
        tracer.install()
    cat_dir = os.path.abspath("catalog")
    eng = _setup(wl, args.data, cat_dir)
    # wall clock, because the launch happened in run.py
    setup_s = time.time() - args.t0
    if tracer is not None:
        tracer.end_setup()
        tracer.attach(eng.spark)
    run = Runner(eng, tracer, _frame_key(), _duckdb(args.data))

    phases = {"setup": setup_s}
    t_phase = time.perf_counter()
    check_after = isinstance(wl, workloads.IngestWorkload)
    if not check_after:
        for key, sql, oracle in wl.checks():
            run.check(key, sql, oracle)
    for key, sql in wl.warmup():
        run.execute(key, sql)

    phases["warmup"] = time.perf_counter() - t_phase
    lat: dict[str, list[float]] = defaultdict(list)
    done = 0
    if tracer is not None:
        tracer.begin_region()
    t_start = time.perf_counter()

    def elapsed() -> float:
        # a traced run leaves the tracer's own bookkeeping out of the window
        spent = time.perf_counter() - t_start
        return spent - tracer.overhead_s if tracer is not None else spent

    units = wl.stream()
    while elapsed() < args.seconds:
        unit = next(units, None)
        if unit is None:
            break
        for key, sql in unit:
            dt = run.execute(key, sql)
            if dt is not None:
                lat[key].append(dt)
                done += 1
    for key, sql in wl.final():
        dt = run.execute(key, sql)
        if dt is not None:
            lat[key].append(dt)
            done += 1
    wall = elapsed()
    if tracer is not None:
        # the output check below is untimed and must leave no spans
        tracer.end_region()
        tracer.detach()
        tracer.uninstall()

    t_phase = time.perf_counter()
    extra = {}
    if check_after:
        for key, sql, oracle in wl.checks():
            run.check(key, sql, oracle)
        extra = _ingest_figures(wl, lat, run.duck, args.data, cat_dir)

    phases["check"] = time.perf_counter() - t_phase
    if not lat:
        raise SystemExit(f"no statement completed: {run.errors[:5]}")
    medians = {k: statistics.median(v) for k, v in lat.items()}
    geo = geomean(medians.values())
    tail, pct, n = tail_ratio(lat)
    if tracer is not None:
        metrics = tracer.layer_metrics(run.rows, geo, done)
        tracer.write_spans(args.spans)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "stmt_geomean_s": {"value": geo, "unit": "s"},
            "stmts_per_s": {"value": done / wall, "unit": "1/s"},
        }
    spark = eng.spark
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": workloads.SCALES[args.workload],
        "cpus": spark.sparkContext.defaultParallelism,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "spark_version": spark.version,
        "phases_s": phases,
        "timed_wall_s": wall,
        "statements_timed": done,
        "stmt_tail_ratio": tail,
        "tail_percentile": pct,
        "tail_samples": n,
        "median_s": medians,
        "samples_s": lat,
        "error_rate": run.failed / run.attempted,
        "errors": run.errors[:20],
        **extra,
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump({
            "info": info,
            "result": {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            },
        }, f)
    _stop_jvm()
    return 0


def _ingest_figures(wl, lat, duck, data_dir: str, cat_dir: str) -> dict:
    """Ingest-only figures: insert throughput, write and read latency,
    and how many bytes the catalog keeps per byte of inserted source."""
    rows = duck.execute(wl.inserted_rows_sql()).fetchone()[0]
    total = duck.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    src_bytes = os.path.getsize(os.path.join(data_dir, "lineitem.parquet")) * rows / total
    cat_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(cat_dir)
        for f in files
    )
    writes = [x for k in ("insert", "delete", "optimize") for x in lat.get(k, [])]
    reads = [x for k in ("read_view", "read_base") for x in lat.get(k, [])]
    return {
        "rows_inserted": rows,
        "rows_per_s": rows / sum(lat["insert"]) if lat.get("insert") else None,
        "write_geomean_s": geomean(writes) if writes else None,
        "read_geomean_s": geomean(reads) if reads else None,
        "stored_bytes_ratio": cat_bytes / src_bytes if src_bytes else None,
    }


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
