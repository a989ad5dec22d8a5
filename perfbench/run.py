"""Benchmark of the user's path (xlsx -> excel_rows -> SQL -> display/CSV/
SQLite) and of the query catalog, with a per-layer split measured from
outside the program.

    python3 perfbench/run.py --workload xlsx_ingest --seed 1 --seconds 1 \\
        --trace 0

One process, Spark ``local[nproc]``, one closed-loop client: each
operation starts when the previous one has returned. Inputs are generated
from ``--seed`` under ``.perfbench/`` in the checkout. The run sets up
three times and reports the median as ``setup_s``, then runs whole passes
of the workload until ``--seconds`` have passed (every pass is longer than
the declared run length, so an untraced run measures exactly one pass and
no run mixes one- and two-pass medians), checks every output, and
prints as its last line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. End-to-end times are scaled to
a reference host speed by a calibration loop timed inside the run (see
``CAL_REF_S``); the raw times are printed too. A traced run alternates
untraced and traced passes, reports the difference of their medians as
``tracing_overhead_s``, and writes its spans to ``.perfbench/``.

``--smoke`` runs a tiny size of the workload (used by selfcheck.py).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
# End-to-end times are reported in seconds of a reference host on which
# one calibration loop takes CAL_REF_S. A shared host can change speed by
# 2x within minutes; dividing by the speed measured inside the same run
# keeps runs comparable. The raw wall times stay in the run record.
CAL_REF_S = 0.13


def _calibrate() -> float:
    """Seconds for a fixed single-threaded loop, the fastest of three: the
    host's speed now, without the spikes of the JVM's background threads."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


def metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names -> units, from BENCHMARK.json.
    Every workload reports all of them; a layer a workload never enters
    reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[kind]}
                 for kind in ("end_to_end", "per_layer"))


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work`` and put the package
    on the Python workers' path (the xlsx DataSource is read there)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = tmp


def _start(workload, first: bool):
    """One set-up: session start, warm-up, the workload's initial load.
    Returns (session, seconds, seconds of session start alone)."""
    from excel_to_db_spark.session import get_spark, tune_session

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    if first:
        spark.sparkContext.setLogLevel("ERROR")
    tune_session(spark)
    spark.range(1000).selectExpr("sum(id)").collect()   # first job
    workload.setup(spark)
    return spark, time.perf_counter() - t0, t1 - t0


def _stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _stamp(args) -> dict:
    import pyspark

    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True,
                             timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "git_sha": sha,
            "pyspark": pyspark.__version__,
            "python": platform.python_version()}


def run(args) -> dict:
    from perfbench.layers import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)
    cal = [_calibrate()]
    wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
    wl.generate()
    stamp = {**_stamp(args), "scale_factor": getattr(wl, "SF", None)}

    setups, starts = [], []
    spark = None
    with RssSampler() as rss:
        try:
            for i in range(1 if args.smoke else SETUPS):
                if spark is not None:
                    spark.stop()
                spark, secs, start = _start(wl, first=i == 0)
                setups.append(secs)
                starts.append(start)
                cal.append(_calibrate())
            wl.first_check(spark)
            cal.append(_calibrate())
            tracer = Tracer() if args.trace else None
            passes = {False: [], True: []}
            ops: list[tuple] = []
            deadline = time.perf_counter() + args.seconds
            n = 0
            while n < (3 if tracer else 1) or time.perf_counter() < deadline:
                # A traced run alternates untraced and traced passes; its
                # third pass gives a warm untraced pass to compare with.
                traced = bool(tracer) and n % 2 == 1
                if tracer:
                    tracer.trace_id = n
                t0 = time.perf_counter()
                pass_ops = wl.run_pass(spark, tracer if traced else None)
                passes[traced].append(time.perf_counter() - t0)
                if not traced:
                    ops += pass_ops
                n += 1
                cal.append(_calibrate())
            wl.final_check(spark)
        finally:
            if spark is not None:
                spark.stop()
            _stop_jvm()

    by_kind: dict = {}
    for kind, secs in ops:
        if secs is not None:
            by_kind.setdefault(kind, []).append(secs)
    raw = {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(passes[False]),
        "op_geomean_ms": _geomean(statistics.median(v)
                                  for v in by_kind.values()) * 1000,
    }
    slowdown = statistics.median(cal) / CAL_REF_S
    e2e = {k: v / slowdown for k, v in raw.items()}
    layer = {k: statistics.fmean(v) for k, v in wl.layer.items()
             if v}
    layer["session_start_s"] = statistics.median(starts)
    layer["peak_rss_mb"] = rss.peak_kb / 1024
    if tracer:
        # The first pass runs on a cold JVM, so it is left out.
        layer["tracing_overhead_s"] = (statistics.median(passes[True])
                                       - statistics.median(passes[False][1:]))
    record = {
        **stamp, "operations": len(ops), "passes": len(passes[False]),
        "traced_passes": len(passes[True]), "setups_s": setups,
        "error_rate": wl.failed / max(1, wl.attempted),
        "problems": wl.problems[:20],
        "calibration_s": cal, "raw_end_to_end": raw,
        "end_to_end": e2e, "per_layer": layer,
        "op_median_ms": {k: statistics.median(v) * 1000
                         for k, v in by_kind.items()},
        "named": wl.named(by_kind, passes[False]),
    }
    name = f"{args.workload}-{args.seed}-trace{args.trace}"
    with open(os.path.join(ROOT, ".perfbench", name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if tracer:
        tracer.write(os.path.join(ROOT, ".perfbench", name + ".spans.json"),
                     record)
    shutil.rmtree(work, ignore_errors=True)
    return {"record": record, "attempted": wl.attempted, "failed": wl.failed}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    out = run(args)
    rec = out["record"]
    names = metric_units()[args.trace]
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u}
               for k, u in names.items()}
    lines = [(k, m["value"], m["unit"]) for k, m in metrics.items()]
    if not args.trace:
        lines += [(f"raw_{k}", v, names[k])
                  for k, v in rec["raw_end_to_end"].items()]
        lines += [(k, v, u) for k, (v, u) in rec["named"].items()]
    lines.append(("error_rate", rec["error_rate"],
                  f"ratio ({out['failed']}/{out['attempted']})"))
    for k, v, u in lines:
        print(f"{args.workload:15s} {k:20s} {v:14.4f} {u}")
    for p in rec["problems"]:
        print(f"problem: {p}", file=sys.stderr)
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        import excel_to_db_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package under test is missing: {exc}",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
