"""Measure the bench keys as the catalog workload runs them and write the
cost strata it samples from.

    python3 perfbench/make_strata.py

The catalog workload draws one key from each stratum, so every seed runs
a sample of about the same cost and figures from different seeds stay
comparable. This script times every key of ``bench.HEADLINE`` under the
workload's own conditions: a fresh process per chunk of keys, generated
tables at the workload's scale factor (seed 1), the oracle check first
and then one timed pass (build plus ``noop`` write). Keys that fail, or
that cost more than ``LIMIT_S``, are left out; the rest are sorted by
cost and cut into ``N_STRATA`` groups of equal size in ``strata.json``.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_STRATA = 8
LIMIT_S = 2.5


def measure_chunk(keys: list[str]) -> dict[str, dict]:
    """Run in a fresh process: time ``keys`` as one catalog run would."""
    from perfbench import gen, run
    from perfbench.workloads import Catalog

    work = os.path.join(ROOT, ".perfbench", "strata")
    os.makedirs(work, exist_ok=True)
    run._prepare_env(work)
    wl = Catalog(work, 1, smoke=False)
    wl.sf_dir, wl.keys = os.path.join(work, "tables"), keys
    gen.write_tables(wl.sf_dir, 1, Catalog.SF)
    spark = run._start(wl, first=True)[0]
    try:
        wl.first_check(spark)
        ops = dict(wl.run_pass(spark, None))
    finally:
        spark.stop()
        run._stop_jvm()
    problems = {p.split(": ", 1)[0]: p.split(": ", 1)[1].splitlines()[0][:160]
                for p in wl.problems}
    return {k: {"s": ops.get(k), "problem": problems.get(k)} for k in keys}


def strata(results: dict[str, dict]) -> dict:
    cost = {k: round(r["s"], 3) for k, r in results.items()
            if r["s"] is not None and not r["problem"]}
    pop = sorted((k for k in cost if cost[k] <= LIMIT_S),
                 key=lambda k: (cost[k], k))
    size = len(pop) / N_STRATA
    return {
        "limit_s": LIMIT_S,
        "excluded": {k: r["problem"] or f"cost {cost[k]:.2f} s"
                     for k, r in sorted(results.items()) if k not in pop},
        "strata": [pop[round(i * size):round((i + 1) * size)]
                   for i in range(N_STRATA)],
        "cost_s": {k: cost[k] for k in pop},
    }


def main() -> None:
    import bench
    from perfbench.workloads import Catalog

    keys = list(bench.HEADLINE)
    random.Random(1).shuffle(keys)
    results: dict[str, dict] = {}
    for i in range(0, len(keys), N_STRATA):
        chunk = keys[i:i + N_STRATA]
        proc = subprocess.run(
            [sys.executable, __file__, "--chunk", ",".join(chunk)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            raise SystemExit(f"chunk {chunk} failed:\n{proc.stderr[-3000:]}")
        results.update(json.loads(lines[-1]))
        print(f"{len(results)}/{len(keys)} keys timed", flush=True)
    doc = {"measured": f"{os.cpu_count()} cores, generated tables at "
                       f"sf{Catalog.SF}, seed 1, {N_STRATA} keys per process",
           **strata(results)}
    with open(os.path.join(HERE, "strata.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    if sys.argv[1:2] == ["--chunk"]:
        print(json.dumps(measure_chunk(sys.argv[2].split(","))))
    else:
        main()
