"""Execute every registered query at a given SF dir (count only, no
oracle) and report failures — the empirical overflow/robustness sweep
behind the round-7 scale audit. An ANSI-mode engine turns silent
int64 wraps into loud ARITHMETIC_OVERFLOW, so simply EXECUTING the
whole catalog at 10x data is a real test: it found the chain-ladder
micro-ratio overflow that sf0.1 could never trigger.

Usage:  python tools/run_at_sf.py [--dir benchdata/sf1] [--keys a,b]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _new_session(cpus: str):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("run-at-sf")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "24g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "benchdata", "sf1"))
    ap.add_argument("--keys", default="")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--restart-every", type=int, default=100,
                    help="recycle the SparkSession every N keys (JVM "
                         "hygiene for multi-hour sweeps)")
    a = ap.parse_args()

    import gc

    import __spark_entry__ as E
    from excel_to_db_spark.operators import physical

    spark = _new_session(a.cpus)
    qs = E.queries()
    keys = [k for k in a.keys.split(",") if k] or list(qs)

    failed: list[tuple[str, str]] = []
    t_all = time.perf_counter()
    for i, k in enumerate(keys, 1):
        if i > 1 and a.restart_every and (i - 1) % a.restart_every == 0:
            spark.stop()
            spark = _new_session(a.cpus)
        t0 = time.perf_counter()
        try:
            n = qs[k](spark, a.dir).count()
            print(f"ok   {k} ({n} rows, {time.perf_counter() - t0:.1f}s)",
                  flush=True)
        except Exception as exc:
            msg = repr(exc).split("\n")[0][:300]
            failed.append((k, msg))
            print(f"FAIL {k}: {msg}", flush=True)
            # a dead JVM fails every later key; probe and start fresh
            try:
                spark.range(1).count()
            except Exception:
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = _new_session(a.cpus)
        physical.release(spark)
        gc.collect()
    print(f"\n{len(keys) - len(failed)} ok, {len(failed)} fail "
          f"({time.perf_counter() - t_all:.0f}s total)")
    for k, msg in failed:
        print(f"  {k}: {msg}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
