"""Self-checks for the benchmark.

    python3 perfbench/selfcheck.py

1. The generators are deterministic: one seed, byte-identical files.
2. The output checks catch what they are there to catch: one altered row
   (catalog oracle comparison, ingest checksums, REPL row multisets) and
   one catalog key that raises.
3. Each workload runs at a tiny size, untraced and traced, and prints a
   result line with every metric of its kind.

Exits 0 when every check passes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expect(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"selfcheck failed: {what}")


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(directory)):
        for name in sorted(files):
            with open(os.path.join(base, name), "rb") as fh:
                h.update(name.encode() + fh.read())
    return h.hexdigest()


def check_determinism(work: str) -> None:
    from perfbench import gen

    digests = []
    for i in range(2):
        d = os.path.join(work, f"det{i}")
        rows = gen.workbook_rows(7, 300)
        os.makedirs(d)
        gen.write_workbook(os.path.join(d, "book.xlsx"), rows)
        gen.write_split(os.path.join(d, "split"), rows)
        gen.write_tables(os.path.join(d, "tables"), 7, 0.001)
        with open(os.path.join(d, "script.sql"), "w") as fh:
            fh.write("\n".join(line for _, line in gen.repl_script(
                7, [r[0] for r in gen.expected_rows(rows)], 60)))
        digests.append(_digest(d))
    expect(digests[0] == digests[1], "same seed gave different inputs")


def check_checker_flags(work: str) -> None:
    from perfbench import checks, gen
    from perfbench.workloads import Catalog
    from excel_to_db_spark.queries import REGISTRY

    # Catalog: an exact copy passes, one altered value fails.
    tables = os.path.join(work, "tables")
    gen.write_tables(tables, 3, 0.001)
    oracle = checks.Oracle(tables)
    try:
        cur = oracle.con.execute(REGISTRY["agg_groupby"].oracle)
        cols = [d[0] for d in cur.description]
        rows = [tuple(r) for r in cur.fetchall()]
    finally:
        oracle.close()
    expect(checks.compare(cols, rows, cols, rows) is None, "exact copy")
    bad = list(rows)
    bad[0] = (bad[0][0] + "x",) + bad[0][1:]
    expect(checks.compare(cols, bad, cols, rows) == "values differ",
           "altered catalog row")

    # Ingest checksums and REPL multisets: one altered cell is caught.
    expected = gen.expected_rows(gen.workbook_rows(3, 200))
    altered = list(expected)
    altered[5] = altered[5][:2] + (altered[5][2] + 1,) + altered[5][3:]
    expect(checks.summary(altered) != checks.summary(expected),
           "altered ingest row")
    expect(checks.summary(list(reversed(expected))) ==
           checks.summary(expected), "row order must not matter")
    expect(checks.row_multiset(altered) != checks.row_multiset(expected),
           "altered REPL row")

    # A key that raises is counted as failed, in the oracle pass and in
    # a timed pass, and the run goes on.
    def boom(spark, sf_dir):
        raise RuntimeError("injected failure")

    wl = Catalog(work, 3, smoke=True)
    wl.sf_dir, wl.keys = tables, ["_selfcheck_raises"]
    REGISTRY["_selfcheck_raises"] = types.SimpleNamespace(
        fn=boom, oracle="SELECT 1")
    try:
        wl.first_check(None)
        ops = wl.run_pass(None, None)
    finally:
        del REGISTRY["_selfcheck_raises"]
    expect(ops == [("_selfcheck_raises", None)], ops)
    expect(wl.failed == 2 and wl.attempted == 2, (wl.failed, wl.attempted))


def check_smoke() -> None:
    from perfbench.run import metric_units
    from perfbench.workloads import WORKLOADS

    for name in WORKLOADS:
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", name, "--seed", "5", "--seconds", "1",
                 "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=300)
            expect(proc.returncode == 0, proc.stderr[-2000:])
            out = json.loads(proc.stdout.strip().splitlines()[-1])
            want = metric_units()[trace]
            expect(out["correct"] and out["failed"] == 0, (name, out))
            expect(out["attempted"] >= 1, (name, out))
            expect(set(out["metrics"]) == set(want), (name, out["metrics"]))
            print(f"ok   smoke {name} trace={trace}: "
                  f"{out['attempted']} checked", flush=True)


def main() -> int:
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", "selfcheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        check_determinism(work)
        print("ok   same seed, byte-identical inputs", flush=True)
        check_checker_flags(work)
        print("ok   checks flag an altered row and a raising key", flush=True)
        check_smoke()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selfcheck passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
