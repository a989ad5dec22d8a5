"""The three workloads. Each one generates its inputs from the seed,
loads what a user would have loaded before the first operation (timed as
part of set-up), runs passes of operations, and checks the outputs
outside the timed window.

A pass returns ``(kind, seconds)`` for every operation it ran; a failed
operation is reported as ``(kind, None)``. Traced passes also fill
``self.layer`` through the ``Tracer`` and ``SparkProbe`` in layers.py.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sqlite3
import statistics
import time
from collections import defaultdict

from . import checks, gen
from .layers import SparkProbe, Tracer

now = time.perf_counter


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, smoke: bool) -> None:
        self.work, self.seed, self.smoke = work, seed, smoke
        # layer name -> list of per-operation values (traced passes only)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def record(self, out: dict) -> None:
        for k, v in out.items():
            self.layer[k].append(v)

    # interface --------------------------------------------------------
    def generate(self) -> None: ...

    def setup(self, spark) -> None: ...

    def first_check(self, spark) -> None: ...

    def run_pass(self, spark, tracer: Tracer | None) -> list[tuple]: ...

    def final_check(self, spark) -> None: ...

    def named(self, by_kind: dict, passes: list) -> dict:
        """The workload's own end-to-end figures, printed by name and
        unit next to the gated metrics: name -> (value, unit)."""
        return {}


# ---------------------------------------------------------------------------

class XlsxIngest(Workload):
    """Load one workbook, export it to CSV and SQLite, scan the same rows
    split over 8 workbooks through the xlsx DataSource."""

    name = "xlsx_ingest"
    ROWS = 20_000

    def generate(self) -> None:
        n = 500 if self.smoke else self.ROWS
        rows = gen.workbook_rows(self.seed, n)
        self.expected = checks.summary(gen.expected_rows(rows))
        self.n_sheet_rows = n
        self.book = gen.write_workbook(os.path.join(self.work, "book.xlsx"),
                                       rows)
        self.split_dir = os.path.join(self.work, "split")
        gen.write_split(self.split_dir, rows)
        self.csv_path = os.path.join(self.work, "export.csv")
        self.db_path = os.path.join(self.work, "export.db")

    def setup(self, spark) -> None:
        from excel_to_db_spark.sources.datasource import XlsxDataSource

        spark.dataSource.register(XlsxDataSource)

    def _scan(self, spark):
        return (spark.read.format("xlsx").option("path", self.split_dir)
                .load())

    def run_pass(self, spark, tracer):
        from excel_to_db_spark import ingest
        from excel_to_db_spark.sinks import csv_sink, db

        probe = SparkProbe(spark) if tracer else None
        ops: list[tuple] = []
        spans = {}
        df = None

        def step(kind, fn):
            t0 = now()
            try:
                with (probe.group(kind, spans.setdefault(kind, {}))
                      if probe else contextlib.nullcontext()):
                    fn()
                ops.append((kind, now() - t0))
            except Exception as exc:        # noqa: BLE001 - counted, reported
                ops.append((kind, None))
                self.fail(f"{kind}: {type(exc).__name__}: {exc}")

        def load():
            nonlocal df
            df = ingest.load_excel_table(spark, self.book)
            df.count()

        targets = [(ingest, "iter_xlsx_rows", "xlsx.parse", "iter"),
                   (ingest, "coerce_row", "ingest.coerce", "count"),
                   (ingest, "rows_to_dataframe", "ingest.to_dataframe"),
                   (ingest, "check_unique_key", "ingest.unique_check")]
        with (tracer.patched(targets) if tracer
              else contextlib.nullcontext()):
            step("load", load)
        if os.path.exists(self.db_path):
            os.remove(self.db_path)
        if df is not None:
            step("export_csv", lambda: csv_sink.export_csv(df, self.csv_path))
            step("export_sqlite", lambda: db.write_sqlite(
                df, self.db_path, "excel_rows", unique_key="service_name"))
        step("scan_dir", lambda: _noop(self._scan(spark)))
        self.attempted += len(ops)

        # checks, outside every timed step
        if df is not None:
            self._check("load", checks.summary(df.collect()))
            with open(self.csv_path, newline="") as fh:
                self._check("export_csv", checks.summary(
                    checks.typed_csv_rows(fh)))
            con = sqlite3.connect(self.db_path)
            try:
                self._check("export_sqlite", checks.summary(
                    con.execute("SELECT * FROM excel_rows").fetchall()))
            finally:
                con.close()
            df.unpersist()
        if tracer and all(secs is not None for _, secs in ops):
            self._trace_layers(tracer, spans, dict(ops))
        return ops

    def _check(self, what: str, got: dict) -> None:
        if got != self.expected:
            self.fail(f"{what}: summary {got} != expected {self.expected}")

    def _trace_layers(self, tracer: Tracer, spans: dict, t: dict) -> None:
        parse_s = tracer.take("xlsx.parse")
        coerce_n = tracer.take_count("ingest.coerce")
        coerce_s = tracer.take("ingest.coerce")
        to_df = tracer.take("ingest.to_dataframe")
        self.record({
            "xlsx_parse_s": parse_s,
            "xlsx_rows_per_s": (self.n_sheet_rows + 1) / parse_s,
            "coerce_s": coerce_s,
            # rows_to_dataframe drives the parse and the coercion; what is
            # left is building the list and createDataFrame.
            "to_dataframe_s": to_df - parse_s - coerce_s,
            "unique_check_s": tracer.take("ingest.unique_check"),
            "rows_dropped": coerce_n - self.expected["rows"],
            "ds_partitions": spans["scan_dir"]["partitions"],
            "ds_task_s": spans["scan_dir"]["task_time_s"],
            "csv_rows_per_s": self.expected["rows"] / t["export_csv"],
            "sqlite_rows_per_s": self.expected["rows"] / t["export_sqlite"],
        })
        for kind in ("load", "export_csv", "export_sqlite", "scan_dir"):
            self.record(spans[kind])

    def final_check(self, spark) -> None:
        self.attempted += 1
        self._check("scan_dir", checks.summary(self._scan(spark).collect()))

    def named(self, by_kind, passes):
        return {f"{k}_s": (statistics.median(by_kind[k]), "s")
                for k in ("load", "scan_dir", "export_csv", "export_sqlite")
                if k in by_kind}


# ---------------------------------------------------------------------------

class ReplSession(Workload):
    """A seeded analysis session replayed through ``repl.run_line``."""

    name = "repl_session"
    ROWS = 10_000
    STATEMENTS = 60

    def generate(self) -> None:
        n = 300 if self.smoke else self.ROWS
        sheet = gen.workbook_rows(self.seed, n)
        self.rows = gen.expected_rows(sheet)
        self.book = gen.write_workbook(os.path.join(self.work, "book.xlsx"),
                                       sheet)
        names = [r[0] for r in self.rows]
        self.script = gen.repl_script(
            self.seed, names, 40 if self.smoke else self.STATEMENTS)
        self.lines = [line + (os.path.join(self.work, f"out-{i}.csv")
                              if kind == "export" else "")
                      for i, (kind, line) in enumerate(self.script)]
        # The reference engine's answers: SQLite replaying the script.
        self.oracle = checks.sqlite_replay(self.rows, self.lines)

    def setup(self, spark) -> None:
        from excel_to_db_spark.compat.sqlite_dialect import apply_session_mode
        from excel_to_db_spark.ingest import load_excel_table

        apply_session_mode(spark, True)
        self.base = load_excel_table(spark, self.book)
        self.base.count()

    def run_pass(self, spark, tracer):
        from excel_to_db_spark import repl
        from excel_to_db_spark.sinks import display

        self.base.createOrReplaceTempView("excel_rows")
        probe = SparkProbe(spark) if tracer else None
        ops = []
        targets = []
        if tracer:
            targets = [(repl, "rewrite", "dialect.rewrite"),
                       (repl, "try_dml", "dml"),
                       (repl, "show", "display.show"),
                       (display, "collect_formatted", "display.collect"),
                       (display, "render_table", "display.render"),
                       (repl, "export_csv", "csv.export")]
        with open(os.devnull, "w") as sink, \
                contextlib.redirect_stdout(sink), \
                (tracer.patched(targets) if tracer
                 else contextlib.nullcontext()):
            if tracer:
                self._catalyst_hook(repl, tracer)
            for i, ((kind, _), line) in enumerate(zip(self.script,
                                                      self.lines)):
                self.attempted += 1
                stats: dict = {}
                t0 = now()
                try:
                    with (probe.group(f"stmt-{i}", stats) if probe
                          else contextlib.nullcontext()):
                        repl.run_line(spark, line, sqlite_compat=True)
                    ops.append((kind, now() - t0))
                except Exception as exc:    # noqa: BLE001 - counted
                    ops.append((kind, None))
                    self.fail(f"statement {i} ({kind}): "
                              f"{type(exc).__name__}: {exc}")
                    continue
                if kind == "export":
                    self._check_export(i)
                if tracer:
                    self._trace_statement(spark, tracer, i, kind, stats)
        self.attempted += 1
        got = checks.row_multiset(spark.table("excel_rows").collect())
        if got != self.oracle.final:
            self.fail("final excel_rows differs from the SQLite replay")
        return ops

    def _catalyst_hook(self, repl, tracer: Tracer) -> None:
        """Time Catalyst on the plan the display collect will run."""
        show = repl.show

        def traced_show(df, row_cap=1000):
            tracer.counts.update(SparkProbe.plan_phases(df.limit(row_cap + 1)))
            return show(df, row_cap=row_cap)
        repl.show = traced_show

    def _trace_statement(self, spark, tracer: Tracer, i: int, kind: str,
                         stats: dict) -> None:
        rec = {"rewrite_ms": tracer.take("dialect.rewrite") * 1000}
        dml = tracer.take("dml") * 1000
        if kind in gen.WRITE_KINDS:
            rec["dml_ms"] = dml
            rec["view_plan_nodes"] = SparkProbe.plan_nodes(
                spark.table("excel_rows"))
        collect = tracer.take("display.collect")
        render = tracer.take("display.render")
        tracer.take("display.show")
        if collect:
            rec["display_collect_ms"] = collect * 1000
            rec["render_ms"] = render * 1000
            for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                rec[k] = tracer.counts.pop(k, 0.0)
        export = tracer.take("csv.export")
        if export:
            rec["csv_rows_per_s"] = sum(self.oracle.exports[i].values()) \
                / export
        self.record(rec)
        self.record(stats)

    def named(self, by_kind, passes):
        times = sorted(t for v in by_kind.values() for t in v)
        rank = (lambda q: times[max(0, math.ceil(q * len(times)) - 1)])
        return {"stmt_p50_ms": (statistics.median(times) * 1000, "ms"),
                "stmt_p95_ms": (rank(0.95) * 1000, "ms")}

    def _check_export(self, i: int) -> None:
        path = self.lines[i].rsplit("|out=", 1)[1]
        self.attempted += 1
        with open(path, newline="") as fh:
            got = checks.row_multiset(checks.typed_csv_rows(fh))
        if got != self.oracle.exports[i]:
            self.fail(f"statement {i}: |out= file differs from SQLite")


# ---------------------------------------------------------------------------

class Catalog(Workload):
    """A seeded stratified sample of the bench keys, each forced with a
    ``noop`` write, on generated tables."""

    name = "catalog_sf0.01"
    SF = 0.01

    def generate(self) -> None:
        with open(os.path.join(os.path.dirname(__file__),
                               "strata.json")) as fh:
            strata = json.load(fh)["strata"]
        self.sf_dir = os.path.join(self.work, "tables")
        gen.write_tables(self.sf_dir, self.seed, self.SF)
        self.keys = gen.key_sample(self.seed, strata)
        if self.smoke:
            self.keys = self.keys[:3]

    def first_check(self, spark) -> None:
        """Each key's result against its DuckDB oracle, once per
        invocation; it also warms the JVM for the keys."""
        from excel_to_db_spark.queries import REGISTRY

        oracle = checks.Oracle(self.sf_dir)
        try:
            for key in self.keys:
                self.attempted += 1
                try:
                    problem = oracle.problem(
                        REGISTRY[key].fn(spark, self.sf_dir),
                        REGISTRY[key].oracle)
                except Exception as exc:    # noqa: BLE001 - counted
                    problem = f"{type(exc).__name__}: {exc}"
                if problem:
                    self.fail(f"{key}: {problem}")
        finally:
            oracle.close()

    def run_pass(self, spark, tracer):
        from excel_to_db_spark.queries import REGISTRY

        probe = SparkProbe(spark) if tracer else None
        ops = []
        for key in self.keys:
            self.attempted += 1
            build: dict = {}
            execute: dict = {}
            t0 = now()
            try:
                with (probe.group(f"build-{key}", build) if probe
                      else contextlib.nullcontext()):
                    df = REGISTRY[key].fn(spark, self.sf_dir)
                t1 = now()
                phases = SparkProbe.plan_phases(df) if tracer else {}
                t2 = now()
                with (probe.group(f"write-{key}", execute) if probe
                      else contextlib.nullcontext()):
                    _noop(df)
                t3 = now()
            except Exception as exc:        # noqa: BLE001 - counted
                ops.append((key, None))
                self.fail(f"{key}: {type(exc).__name__}: {exc}")
                continue
            ops.append((key, t3 - t0 - (t2 - t1)))
            if tracer:
                self.record({"build_s": t1 - t0,
                             "build_jobs": build.get("jobs", 0),
                             "exec_s": t3 - t2, **phases})
                self.record(execute)
        return ops


    def named(self, by_kind, passes):
        return {"catalog_s": (statistics.median(passes), "s"),
                "key_geomean_s": (math.exp(statistics.fmean(
                    math.log(statistics.median(v))
                    for v in by_kind.values())), "s")}


WORKLOADS = {w.name: w for w in (XlsxIngest, ReplSession, Catalog)}
