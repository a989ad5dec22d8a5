"""Per-layer instruments, all measured from outside the program.

``Tracer`` records spans around calls into the program's public
functions. It installs timing wrappers over module attributes for the
length of a traced run (``with tracer.patched(...)``) and restores them
afterwards, so untraced runs execute the program unmodified. Spans are
kept in memory and written out once, when the run ends.

``SparkProbe`` reads Spark's own instruments with the UI off: job groups
through the status tracker, executor totals and stage spill through the
application status store, and the QueryExecution phase tracker.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans around calls into the program, kept in memory.

    A wrapped call of kind ``"call"`` records one span (name, start, end,
    parent span, trace id). Calls made once per row (``"iter"``: each item
    a generator yields; ``"count"``: each call) only add to per-name time
    and call totals, so tracing stays cheap where calls are many.
    ``take`` hands a name's time accumulated since the last ``take`` to the
    workload, which turns it into per-operation layer metrics."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._acc: dict[str, float] = defaultdict(float)
        self._calls: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self.trace_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self._add(name, rec["end"] - rec["start"])

    def _add(self, name: str, seconds: float) -> None:
        self._acc[name] += seconds
        self._calls[name] += 1

    def _wrap(self, fn, name: str, kind: str):
        if kind == "call":
            def timed(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
        elif kind == "count":
            def timed(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self._add(name, time.perf_counter() - t0)
        else:
            def timed(*args, **kwargs):
                it = iter(fn(*args, **kwargs))
                while True:
                    t0 = time.perf_counter()
                    try:
                        item = next(it)
                    except StopIteration:
                        return
                    finally:
                        self._add(name, time.perf_counter() - t0)
                    yield item
        return timed

    @contextlib.contextmanager
    def patched(self, targets: list[tuple]):
        """``targets``: (module, attribute, name[, kind]) with kind
        ``"call"`` (default), ``"count"`` or ``"iter"``. The originals are
        put back on exit, whatever happens inside."""
        saved = []
        try:
            for mod, attr, name, *kind in targets:
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(fn, name, (kind or ["call"])[0]))
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def take(self, name: str) -> float:
        """Seconds spent in ``name`` since the last take."""
        self._calls.pop(name, None)
        return self._acc.pop(name, 0.0)

    def take_count(self, name: str) -> int:
        """Calls of ``name`` since the last take (read before ``take``)."""
        return self._calls.get(name, 0)

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"summary": summary, "spans": self.spans}, fh)


class SparkProbe:
    """Counters from Spark's status store, read as deltas around one
    operation that runs under its own job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm

    def _drain(self) -> None:
        # The status store is fed by the listener bus; wait until it has
        # seen every event of the operation that just finished.
        self._jsc.listenerBus().waitUntilEmpty()

    @staticmethod
    def _seq(seq) -> list:
        """A Scala Seq returned through py4j, as a Python list."""
        return [seq.apply(i) for i in range(seq.size())]

    def _executor_totals(self) -> dict[str, float]:
        tot = defaultdict(float)
        for e in self._seq(self._jsc.statusStore().executorList(True)):
            tot["tasks"] += e.completedTasks() + e.failedTasks()
            tot["task_time_s"] += e.totalDuration() / 1000.0
            tot["shuffle_read_bytes"] += e.totalShuffleRead()
            tot["shuffle_write_bytes"] += e.totalShuffleWrite()
        return tot

    def _stage_spill(self, stage_ids: set[int]) -> float:
        if not stage_ids:
            return 0.0
        jl = self._jvm.java.util.ArrayList
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        spill = 0.0
        for st in self._seq(self._jsc.statusStore().stageList(
                jl(), False, False, quantiles, jl())):
            if st.stageId() in stage_ids:
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return spill

    @contextlib.contextmanager
    def group(self, name: str, out: dict):
        """Run the body under job group ``name`` and add its jobs, stages,
        tasks, task time, shuffle and spill bytes to ``out``."""
        self._drain()
        before = self._executor_totals()
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setJobGroup("", "")
            self._drain()
            after = self._executor_totals()
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(name)
            stages = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            out["jobs"] = out.get("jobs", 0) + len(jobs)
            out["stages"] = out.get("stages", 0) + len(stages)
            for k in after:
                out[k] = out.get(k, 0) + after[k] - before.get(k, 0)
            out["spill_bytes"] = out.get("spill_bytes", 0) + \
                self._stage_spill(stages)
            out["partitions"] = out.get("partitions", 0) + sum(
                tracker.getStageInfo(s).numTasks for s in stages
                if tracker.getStageInfo(s) is not None)

    @staticmethod
    def plan_phases(df) -> dict[str, float]:
        """Catalyst time for ``df``: analysis from the phase tracker (it ran
        eagerly when the DataFrame was built), optimization and physical
        planning by forcing the lazy plans of a fresh QueryExecution.
        This repeats work the action would do, so it is traced-run only."""
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {"analysis_ms": 0.0}
        if phases.contains("analysis"):
            ph = phases.get("analysis").get()
            out["analysis_ms"] = float(ph.durationMs())
        t0 = time.perf_counter()
        qe.optimizedPlan()
        t1 = time.perf_counter()
        qe.executedPlan()
        t2 = time.perf_counter()
        out["optimization_ms"] = (t1 - t0) * 1000
        out["planning_ms"] = (t2 - t1) * 1000
        return out

    @staticmethod
    def plan_nodes(df) -> int:
        return len(df._jdf.queryExecution().analyzed().treeString()
                   .splitlines())


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and its Python workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2) -> None:
        self.pid = os.getpid()
        self.page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_kb(self) -> int:
        children: dict[int, list[int]] = defaultdict(list)
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(d)
            children[int(fields[1])].append(pid)
            rss[pid] = int(fields[21]) * self.page_kb
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, self._tree_kb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
