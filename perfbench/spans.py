"""Tracing for the ``--trace 1`` runs: spans around calls into the
package's layers, plus the Spark status-store readers that roll job,
stage, task and SQL metrics up to them.

Spans are recorded from outside the package: :func:`patch_layers` swaps
module-level functions for wrappers (``functools.wraps`` keeps their
module and qualname, so closures shipped to executors still pickle by
reference to the unwrapped originals). Nothing is read from Spark while a
timer runs; :class:`SparkReader` is called after each op.
"""

from __future__ import annotations

import functools
import inspect
import re
import sys
import time
from contextlib import contextmanager

PKG = "fest_vibes_ai_etl_spark"
LAYERS = ("session", "sources", "plans", "operators", "functions", "pipeline",
          "streaming", "spark")


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    return parts[1] if parts[1] in LAYERS else None


class Tracer:
    """In-memory span log. Disabled tracers make every call a no-op."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sid}")
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        wrapper.__wrapped_by_perfbench__ = True
        return wrapper

    def children(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out


def patch_layers(tracer: Tracer, layers: tuple[str, ...]) -> int:
    """Wrap every public module-level function defined in the given layers
    of the package, and rebind each reference to it in every loaded
    package module (``from ..x import f`` copies the binding). Returns
    the number of functions wrapped."""
    mods = [m for n, m in list(sys.modules.items())
            if m is not None and (n == PKG or n.startswith(PKG + "."))]
    wrapped: dict[int, object] = {}
    for mod in mods:
        layer = layer_of(mod.__name__)
        if layer not in layers:
            continue
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or getattr(fn, "__wrapped_by_perfbench__", False)):
                continue
            short = mod.__name__.split(".", 2)[-1]
            wrapped[id(fn)] = tracer.wrap(fn, f"{short}.{attr}", layer)
    for mod in mods:
        for attr, fn in list(vars(mod).items()):
            if id(fn) in wrapped and inspect.isfunction(fn):
                setattr(mod, attr, wrapped[id(fn)])
    return len(wrapped)


# DataFrame actions and reader/writer calls: the client waits on Spark
# jobs inside them, so their self time is the ``spark`` layer's.
SPARK_ACTIONS = {
    "pyspark.sql.classic.dataframe:DataFrame": (
        "collect", "count", "toPandas", "take", "first", "head",
        "foreach", "foreachPartition", "localCheckpoint", "checkpoint"),
    "pyspark.sql.readwriter:DataFrameWriter": (
        "save", "parquet", "json", "csv", "saveAsTable", "insertInto"),
    "pyspark.sql.readwriter:DataFrameReader": ("load", "parquet", "json"),
}


def patch_spark_actions(tracer: Tracer) -> None:
    import importlib

    for target, methods in SPARK_ACTIONS.items():
        mod_name, cls_name = target.split(":")
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for meth in methods:
            fn = getattr(cls, meth, None)
            if fn is None or getattr(fn, "__wrapped_by_perfbench__", False):
                continue
            setattr(cls, meth, tracer.wrap(fn, f"spark.{meth}", "spark"))


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def parse_metric(text: str) -> float:
    """A SQL metric's rendered value as a number (seconds for timings,
    bytes for sizes): ``'1,234'``, ``'19 ms'``, ``'64.2 MiB'`` or the
    ``'total (min, med, max ...)\\n3.7 s (...)'`` form."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


class SparkReader:
    """Reads what Spark recorded about jobs since the previous call."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_jobs: set[int] = set()
        self.seen_execs: set[int] = set()

    def jobs_of_groups(self, groups: list[str]) -> set[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self.sc.statusTracker().getJobIdsForGroup(g))
        return ids

    def job_totals(self, job_ids) -> dict[str, float]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "peak_exec_mem_bytes": 0}
        for jid in sorted(job_ids):
            try:
                jd = self.store.job(jid)
            except Exception:
                continue
            out["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out["exec_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
            for sid in _iter(jd.stageIds()):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                                 sd.peakExecutionMemory())
        return out

    def new_jobs(self) -> set[int]:
        ids = set()
        for jd in _iter(self.store.jobsList(None)):
            ids.add(jd.jobId())
        fresh = ids - self.seen_jobs
        self.seen_jobs |= fresh
        return fresh

    def new_sql_totals(self) -> dict[str, float]:
        """Scan rows and Python-worker time over SQL executions that
        finished since the previous call."""
        out = {"scan_rows": 0, "python_eval_s": 0.0}
        for ex in _iter(self.sql.executionsList()):
            eid = ex.executionId()
            if eid in self.seen_execs:
                continue
            self.seen_execs.add(eid)
            try:
                vals = self.sql.executionMetrics(eid)
                graph = self.sql.planGraph(eid)
            except Exception:
                continue
            for node in _iter(graph.allNodes()):
                name = node.name()
                for m in _iter(node.metrics()):
                    mname = m.name()
                    if mname == "time to run Python workers" or (
                            mname == "number of output rows"
                            and name.startswith("Scan")):
                        v = vals.get(m.accumulatorId())
                        if not v.isDefined():
                            continue
                        key = ("python_eval_s" if mname.startswith("time")
                               else "scan_rows")
                        out[key] += parse_metric(v.get())
        return out


def planning_ms(df) -> dict[str, float]:
    """Catalyst phase walls of an executed DataFrame."""
    out = {}
    phases = df._jdf.queryExecution().tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        try:
            out[k] = float(phases.apply(k).durationMs())
        except Exception:
            out[k] = 0.0
    return out
