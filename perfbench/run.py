#!/usr/bin/env python3
"""The engine's benchmark: one closed-loop client, one process, on
``local[nproc]``.

    python3 perfbench/run.py --workload catalog|pipeline_daily \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
into a fresh work directory under ``.perfbench_work/`` that is removed at
exit, together with the catalog's load-or-build artifacts. The workload's
fixed op sequence repeats until ``--seconds`` have been measured (at least
once); the inputs of each sequence are prepared before its timer starts,
and its outputs are checked against oracles or planted truth after the
timer stopped.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``) named in ``BENCHMARK.json``. The line before it
is a detail record: every metric computed, the host record and the input
digest. Records are also written to ``.perfbench_results/``;
``perfbench/compare.py`` pairs them and reports the tracing overhead
(traced minus untraced ``wall_s``) per workload.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.dont_write_bytecode = True

from perfbench import stats  # noqa: E402
from perfbench.spans import (  # noqa: E402
    LAYERS,
    SparkReader,
    Tracer,
    patch_layers,
    patch_spark_actions,
)

# Layers whose functions traced runs wrap (``plans`` is timed where the
# workload calls a query's builder; ``spark`` through DataFrame actions).
PATCHED = ("sources", "operators", "functions", "pipeline", "streaming", "session")


class Ctx:
    """What a workload needs: the session, tracer, op log and layer sums."""

    def __init__(self, args, work: Path):
        self.root = ROOT
        self.work = work
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.tracer = Tracer(False)
        self.spark = None
        self.reader = None
        self.ops: dict[str, dict] = {}
        self.layer: dict[str, float] = {}
        self.input_bytes = 0
        self.input_digest = ""
        self._n = 0

    def begin_op(self, name: str) -> dict:
        if self.trace:  # Spark work outside ops is not rolled up to them
            self.reader.new_jobs()
            self.reader.new_sql_totals()
        self._n += 1
        op = {"id": f"op{self._n}", "name": name, "ok": True,
              "error": None, "start": time.perf_counter()}
        self.ops[op["id"]] = op
        self.tracer.op = op["id"]
        return op

    def end_op(self, op: dict, error: Exception | None = None) -> None:
        op["end"] = time.perf_counter()
        op["wall"] = op["end"] - op["start"]
        self.tracer.op = None
        if error is not None:
            self.fail_op(op["id"], f"{type(error).__name__}: {error}"[:300])
        if self.trace:
            self._roll_up(op)

    def fail_op(self, op_id: str, why: str) -> None:
        op = self.ops[op_id]
        op["ok"] = False
        op["error"] = op["error"] or why
        print(f"# {op['name']} failed: {why}", file=sys.stderr)

    def add_layer(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0.0) + value

    def _roll_up(self, op: dict) -> None:
        """Spark metrics of the op's jobs, read after its timer stopped."""
        jobs = self.reader.new_jobs()
        tot = self.reader.job_totals(jobs)
        for k, v in tot.items():
            self.add_layer(f"spark.{k}", v)
        for k, v in self.reader.new_sql_totals().items():
            self.add_layer(f"spark.{k}", v)
        for sp in self.tracer.spans:
            if sp["op"] == op["id"] and sp["parent"] is None:
                groups = [f"span-{i}" for i in self.tracer.children(sp["id"])]
                n = len(self.reader.jobs_of_groups(groups))
                self.add_layer(f"jobs:{sp['name']}", n)
                self.add_layer(f"calls:{sp['name']}", 1)
                self.add_layer(f"wall:{sp['name']}", sp["end"] - sp["start"])


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _workload(name: str, ctx: Ctx):
    if name == "catalog":
        from perfbench.catalog_wl import Catalog

        return Catalog(ctx)
    if name == "pipeline_daily":
        from perfbench.pipeline_wl import PipelineDaily

        return PipelineDaily(ctx)
    raise SystemExit(f"unknown workload {name!r}")


def _start_session():
    from fest_vibes_ai_etl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def _peak_rss_mb() -> float:
    from pyspark import SparkContext

    from perfbench.host import jvm_peak_rss_kb

    proc = getattr(SparkContext._gateway, "proc", None)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + jvm_peak_rss_kb(proc.pid if proc else None)) / 1024.0


def _run_sequences(wl, ctx: Ctx, seconds: float) -> list[float]:
    """Repeat the fixed op sequence until ``seconds`` have been measured;
    input preparation and checks stay outside the timed sequences."""
    walls = []
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        if hasattr(wl, "prepare"):
            wl.prepare()
        t0 = time.perf_counter()
        wl.sequence()
        walls.append(time.perf_counter() - t0)
        wl.check()
    return walls


def _layer_metrics(ctx: Ctx, spans: list[dict], windows) -> dict:
    m = dict(ctx.layer)
    selfs = stats.self_times(spans)
    for layer in LAYERS:
        m[f"layer.{layer}.self_s"] = selfs.get(layer, 0.0)
    m["layer.residual_s"] = stats.residual(spans, windows)

    def per_call(span_name, metric, jobs_metric=None):
        calls = ctx.layer.get(f"calls:{span_name}", 0)
        if calls:
            m[metric] = ctx.layer[f"wall:{span_name}"] / calls
            if jobs_metric:
                m[jobs_metric] = ctx.layer[f"jobs:{span_name}"] / calls

    per_call("streaming.cdc.apply", "streaming.cdc.apply_s",
             "streaming.cdc.jobs_per_batch")
    for phase in ("plan", "silver_write", "gold_write", "cache_export"):
        per_call(f"pipeline.{phase}", f"pipeline.{phase}_s")
    return {k: v for k, v in m.items() if ":" not in k}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    stats.check_benchmark_json(spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not (ROOT / "fest_vibes_ai_etl_spark" / "__init__.py").is_file():
        print("the package under test (fest_vibes_ai_etl_spark/) is missing "
              "from this checkout", file=sys.stderr)
        return 3

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = str(work / "tmp")
    # JVM temp files (the launcher JVM's too) and the SQL warehouse stay
    # inside the checkout
    jvm_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    confs = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": str(ROOT / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        + ["pyspark-shell"])

    ctx = Ctx(args, work)
    spark = None
    try:
        wl = _workload(args.workload, ctx)
        log("inputs generated")
        t0 = time.perf_counter()
        spark = ctx.spark = _start_session()
        session_s = time.perf_counter() - t0
        ctx.reader = SparkReader(spark)
        reps = []
        for _ in range(wl.setup_reps()):
            t1 = time.perf_counter()
            wl.setup_once()
            reps.append(time.perf_counter() - t1)
        setup_s = session_s + statistics.median(reps)
        log(f"session {session_s:.2f}s, set-up reps {[round(r, 2) for r in reps]}")
        ctx.reader.new_jobs()
        ctx.reader.new_sql_totals()

        if ctx.trace:
            ctx.tracer = Tracer(True, spark.sparkContext)
            patch_layers(ctx.tracer, PATCHED)
            patch_spark_actions(ctx.tracer)
            ctx.reader.new_jobs()
            ctx.reader.new_sql_totals()
            walls = _run_sequences(wl, ctx, 0)
        else:
            walls = _run_sequences(wl, ctx, args.seconds)
        wl.finish()
        log(f"sequences {[round(w, 2) for w in walls]}")

        rec = list(ctx.ops.values())
        op_walls = [o["wall"] for o in rec]
        failed = sum(not o["ok"] for o in rec)
        attempted = len(rec)
        tail = stats.tail_percentile(op_walls)
        e2e = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(op_walls),
        }
        detail = dict(e2e)
        # peak RSS follows the JVM's heap growth between collections and
        # spreads too widely across runs to carry a bound; reported only
        detail["peak_rss_mb"] = _peak_rss_mb()
        detail["failed_frac"] = failed / attempted
        detail["n_ops"] = len(op_walls)
        if tail:
            detail["op_tail_s"], detail["op_tail_pct"] = tail[1], tail[0]
        if hasattr(wl, "store_stats"):
            st = wl.store_stats()
            detail["store_amp"] = sum(b for b, _ in st.values()) / ctx.input_bytes
            for s, (b, f) in st.items():
                ctx.layer[f"{s}.bytes"] = b
                ctx.layer[f"{s}.files"] = f

        layer = {"session.start_s": session_s}
        if ctx.trace:
            windows = [(o["start"], o["end"]) for o in rec]
            in_ops = [sp for sp in ctx.tracer.spans if sp["op"] is not None]
            layer.update(_layer_metrics(ctx, in_ops, windows))
        else:
            layer.update({k: v for k, v in ctx.layer.items() if ":" not in k})

        from perfbench.host import host_record

        host = host_record(spark, ROOT)
        errors = {o["id"]: f"{o['name']}: {o['error']}"
                  for o in ctx.ops.values() if not o["ok"]}
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
        from perfbench.catalog_wl import clear_artifacts

        clear_artifacts(ctx)

    log("stopped")
    names = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)
                                          if ctx.trace else e2e[m["name"]]),
                           "unit": m["unit"]} for m in names}
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sequences": len(walls),
        "input_digest": ctx.input_digest, "host": host,
        "end_to_end_detail": detail, "per_layer_detail": layer,
        "errors": errors,
    }
    out_dir = ROOT / ".perfbench_results"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
     ).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
