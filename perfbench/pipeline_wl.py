"""``pipeline_daily`` workload: the reference's daily run, bronze to cache.

Each op is one daily run over a window of ``WINDOW`` dates. Seeded bronze
``EventDTO`` rows (yesterday's and today's scrapes of every date, plus
planted invalid rows) go through ``run_pipeline``; silver and gold land
the way ``tools/run_pipeline.py`` lands them, with row counts observed
on the writes; ``export_to_cache`` writes one document per date; and
``apply_cdc_batch`` applies the day's change log (an upsert per scraped
event, a delete per cancelled one) to the serving table.

The window is one date, not the reference's 31: a cold daily run over one
date already takes ~45 s on a 4-core host, and the benchmark's time
budget allows one such op per run. The op is cold on purpose: each daily
run is a fresh Spark application, so users pay that cost on every run.
Every input is written before the op's timer starts; every check runs
after it stopped, against the truth the generator planted.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

# Modules, not names: traced runs rebind the functions inside them.
from fest_vibes_ai_etl_spark.pipeline import cache_sink, driver, metrics
from fest_vibes_ai_etl_spark.schemas import EVENT_DTO
from fest_vibes_ai_etl_spark.sources import lakehouse
from fest_vibes_ai_etl_spark.streaming import cdc
from perfbench import gen
from perfbench.stats import dir_stats

WINDOW = 1
SILVER = ("events", "artists", "venues", "genres", "quarantine")
SETUP_REPS = 3


class PipelineDaily:
    name = "pipeline_daily"

    def __init__(self, ctx):
        self.ctx = ctx
        self.inputs = ctx.work / "bronze"
        self.inputs.mkdir(parents=True, exist_ok=True)
        self.lake = str(ctx.work / "lake")
        self.day = 0
        self.digests: list[str] = []
        self.changes: list[dict] = []  # every change log applied so far
        self.pending = None
        self.runs: list[dict] = []  # one per daily run, checked after timing
        self.counts: dict[str, list[float]] = {}

    # -- set-up ----------------------------------------------------------
    def setup_reps(self) -> int:
        return SETUP_REPS

    def setup_once(self) -> None:
        """A daily run starts from an empty lake; the session is its only
        other set-up."""
        shutil.rmtree(self.lake, ignore_errors=True)
        os.makedirs(self.lake)

    # -- ops -------------------------------------------------------------
    def prepare(self) -> None:
        """The next day's bronze and change log, written and opened before
        any timer."""
        spark = self.ctx.spark
        d = gen.pipeline_day(self.ctx.seed, self.day, WINDOW)
        frames = {}
        for name, table in (("bronze", gen.bronze_table(d["rows"])),
                            ("changes", gen.changes_table(d["changes"]))):
            path = self.inputs / f"day{self.day}_{name}.parquet"
            pq.write_table(table, path)
            self.ctx.input_bytes += os.path.getsize(path)
            reader = spark.read.schema(EVENT_DTO) if name == "bronze" else spark.read
            frames[name] = reader.parquet(str(path))
        self.digests.append(gen.digest([d["rows"], d["changes"]]))
        self.pending = (d, frames)
        self.day += 1

    def sequence(self) -> None:
        ctx, spark, tr, lake = self.ctx, self.ctx.spark, self.ctx.tracer, self.lake
        d, frames = self.pending
        run = {"truth": d, "observers": {}}
        obs = run["observers"]
        op = run["op"] = ctx.begin_op(f"day{self.day - 1}")
        try:
            with tr.span("pipeline.plan", "pipeline"):
                # a fixed reference date keeps the TTLs independent of the clock
                layers = driver.run_pipeline(spark, frames["bronze"], d["dates"],
                                             ref_date=d["dates"][0])
            with tr.span("pipeline.silver_write", "pipeline"):
                for name in SILVER:
                    observed, obs[name] = metrics.with_row_observer(layers[name], name)
                    if name == "events":
                        lakehouse.write_partitioned(observed, f"{lake}/silver/events",
                                                    ["event_date"])
                    else:
                        observed.write.mode("overwrite").parquet(f"{lake}/silver/{name}")
            with tr.span("pipeline.gold_write", "pipeline"):
                gold = layers["cache_payload"].withColumn(
                    "event_date",
                    F.to_date(F.regexp_extract("cache_key", r"events:(.*)$", 1)))
                gold, obs["cache_payload"] = metrics.with_row_observer(
                    gold, "cache_payload")
                lakehouse.write_partitioned(gold, f"{lake}/gold/cache_payload",
                                            ["event_date"])
            with tr.span("pipeline.cache_export", "pipeline"):
                run["keys"] = cache_sink.export_to_cache(
                    layers["cache_payload"], namespace=f"perfbench-day{self.day}")
            with tr.span("streaming.cdc.apply", "streaming"):
                cdc.apply_cdc_batch(spark, f"{lake}/serving/events", frames["changes"],
                                    ["k"], "p")
        except Exception as exc:  # a failed run is counted, not fatal
            ctx.end_op(op, error=exc)
            self.runs.append(run)
            return
        ctx.end_op(op)
        self.runs.append(run)

    def check(self) -> None:
        """Outputs against the planted truth (after all timers)."""
        spark, fail = self.ctx.spark, self.ctx.fail_op
        for run in self.runs:
            op, d = run["op"], run["truth"]
            self.changes.extend(d["changes"])
            if not op["ok"]:
                continue
            got = {k: o.get["rows"] for k, o in run["observers"].items()}
            want = {"events": len(d["events"]), "artists": len(d["artists"]),
                    "venues": len(d["venues"]), "genres": len(d["genres"]),
                    "quarantine": d["invalid"], "cache_payload": len(d["events"])}
            if got != want:
                fail(op["id"], f"row counts {got}, expected {want}")
            if run["keys"] != len(d["dates"]):
                fail(op["id"], f"{run['keys']} cache keys for {len(d['dates'])} dates")
            in_window = F.col("event_date").isin(d["dates"])
            # the latest scrape of every event wins
            silver = {r["wwoz_event_href"]: (str(r["event_date"]), r["description"])
                      for r in spark.read.parquet(f"{self.lake}/silver/events")
                      .where(in_window).collect()}
            if silver != d["events"]:
                fail(op["id"], "silver events differ from the latest scrapes")
            gold = {(str(r["event_date"]), r["cache_key"]) for r in spark.read.parquet(
                f"{self.lake}/gold/cache_payload").where(in_window).collect()}
            if gold != {(dd, f"events:{dd}") for dd, _ in d["events"].values()}:
                fail(op["id"], f"gold documents keyed {sorted(gold)}")
            served = {r["k"]: r["val"] for r in
                      cdc.cdc_view(spark, f"{self.lake}/serving/events").collect()}
            if served != gen.replay_cdc(self.changes):
                fail(op["id"], "serving table differs from the change-log replay")
            self._add("pipeline.rows_in", len(d["rows"]))
            self._add("pipeline.quarantined", got["quarantine"])
            self._add("pipeline.entity_ratio",
                      (got["artists"] + got["venues"]) / d["mentions"])
            self._add("pipeline.cache_keys", run["keys"])
        self.runs.clear()

    def _add(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)

    # -- reporting -------------------------------------------------------
    def store_stats(self) -> dict[str, tuple[int, int]]:
        return {f"pipeline.{s}": dir_stats(f"{self.lake}/{s}")
                for s in ("silver", "gold", "serving")}

    def finish(self) -> None:
        self.ctx.input_digest = gen.digest(self.digests)
        for name, vals in self.counts.items():
            self.ctx.layer[name] = sum(vals) / len(vals)
