#!/usr/bin/env python
"""CLI pipeline runner: bronze EventDTO JSON → silver star schema → gold
cache documents, written as a partitioned lakehouse under --out.

The operational entry point a reference user would swap their Step Function
for: one Spark app over all dates (dates are partitions, not fan-out units).

    python tools/run_pipeline.py --out /tmp/fest_lake \
        [--bronze DIR_OF_JSONL] [--dates 2025-03-01 2025-03-02] [--no-embeddings]

With no --bronze, runs on the built-in deterministic fixture (smoke mode).
Next to the row counts it prints each phase's wall seconds and Spark job
count (plan = ``run_pipeline``, which materialises silver; silver and gold
= the writes), read from the phase's job group.
"""

from __future__ import annotations

import argparse
import sys
import time
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from fest_vibes_ai_etl_spark.pipeline.driver import run_pipeline  # noqa: E402
from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture  # noqa: E402
from fest_vibes_ai_etl_spark.pipeline.metrics import with_row_observer  # noqa: E402
from fest_vibes_ai_etl_spark.schemas import EVENT_DTO  # noqa: E402
from fest_vibes_ai_etl_spark.session import get_spark  # noqa: E402
from fest_vibes_ai_etl_spark.sources.lakehouse import write_partitioned  # noqa: E402


@contextmanager
def phase(sc, name: str, report: dict[str, tuple[float, int]]):
    """Run the body under Spark job group ``name``; record its wall seconds
    and the number of Spark jobs it launched."""
    sc.setJobGroup(name, f"run_pipeline {name}")
    t0 = time.perf_counter()
    yield
    report[name] = (time.perf_counter() - t0, len(sc.statusTracker().getJobIdsForGroup(name)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--out", required=True, help="lakehouse root to write silver/gold under")
    ap.add_argument("--bronze", help="directory of EventDTO JSON-lines (default: fixture)")
    ap.add_argument("--dates", nargs="*", default=None, help="event dates to process")
    ap.add_argument("--no-embeddings", action="store_true")
    args = ap.parse_args()

    spark = get_spark("fest-vibes-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    if args.bronze:
        bronze = spark.read.schema(EVENT_DTO).json(args.bronze)
    else:
        bronze = bronze_fixture(spark)

    dates = args.dates
    if not dates:
        dates = [
            r[0]
            for r in bronze.selectExpr("event_data.event_date AS d")
            .where("d IS NOT NULL")
            .distinct()
            .collect()
        ]

    sc, phases = spark.sparkContext, {}
    with phase(sc, "plan", phases):
        layers = run_pipeline(spark, bronze, dates, with_embeddings=not args.no_embeddings)

    out = args.out.rstrip("/")
    observers = {}
    with phase(sc, "silver", phases):
        for name in ("events", "artists", "venues", "genres", "quarantine"):
            if name in layers:
                # metrics piggyback on the write action — no separate count pass
                observed, observers[name] = with_row_observer(layers[name], name)
                part = "event_date" if name == "events" else None
                if part:
                    write_partitioned(observed, f"{out}/silver/{name}", [part])
                else:
                    observed.write.mode("overwrite").parquet(f"{out}/silver/{name}")
    with phase(sc, "gold", phases):
        gold = layers["cache_payload"].withColumn(
            "event_date", F.to_date(F.regexp_extract("cache_key", r"events:(.*)$", 1))
        )
        gold, observers["cache_payload"] = with_row_observer(gold, "cache_payload")
        write_partitioned(gold, f"{out}/gold/cache_payload", ["event_date"])

    counts = {name: obs.get["rows"] for name, obs in observers.items()}
    summary = ", ".join(f"{name}={n}" for name, n in counts.items())
    timing = ", ".join(f"{name}={s:.2f}s/{jobs} jobs" for name, (s, jobs) in phases.items())
    print(f"pipeline complete ({summary}) -> {out}")
    print(f"phases ({timing})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
