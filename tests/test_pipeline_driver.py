"""End-to-end pipeline driver + cache sink tests."""

from __future__ import annotations

import json
import tempfile
from pathlib import Path

import pytest

from fest_vibes_ai_etl_spark.operators.enrich import EMBED_DIM
from fest_vibes_ai_etl_spark.pipeline import cache_sink, driver
from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture


@pytest.fixture(scope="module")
def result(spark):
    return driver.run_pipeline(
        spark,
        bronze_fixture(spark),
        dates=["2025-03-01", "2025-03-02"],
        ref_date="2025-03-01",
    )


def test_layers_present(result):
    assert set(result) >= {
        "genres", "artists", "venues", "events", "artist_genres",
        "quarantine", "cache_payload",
    }
    assert result["quarantine"].count() == 2


def test_enrichment_applied(result):
    venues = result["venues"].collect()
    assert all(r.latitude is not None and r.longitude is not None for r in venues)
    artists = result["artists"].collect()
    assert all(
        r.description_embedding is not None and len(r.description_embedding) == EMBED_DIM
        for r in artists
    )
    events = result["events"].collect()
    assert all(e.event_text_embedding is not None for e in events)


def test_cache_payload_covers_both_dates(result):
    keys = {r.cache_key for r in result["cache_payload"].collect()}
    assert keys == {"events:2025-03-01", "events:2025-03-02"}


def test_export_to_cache_filesystem_client(spark, result):
    out = Path(tempfile.mkdtemp(prefix="fest_cache_"))

    class FileClient:
        """setex → one file per key (filesystem is the executor-visible
        shared store in tests; Redis pipeline in deployment)."""

        def setex(self, key, ttl, value):
            (out / key.replace(":", "_")).write_text(json.dumps({"ttl": ttl, "doc": value}))

    n = cache_sink.export_to_cache(result["cache_payload"], client_factory=FileClient)
    assert n == 2
    files = sorted(p.name for p in out.glob("events_*"))
    assert files == ["events_2025-03-01", "events_2025-03-02"]
    payload = json.loads((out / "events_2025-03-01").read_text())
    docs = json.loads(payload["doc"])
    assert isinstance(docs, list) and len(docs) == 3
    assert payload["ttl"] == 3600  # today tier
    names = [d["artist_data"]["name"] for d in docs]
    assert names == ["Galactic", "Ellis Marsalis Quartet", "Kermit Ruffins"]  # W1 order


@pytest.mark.parametrize("layer", ["events", "artists", "venues", "cache_payload"])
def test_enrichment_not_rerun_downstream(result, layer):
    """Silver is materialised once: the enriched layers (and gold built
    from them) plan over checkpointed leaves, so no action re-runs the
    embedding's mapInPandas."""
    plan = result[layer]._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInPandas" not in plan


def test_window_gold_is_one_dag(result):
    """A 2-date window is one gold join DAG filtered on both dates, not a
    union of per-date DAGs."""
    plan = result["cache_payload"]._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan


def _jobs_in_group(spark, group, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job-start events land async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_export_to_cache_is_one_action(spark, result):
    """The export evaluates the gold DAG once: it launches exactly the jobs
    one collect of the per-date documents does (the old foreachPartition
    plus count() launched two evaluations)."""
    payload = result["cache_payload"]
    # first action materialises the silver checkpoints outside both groups
    cache_sink.aggregate_per_date(payload).collect()
    collect_jobs = _jobs_in_group(
        spark, "test-collect", lambda: cache_sink.aggregate_per_date(payload).collect()
    )
    export_jobs = _jobs_in_group(
        spark, "test-export",
        lambda: cache_sink.export_to_cache(payload, namespace="test-one-action"),
    )
    assert export_jobs == collect_jobs


def test_export_to_cache_flushes_once_per_nonempty_partition(spark, result, tmp_path):
    """One client per non-empty partition, flushed exactly once. The
    writes run in executor processes, so each flush leaves a file marker
    listing the keys it sent."""
    out = tmp_path

    class FlushClient:
        def __init__(self):
            self.keys = []

        def setex(self, key, ttl, value):
            self.keys.append(key)

        def flush(self):
            import uuid

            (out / f"flush_{uuid.uuid4().hex}").write_text(json.dumps(self.keys))

    conf = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    # keep the 8 shuffle partitions, so 2 keys leave most of them empty
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        n = cache_sink.export_to_cache(result["cache_payload"], client_factory=FlushClient)
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", conf)
    flushed = [json.loads(p.read_text()) for p in out.glob("flush_*")]
    assert n == 2
    assert flushed and all(flushed)  # no client for an empty partition
    assert sorted(k for keys in flushed for k in keys) == [
        "events:2025-03-01", "events:2025-03-02"
    ]


def test_pipeline_persists_into_versioned_table(spark, tmp_path):
    """End-to-end: bronze -> run_pipeline -> versioned fact table. A
    re-run with the same txn id is collapsed (no new version); the stored
    fact equals the computed silver fact."""
    from pyspark.sql import functions as F

    from fest_vibes_ai_etl_spark.pipeline.driver import (
        persist_silver_versioned,
        run_pipeline,
    )
    from fest_vibes_ai_etl_spark.pipeline.fixtures import bronze_fixture
    from fest_vibes_ai_etl_spark.sources.merge_store import VersionedParquetTable

    layers = run_pipeline(
        spark, bronze_fixture(spark), dates=["2025-03-01"], with_embeddings=False
    )
    root = str(tmp_path / "silver")
    v1 = persist_silver_versioned(spark, layers, root, txn=("daily", 1))
    assert v1 == 1
    # double-fired scheduler run: same txn -> no new version
    assert persist_silver_versioned(spark, layers, root, txn=("daily", 1)) == 1
    t = VersionedParquetTable(f"{root}/events", "event_date")
    stored = {
        r.wwoz_event_href
        for r in t.read(spark).select("wwoz_event_href").collect()
    }
    computed = {
        r.wwoz_event_href
        for r in layers["events"].select("wwoz_event_href").collect()
    }
    assert stored == computed and len(stored) > 0
    # event_date round-trips as the hive partition column
    assert t.read(spark).filter(F.col("event_date").isNull()).count() == 0
