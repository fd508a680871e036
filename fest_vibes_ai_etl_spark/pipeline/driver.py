"""The full pipeline as ONE Spark application.

Reference §3.1: EventBridge cron → Step Function → per-date Lambda fan-out
(param_generator → extractor → loader → cache_manager), with S3/Postgres/
Redis hops between every stage. Here the whole graph is one job DAG over a
date-partitioned DataFrame:

    bronze (EventDTO JSON/parquet, partitioned by scrape date)
      → validate + quarantine              (P8)
      → normalize to silver star schema    (dims → fact → bridges)
      → enrich: geocode venues, embed artists/venues/events  (U1-U4)
      → gold: per-date event documents + TTL  (§3.4 query)
      → cache payload export               (S10)

The per-date fan-out disappears: dates are partitions of one DataFrame, and
Spark's scheduler replaces MaxConcurrency=5. Writes are partitioned by date
so downstream consumers prune.

Each layer is computed once per run. The reference's stages each read the
previous stage's landed output once; here the enriched silver frames are
local checkpoints, so the silver writes, the gold write and the cache
export all read the same materialised blocks instead of re-running bronze →
normalize → geocode → embed per action, and gold (one join DAG for the
whole window) is planned over those small leaves. Trade-off: local
checkpoint blocks live on the executors only, so losing an executor fails
the run rather than recomputing the lost partitions. The run is idempotent
(partition overwrites, merge_store txns) and ``orchestrate.backfill_dates``
retries a failed date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from ..operators.enrich import embed_column, geocode_with_cache
from ..session import configure
from . import gold, normalize


def run_pipeline(
    spark: SparkSession,
    bronze: DataFrame,
    dates: list[str],
    ref_date: str | None = None,
    geocode_cache: DataFrame | None = None,
    with_embeddings: bool = True,
) -> dict[str, DataFrame]:
    """Bronze → silver → gold for the given dates. Returns every layer.

    The silver frames (dims, fact and bridges, enriched) come back as
    local checkpoints: each is computed once, on its first action, and
    every later action reads its blocks — the blocks are freed when the
    frames go out of scope. A lost executor therefore fails the run
    instead of recomputing; re-run it (the run is idempotent).
    ``quarantine`` stays lazy (read once) and ``cache_payload`` is one
    lazy gold plan over the checkpointed silver for all ``dates``."""
    # Externally-created sessions (the correctness driver's, a user's) need
    # the package shipped to executor workers before any UDF stage runs.
    configure(spark)
    silver = normalize.normalize(bronze)
    quarantined = normalize.quarantine_events(bronze)

    silver["venues"] = geocode_with_cache(silver["venues"], cache=geocode_cache)

    if with_embeddings:
        genre_lists = (
            silver["artist_genres"]
            .join(silver["genres"].select("genre_id", F.col("name").alias("g")), "genre_id")
            .groupBy("artist_id")
            .agg(F.sort_array(F.collect_list("g")).alias("genres"))
        )
        artists = silver["artists"].join(genre_lists, "artist_id", "left")
        artists = artists.withColumn(
            "embed_text",
            scalar.artist_embed_text(
                F.col("name"), F.col("description"), F.col("website"), F.col("genres")
            ),
        )
        silver["artists"] = embed_column(artists, "embed_text", "description_embedding").drop(
            "genres", "embed_text"
        )

        venues = silver["venues"].withColumn(
            "embed_text",
            scalar.venue_embed_text(
                F.col("name"),
                F.col("full_address"),
                F.lit(None).cast("string"),
                F.col("is_indoors"),
                scalar.capacity_bucket(F.lit(250)),  # no capacity data → medium tier
                F.lit(None).cast("array<string>"),
            ),
        )
        silver["venues"] = embed_column(venues, "embed_text", "venue_info_embedding").drop(
            "embed_text"
        )

        events = silver["events"].withColumn(
            "embed_text",
            scalar.event_embed_text(
                F.col("artist_name"), F.col("venue_name"), F.col("description")
            ),
        )
        silver["events"] = embed_column(events, "embed_text", "event_text_embedding").drop(
            "embed_text"
        )

    silver = {name: df.localCheckpoint(eager=False) for name, df in silver.items()}
    payload = gold.to_cache_payload(gold.events_for_date(silver, dates, ref_date=ref_date))
    return {**silver, "quarantine": quarantined, "cache_payload": payload}


def persist_silver_versioned(
    spark: SparkSession,
    layers: dict[str, DataFrame],
    root: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Land the silver EVENTS fact in a CAS-committed
    ``VersionedParquetTable`` partitioned by event_date — the multi-writer
    upgrade of the plain partition-overwrite write: concurrent backfills
    over different date ranges rebase instead of clobbering, a scheduler
    that double-fires a date is collapsed by ``txn``, and downstream
    consumers get snapshot isolation + time travel + CDC over the fact.
    Dims stay on the merge_coalesce path (no natural partition column;
    their writes are tiny). Returns the committed version."""
    from ..sources.merge_store import VersionedParquetTable

    t = VersionedParquetTable(f"{root}/events", "event_date")
    return t.merge(
        spark,
        layers["events"],
        keys=["wwoz_event_href"],
        keep_if_null_cols=["description"],  # J4 semantics
        txn=txn,
    )
