"""Silver → gold: the canonical read path + cache export.

Reference §3.4 (/root/reference/src/cache_manager/service.py:29-123): all
events on a date with venue, artist, artist-genres, related artists and
event-genres, ordered by performance_time, serialized as one nested JSON
document per event, TTL-tiered for the cache sink.

Spark shape: partition-pruned fact scan (event_date filter) → broadcast dim
joins → three groupBy-collect_list side aggregations joined back → struct
assembly → to_json. The reference's 4N+1-query eager-load collapses into one
join DAG.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions import scalar


def _genre_lists(bridge: DataFrame, genre_dim: DataFrame, key: str) -> DataFrame:
    return (
        bridge.join(broadcast(genre_dim.select("genre_id", "name")), "genre_id")
        .groupBy(key)
        .agg(F.sort_array(F.collect_list("name")).alias("genres"))
    )


def events_for_date(
    silver: dict[str, DataFrame], date_str: str | Sequence[str], ref_date: str | None = None
) -> DataFrame:
    """One row per event on ``date_str`` (one date, or a window of dates
    planned as ONE join DAG) with nested artist/venue/genre payloads,
    ordered by performance_time — the EventDTO cache document."""
    dates = [date_str] if isinstance(date_str, str) else list(date_str)
    ev = silver["events"].filter(
        F.col("event_date").isin([F.lit(d).cast("date") for d in dates])
    )

    artist_genres = _genre_lists(silver["artist_genres"], silver["genres"], "artist_id")
    event_genres = _genre_lists(silver["event_genres"], silver["genres"], "event_id")
    related = (
        silver["artist_relations"]
        .join(
            broadcast(
                silver["artists"].select(
                    F.col("artist_id").alias("related_artist_id"),
                    F.col("name").alias("related_name"),
                )
            ),
            "related_artist_id",
        )
        .groupBy("artist_id")
        .agg(F.sort_array(F.collect_list("related_name")).alias("related_artists"))
    )

    artists = (
        silver["artists"]
        .join(artist_genres, "artist_id", "left")
        .join(related, "artist_id", "left")
        .select(
            "artist_id",
            F.struct(
                F.col("name"),
                F.col("description"),
                F.coalesce(F.col("genres"), F.array().cast("array<string>")).alias("genres"),
                F.coalesce(F.col("related_artists"), F.array().cast("array<string>")).alias(
                    "related_artists"
                ),
                F.col("wwoz_artist_href"),
                F.col("website"),
            ).alias("artist_data"),
        )
    )
    venues = silver["venues"].select(
        "venue_id",
        F.struct(
            F.col("name"),
            F.col("thoroughfare"),
            F.col("phone_number"),
            F.col("locality"),
            F.col("state"),
            F.col("postal_code"),
            F.col("full_address"),
            F.col("is_active"),
            F.col("website"),
            F.col("wwoz_venue_href"),
            F.col("latitude"),
            F.col("longitude"),
        ).alias("venue_data"),
    )

    doc = (
        ev.join(broadcast(artists), "artist_id", "left")
        .join(broadcast(venues), "venue_id", "left")
        .join(broadcast(event_genres), "event_id", "left")
        .select(
            "event_id",
            "event_date",
            "performance_time",
            "artist_data",
            "venue_data",
            F.struct(
                F.col("event_date").cast("string").alias("event_date"),
                F.col("wwoz_event_href"),
                F.col("description"),
                F.coalesce(F.col("genres"), F.array().cast("array<string>")).alias("genres"),
            ).alias("event_data"),
            "scrape_time",
        )
        .orderBy("performance_time", "event_id")
    )
    ref = F.lit(ref_date).cast("date") if ref_date else F.current_date()
    return doc.withColumn("ttl_seconds", scalar.ttl_seconds(F.col("event_date"), ref))


def to_cache_payload(gold: DataFrame) -> DataFrame:
    """Serialize each row to the cache JSON document (S10 sink shape):
    (cache_key, payload, ttl_seconds). The actual Redis write is
    ``cache_sink.export_to_cache``'s one-action partition pipeline in
    deployment; files-as-cache in tests."""
    return gold.select(
        F.concat(F.lit("events:"), F.col("event_date").cast("string")).alias("cache_key"),
        F.to_json(
            F.struct("artist_data", "venue_data", "event_data", "performance_time", "scrape_time")
        ).alias("payload"),
        "ttl_seconds",
        # Explicit document order (W1): survives any downstream shuffle —
        # collect_list order after a groupBy is otherwise undefined.
        F.col("performance_time").alias("sort_ts"),
        "event_id",
    )
