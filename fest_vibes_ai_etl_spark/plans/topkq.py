"""Shuffle-pruned top-k query over the events fact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.topk import topk_per_group
from ..sources import table
from .catalog import register

K = 3


@register(
    "topk_pruned_per_user",
    oracle=f"""
    SELECT event_id, user_id, ROUND(value, 2) AS value, CAST(rk AS INT) AS rk
    FROM (
      SELECT event_id, user_id, ROUND(value, 2) AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ROUND(value, 2) DESC, event_id) AS rk
      FROM events
    )
    WHERE rk <= {K}
    """,
    tags=("window", "topk", "shuffle-pruned"),
    bench=True,
)
def topk_pruned_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user with the map-side prune done by
    Spark's ``WindowGroupLimit``: each input partition first drops rows
    that already lose locally, so the window shuffle carries
    ≤ k·|users|·|partitions| rows instead of every event. The oracle is
    the plain window — results must be identical."""
    import pyspark.sql.functions as F

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )
    return topk_per_group(ev, ["user_id"], "value", "event_id", k=K)
