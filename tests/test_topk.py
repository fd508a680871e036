"""Shuffle-pruned top-k: the map-side prune is Spark's own WindowGroupLimit."""

from __future__ import annotations

from conftest import SF_DIR

from fest_vibes_ai_etl_spark.operators.topk import topk_per_group
from fest_vibes_ai_etl_spark.sources import table


def test_default_path_uses_jvm_window_group_limit(spark):
    """The plan must carry Spark's own map-side WindowGroupLimit and NO
    Python boundary."""
    ev = table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    plan = (
        topk_per_group(ev, ["user_id"], "value", "event_id", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan
    assert "MapInPandas" not in plan
