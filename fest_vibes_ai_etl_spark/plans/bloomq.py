"""Semi-join revenue query: the runtime-filter case, planned by Spark."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import dec_sum
from ..sources import table
from .catalog import register


@register(
    "bloom_semi_join_revenue",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY l_returnflag
    """,
    tags=("join", "bloom", "runtime-filter"),
    bench=True,
)
def bloom_semi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lineitems shipped by negative-balance suppliers, as a
    plain ``left_semi`` join — exactly the oracle's IN-subquery. Spark
    plans both scale regimes itself: a build side under the broadcast
    threshold becomes ``BroadcastHashJoin LeftSemi`` (AQE), and one too
    big to broadcast becomes a shuffle semi join whose fact-side scan the
    optimizer's runtime bloom filter (``might_contain`` over a
    ``bloom_filter_agg`` of the build keys) prunes before the shuffle."""
    li = table(spark, sf_dir, "lineitem")
    watch = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    hits = li.join(watch, "l_suppkey", "left_semi")
    return hits.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
