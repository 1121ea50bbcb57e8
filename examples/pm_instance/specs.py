"""Worked example: a materialization spec module the CLI can run.

    python -m minerva_etl_46_spark.cli materialize \
        --base-dir /data/pm --spec examples.pm_instance.specs:hourly_traffic

The factory receives base_dir and wires storages + the rollup pipeline —
the code-side counterpart of the reference's generated source views.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import Trend
from minerva_etl_46_spark.functions.timestamps import G_1H
from minerva_etl_46_spark.operators.rollup import time_rollup
from minerva_etl_46_spark.plans.materialize import MaterializationSpec
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

TRENDS = {
    "calls": Trend("calls", time_aggregation="sum", data_type="integer"),
    "drops": Trend("drops", time_aggregation="sum", data_type="integer"),
}


def hourly_traffic(base_dir: str) -> MaterializationSpec:
    raw = TrendStorePartStorage(base_dir, "traffic", partition_size_s=3600)
    target = TrendStorePartStorage(base_dir, "traffic_1h", partition_size_s=3600)

    def src_fn(spark, w_start, w_end):
        rows = raw.read_window(spark, w_start, w_end + 1).filter(
            (F.col("ts").cast("long") > w_start) & (F.col("ts").cast("long") <= w_end)
        )  # period-END grid timestamps: (start, end]
        # label="end": the hour's closing sample (ts == w_end) stays in
        # this window's bucket and partition, not the next hour's
        return time_rollup(rows, "entity_id", "ts", G_1H, TRENDS,
                           bucket_col="bucket", label="end")

    return MaterializationSpec(
        name="traffic_1h", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="bucket", closed="end",
        processing_delay_s=0, stability_delay_s=0,
    )


def daily_traffic(base_dir: str) -> MaterializationSpec:
    """Calendar-granularity (round-2) variant: windows are local days —
    variable length across DST. Non-UTC zones need a partition size that
    divides the local-midnight epoch offsets (3600 covers whole-hour-offset
    zones); UTC tiles 86400 too."""
    from minerva_etl_46_spark.functions.timestamps import G_1D

    hourly = TrendStorePartStorage(base_dir, "traffic_1h", partition_size_s=3600)
    target = TrendStorePartStorage(base_dir, "traffic_1d", partition_size_s=3600)

    def src_fn(spark, w_start, w_end):
        rows = hourly.read_window(spark, w_start, w_end + 1).filter(
            (F.col("bucket") > w_start) & (F.col("bucket") <= w_end)
        )
        rows = rows.withColumn("ts", F.timestamp_seconds("bucket"))
        return time_rollup(rows, "entity_id", "ts", G_1D, TRENDS,
                           bucket_col="bucket", label="end",
                           tz="Europe/Amsterdam")

    return MaterializationSpec(
        name="traffic_1d", granularity=G_1D, target=target, src_fn=src_fn,
        sources=[hourly], ts_col="bucket", tz="Europe/Amsterdam",
        closed="end",
    )
