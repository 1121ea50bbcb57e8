"""Aggregation generator (SURVEY.md §0 "Aggregate", §7 step 4;
[ref: crates/minerva/src/aggregation.rs — UNVERIFIED [M]]).

The reference generates its time- and entity-rollup materializations FROM
the instance definition: each trend's declared time_aggregation /
entity_aggregation becomes a column of generated SQL. This module is that
generator, emitting MaterializationSpecs whose src_fn is built from the
catalog — users declare stores in YAML and get the 15m→1h→1d ladder and
the cell→site rollups without writing pipeline code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import TrendStore, TrendStorePart
from minerva_etl_46_spark.functions.timestamps import GRANULARITIES, Granularity
from minerva_etl_46_spark.operators.rollup import entity_rollup, time_rollup
from minerva_etl_46_spark.plans.materialize import MaterializationSpec
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage


def _trend_map(part: TrendStorePart) -> dict:
    return {t.name: t for t in part.trends}


def generate_time_rollup(
    base_dir: str,
    store: TrendStore,
    part_name: str,
    target_granularity: str,
    entity_col: str = "entity_id",
    ts_col: str = "ts",
    exact: bool = True,
    **spec_kw,
) -> MaterializationSpec:
    """Catalog declaration → a time-rollup materialization
    (e.g. 15m → 1h): reads the raw part's window, aggregates every trend
    by its declared time_aggregation. Target partition size = target
    granularity (tiles windows exactly — plans/materialize.py invariant)."""
    part = next(p for p in store.parts if p.name == part_name)
    trends = _trend_map(part)
    g_to: Granularity = GRANULARITIES[target_granularity]
    tz = spec_kw.get("tz", "UTC")
    if g_to.is_calendar:
        # calendar granularities have no fixed second count (seconds is
        # None, and passing it through breaks every generated
        # 1d/1w/1month ladder step): pick the largest grid
        # that tiles every LOCAL period boundary — the UTC day grid when
        # aligning in UTC, the hour grid for whole-hour-offset zones
        # (run_window's tiling check rejects anything off-grid loudly)
        target_ps = 86400 if tz == "UTC" else 3600
    else:
        target_ps = g_to.seconds
    raw = TrendStorePartStorage(
        base_dir, f"{part_name}_{store.granularity}",
        partition_size_s=store.partition_size_seconds,
    )
    target = TrendStorePartStorage(
        base_dir, f"{part_name}_{target_granularity}",
        partition_size_s=target_ps,
    )

    def src_fn(spark: SparkSession, w_start: int, w_end: int) -> DataFrame:
        # period-END convention: the partition AT w_end holds the boundary
        # rows, and [start, end) pruning would drop it — read through w_end
        ts_epoch = F.col(ts_col).cast("timestamp").cast("long")  # NTZ-proof
        rows = raw.read_window(spark, w_start, w_end + 1).filter(
            (ts_epoch > w_start) & (ts_epoch <= w_end)
        )
        # tz flows BOTH to the engine's window alignment (via spec_kw)
        # and to the rollup's bucket labels — split alignment would
        # label local-window rows onto the neighbor window's partition
        # grid, which its dynamic overwrite then clobbers
        return time_rollup(rows, entity_col, ts_col, g_to, trends,
                           bucket_col="bucket", exact=exact, label="end",
                           tz=tz)

    # src_fn reads (start, end]: declare it, so a written span dirties
    # only the windows that read it
    return MaterializationSpec(
        name=f"{part_name}_{store.granularity}_to_{target_granularity}",
        granularity=g_to, target=target, src_fn=src_fn, sources=[raw],
        ts_col="bucket", **{"closed": "end", **spec_kw},
    )


def generate_entity_rollup(
    base_dir: str,
    store: TrendStore,
    part_name: str,
    relation_df_fn,
    target_suffix: str,
    entity_col: str = "entity_id",
    **spec_kw,
) -> MaterializationSpec:
    """Catalog declaration → an entity-rollup materialization
    (e.g. cell → site): same windows, broadcast relation join, each trend
    by its declared entity_aggregation. relation_df_fn(spark) -> edge
    DataFrame (source_id, target_id) — relations are directory data."""
    part = next(p for p in store.parts if p.name == part_name)
    trends = _trend_map(part)
    g = store.gran
    raw = TrendStorePartStorage(
        base_dir, f"{part_name}_{store.granularity}",
        partition_size_s=store.partition_size_seconds,
    )
    # materialization windows are granularity-sized, so the target's
    # partitions must tile them (materialize.py invariant): keep the
    # store's partition size when it tiles, else fall back to one
    # partition per window
    ps = store.partition_size_seconds
    if ps > g.seconds or g.seconds % ps != 0:
        ps = g.seconds
    target = TrendStorePartStorage(
        base_dir, f"{part_name}_{store.granularity}_{target_suffix}",
        partition_size_s=ps,
    )

    def src_fn(spark: SparkSession, w_start: int, w_end: int) -> DataFrame:
        ts_epoch = F.col("ts").cast("timestamp").cast("long")  # NTZ-proof
        rows = raw.read_window(spark, w_start, w_end + 1).filter(
            (ts_epoch > w_start) & (ts_epoch <= w_end)
        ).withColumn("bucket", ts_epoch)
        rolled = entity_rollup(
            rows, relation_df_fn(spark), entity_col=entity_col,
            bucket_col="bucket", trends=trends,
        )
        return rolled

    return MaterializationSpec(
        name=f"{part_name}_{store.granularity}_{target_suffix}",
        granularity=g, target=target, src_fn=src_fn, sources=[raw],
        ts_col="bucket", **{"closed": "end", **spec_kw},
    )


def specs_from_instance(root: str, instance, **spec_kw) -> list[MaterializationSpec]:
    """The YAML→ladder glue (r6): every trend store's declared
    ``time_aggregations`` becomes one generated time-rollup
    materialization per part, and every ``entity_aggregations`` entry
    one entity-rollup materialization (edges read from the live root's
    entity directory by relation name) — `apply` the instance, write raw
    data, tick the engine; no pipeline code. Raw parts follow the
    generator's naming convention ({part}_{granularity}) under the live
    root's store directory."""
    from minerva_etl_46_spark.instance import _store_key, store_base_dir
    from minerva_etl_46_spark.sources.directory import EntityDirectory

    directory = EntityDirectory(root)
    specs: list[MaterializationSpec] = []
    for store in instance.trend_stores:
        base = store_base_dir(root, _store_key(store))
        for part in store.parts:
            for g_to in store.time_aggregations:
                specs.append(
                    generate_time_rollup(base, store, part.name, g_to,
                                         **spec_kw))
            for ea in store.entity_aggregations:
                rel = ea.relation
                specs.append(generate_entity_rollup(
                    base, store, part.name,
                    relation_df_fn=(
                        lambda spark, _r=rel: directory.relation(spark, _r)),
                    target_suffix=ea.suffix, **spec_kw))
    return specs
