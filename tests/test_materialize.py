"""Materialization engine tests (SURVEY.md §5.4): incremental equivalence —
materializing period-by-period with late out-of-order batches must equal a
one-shot batch over the full range. THE Minerva-semantics test (T2/T3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import Trend
from minerva_etl_46_spark.functions.timestamps import G_1H
from minerva_etl_46_spark.operators.rollup import time_rollup
from minerva_etl_46_spark.plans.materialize import (
    MaterializationEngine,
    MaterializationSpec,
)
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

SF = "/root/testdata/sf0.001"

TRENDS = {
    "n": Trend("n", time_aggregation="count"),
    "sum_value": Trend("sum_value", time_aggregation="sum"),
}


def load_events(spark):
    """First ~6 hours only: the window count (not row count) dominates
    test wall-clock."""
    df = spark.read.parquet(f"{SF}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return (
        df.select("event_id", "ts", "user_id", "value")
        .filter(F.col("ts") < F.lit("2024-01-01 06:00:00").cast("timestamp"))
        .localCheckpoint(eager=True)
    )


def rollup_src(raw: TrendStorePartStorage):
    def src_fn(spark, w_start, w_end):
        rows = raw.read_window(spark, w_start, w_end).filter(
            (F.col("ts").cast("long") >= w_start) & (F.col("ts").cast("long") < w_end)
        )
        src = rows.select(
            "user_id", "ts",
            F.col("value").alias("n"), F.col("value").alias("sum_value"),
        )
        return time_rollup(src, "user_id", "ts", G_1H, TRENDS, bucket_col="bucket")

    return src_fn


@pytest.fixture()
def stores(tmp_path):
    raw = TrendStorePartStorage(str(tmp_path), "raw_events", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "events_1h", partition_size_s=3600)
    return raw, target


def make_spec(raw, target, **kw):
    return MaterializationSpec(
        name="events_1h", granularity=G_1H, target=target,
        src_fn=rollup_src(raw), sources=[raw], ts_col="bucket", **kw,
    )


def test_incremental_equals_oneshot_with_late_batches(spark, stores):
    raw, target = stores
    events = load_events(spark)
    engine = MaterializationEngine(raw.base_dir)
    # 'now' is a synthetic far-future instant: the horizon must be wide
    # enough that late batches still fall inside reprocessing_period
    spec = make_spec(raw, target, reprocessing_period_s=10**12)

    # three out-of-order batches; batch 3 is "late" data for early hours
    b1 = events.filter(F.col("event_id") % 3 == 0)
    b2 = events.filter(F.col("event_id") % 3 == 1)
    b3 = events.filter(F.col("event_id") % 3 == 2)
    far_future = 4e9  # all delays satisfied
    for b in (b1, b2, b3):
        raw.upsert(b, keys=["event_id"], version_cols=["event_id"], ts_col="ts")
        engine.tick(spark, spec, now=far_future)

    got = target.read(spark).drop("p_bucket").toPandas()
    src = events.select(
        "user_id", "ts", F.col("value").alias("n"), F.col("value").alias("sum_value")
    )
    want = time_rollup(src, "user_id", "ts", G_1H, TRENDS, bucket_col="bucket").toPandas()
    key = ["user_id", "bucket"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns.tolist()]
    want = want.sort_values(key).reset_index(drop=True)
    assert got.equals(want), "incremental materialization != one-shot batch"


def test_fingerprint_skips_unchanged_windows(spark, stores):
    raw, target = stores
    events = load_events(spark)
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=10**12)
    raw.upsert(events, keys=["event_id"], version_cols=["event_id"], ts_col="ts")

    first = engine.tick(spark, spec, now=4e9)
    assert len(first) > 0
    second = engine.tick(spark, spec, now=4e9 + 10)
    assert second == [], "unchanged fingerprints must not reprocess"


def test_stability_and_processing_delay_gate(spark, stores):
    raw, target = stores
    events = load_events(spark)
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, stability_delay_s=10_000_000_000)
    raw.upsert(events, keys=["event_id"], version_cols=["event_id"], ts_col="ts")
    # sources are never "quiet" under an absurd stability delay
    assert engine.tick(spark, spec, now=4e9) == []


def test_reprocessing_horizon_drops_ancient_late_data(spark, stores):
    raw, target = stores
    events = load_events(spark)
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=3600)

    b1 = events.filter(F.col("event_id") % 2 == 0)
    raw.upsert(b1, keys=["event_id"], version_cols=["event_id"], ts_col="ts")
    done1 = engine.tick(spark, spec, now=4e9)
    assert done1
    # late data arrives, but 'now' is far past window end + horizon: already-
    # processed windows must NOT re-run (never-seen windows still may — the
    # horizon gates REprocessing only, matching the reference semantics)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    raw.upsert(b2, keys=["event_id"], version_cols=["event_id"], ts_col="ts")
    done2 = engine.tick(spark, spec, now=4e9 + 1_000_000)
    assert set(done1).isdisjoint(done2), "late data outside reprocessing_period re-ran"
    # and the system quiesces: nothing left to do
    assert engine.tick(spark, spec, now=4e9 + 1_000_001) == []


def test_calendar_daily_materialization_equals_oneshot(spark, tmp_path):
    """Calendar (G_1D) windows materialize end-to-end — the capability the
    round-1 advisor flagged as TypeError'ing (granularity.seconds is None)."""
    from minerva_etl_46_spark.functions.timestamps import G_1D

    raw = TrendStorePartStorage(str(tmp_path), "raw_events", partition_size_s=86400)
    target = TrendStorePartStorage(str(tmp_path), "events_1d", partition_size_s=86400)
    events = load_events(spark)
    engine = MaterializationEngine(str(tmp_path))

    def src_fn(sp, w_start, w_end):
        rows = raw.read_window(sp, w_start, w_end).filter(
            (F.col("ts").cast("long") >= w_start) & (F.col("ts").cast("long") < w_end)
        )
        src = rows.select(
            "user_id", "ts",
            F.col("value").alias("n"), F.col("value").alias("sum_value"),
        )
        return time_rollup(src, "user_id", "ts", G_1D, TRENDS, bucket_col="bucket")

    spec = MaterializationSpec(
        name="events_1d", granularity=G_1D, target=target, src_fn=src_fn,
        sources=[raw], ts_col="bucket", reprocessing_period_s=10**12,
    )
    raw.upsert(events, keys=["event_id"], version_cols=["event_id"], ts_col="ts")
    done = engine.tick(spark, spec, now=4e9)
    assert done, "no calendar windows materialized"
    got = target.read(spark).drop("p_bucket").toPandas()
    src = events.select(
        "user_id", "ts", F.col("value").alias("n"), F.col("value").alias("sum_value")
    )
    want = time_rollup(src, "user_id", "ts", G_1D, TRENDS, bucket_col="bucket").toPandas()
    key = ["user_id", "bucket"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns.tolist()]
    want = want.sort_values(key).reset_index(drop=True)
    assert got.equals(want), "calendar materialization != one-shot batch"
    # unchanged fingerprints quiesce for calendar windows too
    assert engine.tick(spark, spec, now=4e9 + 10) == []


def test_calendar_window_math_across_dst():
    """Driver-side local-calendar boundary math mirrors align_floor/align_end
    across DST (no Spark needed)."""
    from minerva_etl_46_spark.plans.materialize import _cal_floor, _cal_next

    TZ = "Europe/Amsterdam"
    # local midnight 2024-03-31 = 23:00 UTC 03-30 (offset +1, epoch 1711839600)
    mar31_local_midnight = 1711839600
    assert _cal_floor(mar31_local_midnight + 3600, "day", TZ) == mar31_local_midnight
    # spring-forward: the local day is 23h — next boundary is 22:00 UTC 03-31
    assert _cal_next(mar31_local_midnight, "day", TZ) == mar31_local_midnight + 23 * 3600
    # month: March Amsterdam = Feb 29 23:00 UTC → Mar 31 22:00 UTC (30d23h)
    mar_start = _cal_floor(mar31_local_midnight, "month", TZ)
    assert _cal_next(mar_start, "month", TZ) - mar_start == 30 * 86400 + 23 * 3600
    # UTC days stay plain 86400s
    assert _cal_next(1704067200, "day", "UTC") == 1704067200 + 86400


def test_calendar_tiling_guard(spark, tmp_path):
    """Non-UTC local midnights (22/23:00 UTC) don't tile 86400s partitions —
    must refuse instead of clobbering sibling windows' partitions."""
    from minerva_etl_46_spark.functions.timestamps import G_1D

    raw = TrendStorePartStorage(str(tmp_path), "raw", partition_size_s=86400)
    bad = TrendStorePartStorage(str(tmp_path), "bad", partition_size_s=86400)
    engine = MaterializationEngine(str(tmp_path))
    spec = MaterializationSpec(
        name="bad_1d", granularity=G_1D, target=bad,
        src_fn=lambda sp, a, b: None, sources=[raw],
        tz="Europe/Amsterdam",
    )
    with pytest.raises(ValueError, match="tile"):
        engine.run_window(spark, spec, 1711839600, "fp")


def test_partition_tiling_guard(spark, stores):
    raw, _ = stores
    bad_target = TrendStorePartStorage(raw.base_dir, "bad", partition_size_s=7200)
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, bad_target)
    with pytest.raises(ValueError, match="tile"):
        engine.run_window(spark, spec, 0, "fp")


def test_example_hourly_ladder_labels_period_end(spark, tmp_path):
    """examples/pm_instance hourly_traffic rolls period-END quarter
    samples: an hour (h, h+1h] sums all 4 of its samples, and re-ticking
    hour h after a late correction leaves hour h+1's row unchanged."""
    import dataclasses

    from examples.pm_instance.specs import hourly_traffic

    h0 = 1704067200
    # far-future `now` with a horizon to match, as in the tests above
    spec = dataclasses.replace(hourly_traffic(str(tmp_path)),
                               reprocessing_period_s=10**12)
    raw = spec.sources[0]
    engine = MaterializationEngine(str(tmp_path))

    def load(rows):
        raw.upsert(spark.createDataFrame(
            rows, "entity_id long, epoch long, calls int, drops int, job_id long",
        ).select("entity_id", F.timestamp_seconds("epoch").alias("ts"),
                 "calls", "drops", "job_id"),
            keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")

    # two hours of quarter samples per cell; sample q of hour k carries
    # calls 10**q (k == 0) or 2 * 10**q (k == 1) so every sum is distinct
    load([(e, h0 + 3600 * k + 900 * (q + 1), (k + 1) * 10 ** q, 0, 1)
          for e in (1, 2) for k in (0, 1) for q in range(4)])
    now = 4e9
    # closed="end": each hour's span reaches its own window only
    assert engine.tick(spark, spec, now=now) == [h0, h0 + 3600]

    def hourly():
        return {(r["entity_id"], r["bucket"]): r["calls"]
                for r in spec.target.read(spark).collect()}

    first = hourly()
    assert first == {(e, h0 + 3600 * (k + 1)): (k + 1) * 1111
                     for e in (1, 2) for k in (0, 1)}

    load([(1, h0 + 1800, 50, 0, 2)])  # late correction inside hour 0
    assert engine.tick(spark, spec, now=now) == [h0]
    second = hourly()
    assert second[(1, h0 + 3600)] == 1111 - 10 + 50
    assert {k: v for k, v in second.items() if k != (1, h0 + 3600)} == \
        {k: v for k, v in first.items() if k != (1, h0 + 3600)}


H0 = 1704067200  # 2024-01-01T00:00Z


def _events_at(spark, rows):
    """raw_events rows from (event_id, user_id, epoch, value)."""
    return spark.createDataFrame(
        rows, "event_id long, user_id long, epoch long, value double",
    ).select("event_id", F.timestamp_seconds("epoch").alias("ts"),
             "user_id", "value")


def _count_writes(monkeypatch):
    """Names of the parts TrendStorePartStorage.write is called on."""
    writes = []
    real = TrendStorePartStorage.write

    def counting(self, *a, **kw):
        writes.append(self.name)
        return real(self, *a, **kw)

    monkeypatch.setattr(TrendStorePartStorage, "write", counting)
    return writes


def test_tick_writes_all_dirty_windows_at_once(spark, stores, monkeypatch):
    raw, target = stores
    raw.write(_events_at(spark, [(1, 1, H0 + 60, 1.0), (2, 2, H0 + 3660, 2.0)]))
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=10**12)
    writes = _count_writes(monkeypatch)
    assert engine.tick(spark, spec, now=4e9) == [H0, H0 + 3600]
    assert writes == [target.name]


def test_candidates_run_no_spark_job(spark, stores):
    """The modified log is read on the driver, and the fingerprints are
    the ones a Spark read of the same log gives."""
    import hashlib
    import uuid

    raw, target = stores
    raw.write(_events_at(spark, [(1, 1, H0 + 60, 1.0), (2, 2, H0 + 3660, 2.0)]))
    raw.write(_events_at(spark, [(3, 1, H0 + 120, 3.0)]))  # bucket H0 twice
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=10**12)

    sc = spark.sparkContext
    group = f"candidates-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = engine.candidates(spark, spec, now=4e9)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

    reach: dict[tuple[int, int], list] = {}
    for r in raw.modified_log(spark).collect():
        for w in engine._windows_of_span(spec, r["ts_min_us"], r["ts_max_us"],
                                         spec.closed):
            acc = reach.setdefault((w, r["p_bucket"]), [0, r["modified_at"]])
            acc[0] += 1
            acc[1] = max(acc[1], r["modified_at"])
    parts: dict[int, list[str]] = {}
    for (w, b), (n, m) in reach.items():
        parts.setdefault(w, []).append(f"{raw.name}:{b}:{n}:{m}")
    assert got == [(w, hashlib.md5("|".join(sorted(p)).encode()).hexdigest())
                   for w, p in sorted(parts.items())]


def test_backfill_runs_in_passes_and_equals_oneshot(spark, stores, monkeypatch):
    """29 hours of raw data, none on an hour boundary, are 29 dirty
    hourly windows: two passes, two target writes, and the target equals
    the one-shot rollup."""
    from minerva_etl_46_spark.plans.materialize import PASS_WINDOWS

    raw, target = stores
    events = _events_at(spark, [
        (2 * h + u, u, H0 + 3600 * h + 60 * (u + 1), float(h * u))
        for h in range(29) for u in (1, 2)])
    raw.write(events)
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=10**12)
    writes = _count_writes(monkeypatch)
    done = engine.tick(spark, spec, now=4e9)
    assert len(done) == 29 and PASS_WINDOWS < 29 <= 2 * PASS_WINDOWS
    assert writes == [target.name] * 2
    assert set(engine.load_state(spec)["window_start"]) == set(done)

    got = target.read(spark).drop("p_bucket").toPandas()
    src = events.select(
        "user_id", "ts", F.col("value").alias("n"), F.col("value").alias("sum_value"))
    want = time_rollup(src, "user_id", "ts", G_1H, TRENDS, bucket_col="bucket").toPandas()
    key = ["user_id", "bucket"]
    got = got.sort_values(key).reset_index(drop=True)[want.columns.tolist()]
    want = want.sort_values(key).reset_index(drop=True)
    assert got.equals(want), "two-pass backfill != one-shot batch"


def test_reprocess_deletes_stale_partition_but_not_a_siblings(spark, tmp_path):
    """Rows are written at their `label`, which may sit outside their
    window. A late correction moves window H0's row from partition H0 into
    partition P, and window H0+1h's row out of P: H0 is stale and goes,
    P is stale for window H0+1h but was just written for window H0 in
    the same pass, so it stays."""
    import os

    raw = TrendStorePartStorage(str(tmp_path), "raw_l", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "labelled", partition_size_s=3600)
    p = H0 + 7200

    def src_fn(sp, ws, we):
        return raw.read_window(sp, ws, we).filter(
            (F.col("ts").cast("long") >= ws) & (F.col("ts").cast("long") < we)
        ).select("k", F.timestamp_seconds("label").alias("out"))

    def load(rows):
        raw.write(spark.createDataFrame(rows, "k long, epoch long, label long")
                  .select("k", F.timestamp_seconds("epoch").alias("ts"), "label"))

    spec = MaterializationSpec(
        name="labelled", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="out", reprocessing_period_s=10**12)
    engine = MaterializationEngine(str(tmp_path))

    def dirs():
        return {int(e.split("=")[1]) for e in os.listdir(target.path)
                if e.startswith("p_bucket=")}

    load([(1, H0 + 60, H0 + 60), (2, H0 + 3660, p + 120),
          (3, H0 + 3720, H0 + 3720)])
    engine.tick(spark, spec, now=4e9)
    assert dirs() == {H0, H0 + 3600, p}

    load([(1, H0 + 60, p + 60), (2, H0 + 3660, H0 + 3780),
          (3, H0 + 3720, H0 + 3720)])
    assert {H0, H0 + 3600} <= set(engine.tick(spark, spec, now=4e9 + 10))
    assert dirs() == {H0 + 3600, p}
    got = {(r["k"], r["out"]) for r in target.read(spark).select(
        "k", F.col("out").cast("long").alias("out")).collect()}
    assert got == {(1, p + 60), (2, H0 + 3780), (3, H0 + 3720)}
    assert engine.tick(spark, spec, now=4e9 + 20) == []


# ---------------------------------------------------------------------------
# timestamp spans in the modified log
# ---------------------------------------------------------------------------

SPRING, SPRING_END = 1711839600, 1711922400  # 2024-03-31, Amsterdam: 23 h
FALL, FALL_END = 1729980000, 1730070000      # 2024-10-27, Amsterdam: 25 h


def _example_ladder(base):
    import dataclasses

    from examples.pm_instance.specs import daily_traffic, hourly_traffic

    return [dataclasses.replace(s, reprocessing_period_s=10**12)
            for s in (hourly_traffic(base), daily_traffic(base))]


def _load_quarters(spark, raw, hours, calls, job_id):
    """One cell's four period-END quarter samples of each hour: the
    closing one lands on the next hour, in the next hour's bucket."""
    raw.upsert(spark.createDataFrame(
        [(1, h + 900 * q, calls(h, q), 0, job_id) for h in hours for q in (1, 2, 3, 4)],
        "entity_id long, epoch long, calls int, drops int, job_id long",
    ).select("entity_id", F.timestamp_seconds("epoch").alias("ts"),
             "calls", "drops", "job_id"),
        keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")


def test_daily_ladder_across_dst_days_ticks_only_reached_windows(spark, tmp_path):
    """Europe/Amsterdam days of 23 h and 25 h, each loaded at its
    DST-shift hour and its last hour. Each hour dirties only
    its own hourly window, and each hourly label (period END) only the
    local day it closes: the last hour's label is the local midnight
    that ends its day, not the start of the next. A one-hour correction
    of that last hour re-runs exactly that hour and that day."""
    hourly, daily = _example_ladder(str(tmp_path))
    engine = MaterializationEngine(str(tmp_path))
    assert engine._window_end(daily, SPRING) - SPRING == 23 * 3600
    assert engine._window_end(daily, FALL) - FALL == 25 * 3600
    hours = [SPRING + 7200, SPRING_END - 3600, FALL + 10800, FALL_END - 3600]
    _load_quarters(spark, hourly.sources[0], hours, lambda h, q: 10 ** q, 1)
    assert engine.tick(spark, hourly, now=4e9) == hours
    assert engine.tick(spark, daily, now=4e9) == [SPRING, FALL]

    def days():
        return {r["bucket"]: r["calls"] for r in daily.target.read(spark).collect()}

    assert days() == {SPRING_END: 2 * 11110, FALL_END: 2 * 11110}

    last = SPRING_END - 3600
    _load_quarters(spark, hourly.sources[0], [last], lambda h, q: 2 * 10 ** q, 2)
    assert engine.tick(spark, hourly, now=4e9) == [last]
    assert engine.tick(spark, daily, now=4e9) == [SPRING]
    assert days() == {SPRING_END: 3 * 11110, FALL_END: 2 * 11110}


def test_log_without_spans_keeps_whole_bucket_mapping(tmp_path):
    """Entries logged before spans were carry none: they dirty every
    window the whole bucket can reach, with the fingerprints computed
    before spans (so an existing store re-runs nothing). A span entry
    added to a shared bucket changes only the windows it reaches."""
    import hashlib

    import pyarrow as pa

    from minerva_etl_46_spark.sources.paio import append_table

    raw = TrendStorePartStorage(str(tmp_path), "raw_events", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "events_1h", partition_size_s=3600)
    append_table(raw.modified_log_path, pa.table({
        "part": [raw.name] * 3, "p_bucket": [H0, H0 + 3600, H0],
        "modified_at": [5.0, 6.0, 7.0], "job_id": pa.array([None] * 3, pa.int64()),
    }))
    engine = MaterializationEngine(str(tmp_path))
    spec = make_spec(raw, target, closed="end")

    def fp(*parts):
        return hashlib.md5("|".join(sorted(parts)).encode()).hexdigest()

    old = {H0 - 3600: fp(f"{raw.name}:{H0}:2:7.0"),
           H0: fp(f"{raw.name}:{H0}:2:7.0", f"{raw.name}:{H0 + 3600}:1:6.0"),
           H0 + 3600: fp(f"{raw.name}:{H0 + 3600}:1:6.0")}
    assert dict(engine.candidates(None, spec, now=4e9)) == old

    raw._log_modified({H0: ((H0 + 900) * 10**6, (H0 + 2700) * 10**6)}, job_id=None)
    new = dict(engine.candidates(None, spec, now=4e9))
    assert {w for w in old if new[w] != old[w]} == {H0}


def test_undeclared_spec_materializes_a_row_on_the_window_start(spark, stores):
    """A spec that declares no closed end and reads [start, end): a row
    at ts == w dirties both windows whose closed interval holds it, so
    the window that reads it runs."""
    raw, target = stores
    raw.write(_events_at(spark, [(1, 7, H0, 5.0)]))
    engine = MaterializationEngine(raw.base_dir)
    spec = make_spec(raw, target, reprocessing_period_s=10**12)
    assert engine.tick(spark, spec, now=4e9) == [H0 - 3600, H0]
    assert [(r["user_id"], r["bucket"], r["sum_value"])
            for r in target.read(spark).collect()] == [(7, H0, 5.0)]
