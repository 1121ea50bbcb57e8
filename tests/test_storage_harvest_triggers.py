"""Storage (partitioned trend store, upsert, retention), CSV harvesting
with entity resolution, and the trigger/notification engine."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from minerva_etl_46_spark.catalog import TriggerRule
from minerva_etl_46_spark.functions.timestamps import G_1H
from minerva_etl_46_spark.plans.triggers import evaluate_rules
from minerva_etl_46_spark.sources.harvest import (
    align_package,
    read_csv_harvest,
    resolve_entities,
)
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage


def _mini(spark, rows):
    return spark.createDataFrame(
        rows, schema="entity_id long, ts string, job_id long, v double"
    ).withColumn("ts", F.to_timestamp("ts"))


def test_storage_roundtrip_prune_retention(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_a", partition_size_s=3600)
    df = _mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),
        (1, "2024-01-01 01:10:00", 1, 2.0),
        (2, "2024-01-01 02:10:00", 1, 3.0),
    ])
    touched = st.write(df, ts_col="ts")
    assert len(touched) == 3
    # partition-pruned read (2024-01-01T01:00Z = 1704070800)
    got = st.read_window(spark, 1704070800, 1704074400)  # hour 01 only
    assert [r["v"] for r in got.collect()] == [2.0]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # retention drops whole partition dirs
    dropped = st.apply_retention(1704074400)
    assert dropped == [1704067200, 1704070800]  # hours 00 and 01
    assert {r["v"] for r in st.read(spark).collect()} == {3.0}


def test_storage_upsert_is_incremental_and_idempotent(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_b", partition_size_s=3600)
    b1 = _mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),
        (2, "2024-01-01 00:20:00", 1, 2.0),
        (1, "2024-01-01 05:10:00", 1, 9.0),
    ])
    st.upsert(b1, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    # batch 2 revises one row in hour 0 and must NOT disturb hour 5
    b2 = _mini(spark, [(2, "2024-01-01 00:20:00", 2, 5.0)])
    st.upsert(b2, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    got = {(r["entity_id"], r["v"]) for r in st.read(spark).collect()}
    assert got == {(1, 1.0), (2, 5.0), (1, 9.0)}
    # idempotence: replaying batch 2 changes nothing
    st.upsert(b2, keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    got2 = {(r["entity_id"], r["v"]) for r in st.read(spark).collect()}
    assert got2 == got
    # modified log recorded every write
    log = st.modified_log(spark)
    assert log.count() >= 3


def test_csv_harvest_with_entity_resolution(spark, tmp_path):
    csv_path = os.path.join(str(tmp_path), "pm.csv")
    with open(csv_path, "w") as f:
        f.write("dn,ts,counter_a\n")
        f.write("Network=NL,Cell=1,2024-01-01 00:05:00,10.5\n")
        f.write("Network=NL,Cell=2,2024-01-01 00:20:00,11.5\n")
    # NB: the DN itself contains a comma → vendor files quote it; here the
    # schema keeps it simple with the first two fields merged by quoting
    with open(csv_path, "w") as f:
        f.write('dn,ts,counter_a\n')
        f.write('"Network=NL,Cell=1",2024-01-01 00:05:00,10.5\n')
        f.write('"Network=NL,Cell=2",2024-01-01 00:20:00,11.5\n')
    pkg = read_csv_harvest(
        spark, csv_path, schema="dn string, ts timestamp, counter_a double"
    )
    entities = spark.createDataFrame(
        [(100, "Network=NL,Cell=1")], schema="entity_id long, name string"
    )
    resolved, new_ents = resolve_entities(pkg, entities)
    rows = {r["dn"]: r["entity_id"] for r in resolved.collect()}
    assert rows["Network=NL,Cell=1"] == 100          # existing id reused
    assert rows["Network=NL,Cell=2"] not in (None, 100)  # minted, deterministic
    assert rows["Network=NL,Cell=2"] >= 0            # top bit cleared
    news = new_ents.collect()
    assert len(news) == 1 and news[0]["name"] == "Network=NL,Cell=2"
    # re-harvest mints the SAME id (content-addressed)
    resolved2, _ = resolve_entities(pkg, entities)
    rows2 = {r["dn"]: r["entity_id"] for r in resolved2.collect()}
    assert rows2 == rows
    # period-END alignment (Minerva timestamp convention)
    aligned = align_package(resolved, "ts", G_1H)
    assert {str(r["ts"]) for r in aligned.collect()} == {"2024-01-01 01:00:00"}


def test_trigger_rules_produce_weighted_notifications(spark):
    kpi = spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 0.4, 100), (2, "2024-01-01 01:00:00", 0.9, 7)],
        schema="entity_id long, ts string, err_rate double, n long",
    ).withColumn("ts", F.to_timestamp("ts"))
    rules = [
        TriggerRule(name="high_err", predicate_sql="err_rate > 0.5 and n >= 5",
                    weight_sql="cast(err_rate * 100 as int)",
                    details_cols=("err_rate", "n")),
        TriggerRule(name="low_traffic", predicate_sql="n < 50",
                    weight_sql="10", details_cols=()),
    ]
    notes = evaluate_rules(kpi, rules).collect()
    by_rule = {(r["rule"], r["entity_id"]): r for r in notes}
    assert set(by_rule) == {("high_err", 2), ("low_traffic", 2)}
    hit = by_rule[("high_err", 2)]
    assert hit["weight"] == 90
    assert '"err_rate":0.9' in hit["details"]


def test_compact_partitions(spark, tmp_path):
    from minerva_etl_46_spark.sources.trendstore import compact_partitions

    st = TrendStorePartStorage(str(tmp_path), "part_c", partition_size_s=3600)
    # upsert rewrites its partitions (already 1 file); small files come from
    # APPEND-mode writers (notification stores, logs) — simulate those
    st.upsert(_mini(spark, [(0, "2024-01-01 00:10:00", 0, 0.0)]),
              keys=["entity_id", "ts"], version_cols=["job_id"], ts_col="ts")
    import os
    pdir = os.path.join(st.path, "p_bucket=1704067200")
    for j in (1, 2):
        _mini(spark, [(j, "2024-01-01 00:10:00", j, float(j))]) \
            .drop("ts") .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:10:00"))) \
            .select(*[c for c in spark.read.parquet(pdir).columns]) \
            .coalesce(1).write.mode("append").parquet(pdir)
    before = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    assert before > 1
    n = compact_partitions(st, spark)
    assert n == 1
    after = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    assert after == 1
    # data intact post-compaction
    assert st.read(spark).count() == 3


def test_compact_only_touches_multifile_partitions(spark, tmp_path):
    """r8 one-job compaction: a partition already at the file target is
    neither read nor rewritten (byte-identical dir listing)."""
    from minerva_etl_46_spark.sources.trendstore import compact_partitions

    st = TrendStorePartStorage(str(tmp_path), "part_d", partition_size_s=3600)
    st.write(_mini(spark, [
        (1, "2024-01-01 00:10:00", 1, 1.0),   # bucket A: stays 1 file
        (2, "2024-01-01 01:10:00", 1, 2.0),   # bucket B: gets appends
    ]), ts_col="ts")
    pdir_b = os.path.join(st.path, "p_bucket=1704070800")
    cols = spark.read.parquet(pdir_b).columns
    for j in (5, 6):
        _mini(spark, [(j, "2024-01-01 01:20:00", j, float(j))]) \
            .select(*cols).coalesce(1).write.mode("append").parquet(pdir_b)
    pdir_a = os.path.join(st.path, "p_bucket=1704067200")
    listing_a = sorted(
        (f, os.path.getmtime(os.path.join(pdir_a, f)))
        for f in os.listdir(pdir_a) if f.endswith(".parquet"))

    assert compact_partitions(st, spark) == 1  # only bucket B
    after_a = sorted(
        (f, os.path.getmtime(os.path.join(pdir_a, f)))
        for f in os.listdir(pdir_a) if f.endswith(".parquet"))
    assert after_a == listing_a  # untouched: same files, same mtimes
    nb = [f for f in os.listdir(pdir_b) if f.endswith(".parquet")]
    assert len(nb) == 1
    assert st.read(spark).count() == 4


def test_write_files_per_partition_fans_out(spark, tmp_path):
    """r8 write fan-out knob: files_per_partition=2 salts each bucket's
    rows over 2 tasks/files (the huge-single-day-batch escape hatch)."""
    st = TrendStorePartStorage(str(tmp_path), "part_e",
                               partition_size_s=3600,
                               files_per_partition=2)
    rows = [(i, "2024-01-01 00:10:00", 1, float(i)) for i in range(64)]
    st.write(_mini(spark, rows), ts_col="ts")
    pdir = os.path.join(st.path, "p_bucket=1704067200")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    assert len(files) == 2
    assert spark.read.parquet(st.path).count() == 64


def _meta(st):
    import json

    with open(st.meta_path) as fh:
        return json.load(fh)


def test_write_records_added_column_and_reads_it_as_null(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_s", partition_size_s=3600)
    st.write(_mini(spark, [(1, "2024-01-01 00:10:00", 1, 1.0)]), ts_col="ts")
    assert [f["name"] for f in _meta(st)["schema"]["fields"]] == [
        "entity_id", "ts", "job_id", "v"]
    st.write(_mini(spark, [(1, "2024-01-01 01:10:00", 2, 2.0)])
             .withColumn("w", F.lit(7).cast("int")), ts_col="ts")
    fields = _meta(st)["schema"]["fields"]
    assert [f["name"] for f in fields] == ["entity_id", "ts", "job_id", "v", "w"]
    assert fields[-1]["type"] == "integer"
    got = st.read_window(spark, 1704067200, 1704074400)
    assert {r["v"]: r["w"] for r in got.collect()} == {1.0: None, 2.0: 7}


def test_write_refuses_a_retyped_column_before_data_lands(spark, tmp_path):
    import pytest

    st = TrendStorePartStorage(str(tmp_path), "part_t", partition_size_s=3600)
    st.write(_mini(spark, [(1, "2024-01-01 00:10:00", 1, 1.0)]), ts_col="ts")
    before = _meta(st)
    retyped = _mini(spark, [(1, "2024-01-01 05:10:00", 2, 2.0)]) \
        .withColumn("v", F.col("v").cast("string"))
    with pytest.raises(ValueError, match="'v' is recorded as double"):
        st.write(retyped, ts_col="ts")
    assert sorted(e for e in os.listdir(st.path) if e.startswith("p_bucket=")) \
        == ["p_bucket=1704067200"]
    assert _meta(st) == before


def test_empty_window_has_the_schema_of_a_full_one(spark, tmp_path):
    st = TrendStorePartStorage(str(tmp_path), "part_w", partition_size_s=3600)
    st.write(_mini(spark, [(1, "2024-01-01 00:10:00", 1, 1.0),
                           (1, "2024-01-01 01:10:00", 1, 2.0)]), ts_col="ts")
    full = st.read_window(spark, 1704067200, 1704074400)
    empty = st.read_window(spark, 1704153600, 1704157200)  # a day later
    assert empty.count() == 0 and full.count() == 2
    assert empty.schema == full.schema
    assert dict(empty.dtypes)["p_bucket"] == "int"


def test_write_to_a_part_without_recorded_schema_keeps_its_columns(spark, tmp_path):
    """A part whose meta predates recorded schemas: the next write records
    the columns reads inferred until then, plus its own."""
    import json

    st = TrendStorePartStorage(str(tmp_path), "part_l", partition_size_s=3600)
    st.write(_mini(spark, [(1, "2024-01-01 00:10:00", 1, 1.0)]), ts_col="ts")
    with open(st.meta_path, "w") as fh:
        json.dump({"partition_size_s": 3600}, fh)
    st.write(_mini(spark, [(1, "2024-01-01 01:10:00", 2, 2.0)])
             .select("entity_id", "ts", "job_id"), ts_col="ts")
    assert [f["name"] for f in _meta(st)["schema"]["fields"]] == [
        "entity_id", "ts", "job_id", "v"]
    got = st.read_window(spark, 1704067200, 1704074400)
    assert {r["job_id"]: r["v"] for r in got.collect()} == {1: 1.0, 2: None}


def test_jsonl_harvest_equals_csv_harvest(spark, tmp_path):
    """S1 sibling format: a JSON-lines drop of the same vendor rows must
    resolve/align identically to the CSV path (format equivalence), and a
    schema-violating line must surface, not silently widen types."""
    from minerva_etl_46_spark.sources.harvest import read_jsonl_harvest

    jl = os.path.join(str(tmp_path), "pm.jsonl")
    with open(jl, "w") as f:
        f.write('{"dn": "Network=NL,Cell=1", "ts": "2024-01-01 00:05:00", "counter_a": 10.5}\n')
        f.write('{"dn": "Network=NL,Cell=2", "ts": "2024-01-01 00:20:00", "counter_a": 11.5}\n')
    pkg = read_jsonl_harvest(
        spark, jl, schema="dn string, ts timestamp, counter_a double"
    )
    entities = spark.createDataFrame(
        [(100, "Network=NL,Cell=1")], schema="entity_id long, name string"
    )
    resolved, new_ents = resolve_entities(pkg, entities)
    rows = {r["dn"]: r["entity_id"] for r in resolved.collect()}
    assert rows["Network=NL,Cell=1"] == 100
    assert new_ents.count() == 1
    aligned = align_package(resolved, "ts", G_1H)
    assert {str(r["ts"]) for r in aligned.collect()} == {"2024-01-01 01:00:00"}

    # corrupt line parks in _corrupt_record when the schema declares it
    with open(jl, "a") as f:
        f.write('{"dn": 12, "ts": "not-a-ts", "counter_a": "x"\n')  # broken json
    # Spark requires caching the parsed frame before querying only the
    # corrupt-record column (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    bad = read_jsonl_harvest(
        spark, jl,
        schema="dn string, ts timestamp, counter_a double, _corrupt_record string",
    ).cache()
    try:
        assert bad.filter(bad["_corrupt_record"].isNotNull()).count() == 1
    finally:
        bad.unpersist()
