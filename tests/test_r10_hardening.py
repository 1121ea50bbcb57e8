"""r10 infrastructure-review hardening: the ten findings from the
round-10 high-effort review of trendstore / materialize / jdbc /
service_http, each pinned by the failure it described.

The themes: bookkeeping must never be able to wedge a part
(null-timestamp partitions, foreign partition dirs, truncated state
files), reprocessing must be able to DELETE (dynamic overwrite alone
cannot), and the HTTP face must honor its own documented bounds and
projections on every route, with the partition grid read from the
part's own metadata rather than guessed server-wide.
"""

from __future__ import annotations

import json
import os
import threading
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from minerva_etl_46_spark.plans.materialize import (
    MaterializationEngine,
    MaterializationSpec,
)
from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

H0 = 1704067200  # 2024-01-01T00:00Z


def _rows(spark, triples):
    return spark.createDataFrame(
        [(k, e, float(v)) for k, e, v in triples],
        "k long, epoch long, v double",
    ).select("k", F.timestamp_seconds("epoch").alias("ts"), "v")


# ---------------------------------------------------------------- trendstore


def test_write_rejects_null_timestamps_before_anything_lands(spark, tmp_path):
    """A NULL ts row previously wrote a __HIVE_DEFAULT_PARTITION__ dir,
    then crashed _log_modified (int(None)) AFTER the data landed —
    leaving valid buckets unlogged (materializations never see the
    batch) and retention/compaction permanently crashing on the
    unparseable dir. The write must now reject BEFORE any data lands."""
    st = TrendStorePartStorage(str(tmp_path), "p_null", partition_size_s=3600)
    bad = spark.createDataFrame(
        [(1, H0 + 60, 1.0), (2, None, 2.0)],
        "k long, epoch long, v double",
    ).select("k", F.timestamp_seconds("epoch").alias("ts"), "v")
    with pytest.raises(ValueError, match="NULL"):
        st.write(bad, ts_col="ts")
    # nothing landed: no partition dirs, no modified log (the metadata
    # json alone may exist — it carries no data)
    if os.path.isdir(st.path):
        assert not any(e.startswith("p_bucket=") for e in os.listdir(st.path))
    assert st.modified_log(spark) is None


def test_retention_and_compaction_skip_foreign_partition_dirs(spark, tmp_path):
    """A partition dir whose value is not an integer (e.g. debris from a
    foreign writer) previously raised ValueError mid-scan and wedged
    retention AND compaction for the whole part forever. Both must skip
    what they cannot place on the time grid — and never delete it."""
    from minerva_etl_46_spark.sources.trendstore import compact_partitions

    st = TrendStorePartStorage(str(tmp_path), "p_mix", partition_size_s=3600)
    st.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 3660, 2.0)]))
    foreign = os.path.join(st.path, "p_bucket=__HIVE_DEFAULT_PARTITION__")
    os.makedirs(foreign)
    dropped = st.apply_retention(H0 + 3600)
    assert dropped == [H0]
    assert os.path.isdir(foreign)  # never deleted
    assert compact_partitions(st, spark) == 0  # nothing to do, no crash


def test_part_metadata_records_grid_and_refuses_mixed_writers(spark, tmp_path):
    """The partition grid travels WITH the data: open() restores it, and
    a writer handle configured with a different grid refuses instead of
    interleaving misaligned partitions."""
    st = TrendStorePartStorage(str(tmp_path), "p_meta",
                               partition_size_s=604800)
    st.write(_rows(spark, [(1, H0 + 200000, 1.0)]))
    opened = TrendStorePartStorage.open(str(tmp_path), "p_meta")
    assert opened.partition_size_s == 604800
    wrong = TrendStorePartStorage(str(tmp_path), "p_meta",
                                  partition_size_s=86400)
    with pytest.raises(ValueError, match="mixed grids"):
        wrong.write(_rows(spark, [(2, H0 + 100, 1.0)]))
    # a part written before metadata existed falls back to the default
    os.remove(st.meta_path)
    fallback = TrendStorePartStorage.open(str(tmp_path), "p_meta",
                                          default_partition_size_s=1234)
    assert fallback.partition_size_s == 1234


# -------------------------------------------------------------- materialize


def test_reprocessed_window_deletes_stale_partitions(spark, tmp_path):
    """Dynamic partition overwrite cannot delete: when late corrections
    empty a window (or shrink the partitions it reaches), the rerun
    must CLEAR the stale target partitions — the reference DELETEs at
    the timestamp — and log the delete so chained materializations see
    those buckets dirty. Previously the stale rows survived forever
    while the fingerprint recorded the window as processed."""
    from minerva_etl_46_spark.catalog import Trend
    from minerva_etl_46_spark.functions.timestamps import G_1H
    from minerva_etl_46_spark.operators.rollup import time_rollup

    raw = TrendStorePartStorage(str(tmp_path), "raw_y", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "y_1h",
                                   partition_size_s=3600)
    trends = {"n": Trend("n", time_aggregation="count")}

    def src_fn(sprk, ws, we):
        rows = raw.read_window(sprk, ws, we).filter(
            (F.col("ts").cast("long") >= ws) & (F.col("ts").cast("long") < we)
            & (F.col("v") > 0)  # corrections flip v negative → row leaves
        )
        return time_rollup(rows.select("k", "ts", F.col("v").alias("n")),
                           "k", "ts", G_1H, trends, bucket_col="bucket")

    spec = MaterializationSpec(
        name="y_1h", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="bucket", reprocessing_period_s=10**12)
    engine = MaterializationEngine(str(tmp_path))
    far = 4e9

    raw.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 120, 1.0),
                            (3, H0 + 3660, 1.0)]))
    done = engine.tick(spark, spec, now=far)
    assert H0 in done
    assert {r["bucket"] for r in target.read(spark).collect()} == {
        H0, H0 + 3600}  # h0 (two per-k rows) + h1
    # late correction replaces hour-0's raw partition wholesale with
    # negative rows (dynamic overwrite = the correction-feed shape):
    # the h0 fingerprint changes, the rerun's rollup is EMPTY
    raw.write(_rows(spark, [(1, H0 + 60, -1.0), (2, H0 + 120, -1.0)]))
    done2 = engine.tick(spark, spec, now=far + 10)
    assert H0 in done2
    got = target.read(spark).collect()
    assert [r["bucket"] for r in got] == [H0 + 3600]  # h0 partition GONE
    assert not os.path.isdir(os.path.join(target.path, f"p_bucket={H0}"))
    # the delete is a logged modification on the target
    log = target.modified_log(spark)
    assert log.filter(F.col("p_bucket") == H0).count() >= 1


def test_save_state_is_staged_rename(spark, tmp_path):
    """State saves go through tmp + os.replace (paio pattern): no .tmp
    debris, and the state file is always a complete parquet."""
    import pandas as pd

    engine = MaterializationEngine(str(tmp_path))
    spec = MaterializationSpec(
        name="s", granularity=None, target=None, src_fn=None)
    state = pd.DataFrame([{"window_start": 1, "fingerprint": "x",
                           "processed_at": 2.0}])
    engine._save_state(spec, state)
    p = engine._state_path(spec)
    assert os.path.exists(p) and not os.path.exists(p + ".tmp")
    assert engine.load_state(spec)["fingerprint"].tolist() == ["x"]


# --------------------------------------------------------------------- jdbc


def test_read_jdbc_partitioned_requires_bounds(spark):
    from minerva_etl_46_spark.sources.jdbc import read_jdbc_table

    with pytest.raises(ValueError, match="lower_bound AND upper_bound"):
        read_jdbc_table(spark, "jdbc:derby:memory:x", "t",
                        partition_column="id")


# ------------------------------------------------------------- service_http


def _serve(spark, base_dir):
    from minerva_etl_46_spark.service_http import make_server

    srv = make_server(spark, str(base_dir))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, srv.server_address[1]


def _get(port, path):
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}{path}", timeout=120
    ) as resp:
        return json.loads(resp.read())


def test_query_serves_parts_on_their_own_partition_grid(spark, tmp_path):
    """A weekly-partitioned part served by a daily-default server
    previously returned an EMPTY page for a mid-week range (the range
    floor computed on the wrong grid pruned away the real partition).
    The server now opens the part on its recorded grid."""
    st = TrendStorePartStorage(str(tmp_path), "weekly",
                               partition_size_s=604800)
    mid_week = H0 + 2 * 86400 + 1800  # Wed 00:30 into the Jan-1 week
    st.write(_rows(spark, [(1, mid_week, 42.0)]))
    srv, port = _serve(spark, tmp_path)
    try:
        body = _get(port, f"/query?part=weekly&start={mid_week - 600}"
                          f"&end={mid_week + 600}&columns=v"
                          "&entity_col=k")
        assert [r["v"] for r in body["rows"]] == [42.0]
    finally:
        srv.shutdown()


def test_query_entities_is_capped_like_attributes_at(spark, tmp_path):
    from minerva_etl_46_spark.service import MAX_PAGE_SIZE

    st = TrendStorePartStorage(str(tmp_path), "cap", partition_size_s=3600)
    st.write(_rows(spark, [(1, H0 + 60, 1.0)]))
    srv, port = _serve(spark, tmp_path)
    try:
        ents = ",".join(str(i) for i in range(MAX_PAGE_SIZE + 1))
        try:
            _get(port, f"/query?part=cap&start={H0}&end={H0 + 3600}"
                       f"&entities={ents}")
            raise AssertionError("expected 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "MAX_PAGE_SIZE" in json.loads(e.read())["error"]
    finally:
        srv.shutdown()


def test_parts_excludes_attribute_stores_and_curr_projects_attrs(
        spark, tmp_path):
    """(a) /parts must not advertise attr_* stores as queryable parts;
    (b) /attributes/curr must honor the attrs projection it documents
    (previously returned every stored column) and 400 on unknown attrs
    instead of a deep AnalysisException 500."""
    from datetime import datetime as T

    from minerva_etl_46_spark.sources.attributestore import (
        AttributeStoreStorage,
    )

    st = TrendStorePartStorage(str(tmp_path), "trend_a",
                               partition_size_s=3600)
    st.write(_rows(spark, [(1, H0 + 60, 1.0)]))
    at = AttributeStoreStorage(str(tmp_path), "cfg", ("plan", "tier"))
    at.append(spark.createDataFrame(
        [(1, T(2024, 1, 1), "bronze", "t1")],
        "entity_id long, ts timestamp, plan string, tier string"))
    srv, port = _serve(spark, tmp_path)
    try:
        assert _get(port, "/parts")["parts"] == ["trend_a"]
        rows = _get(port, "/attributes/curr?store=cfg&attrs=plan")["rows"]
        assert set(rows[0]) == {"entity_id", "ts", "plan"}  # tier projected out
        for path in ("/attributes/curr?store=cfg&attrs=nosuch",
                     "/attributes/curr?store=nostore&attrs=plan"):
            try:
                _get(port, path)
                raise AssertionError("expected 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        srv.shutdown()


# -------------------------------------------- second review cluster (r10b)


def test_read_part_drops_removed_trend_columns(spark, tmp_path):
    """RemoveTrend is zero-rewrite — the bytes stay in the files — so
    read_part must stop PROJECTING the removed column. Previously any
    physical column not currently declared passed through untouched,
    resurrecting removed trends uncast."""
    from datetime import datetime

    from minerva_etl_46_spark.instance import (
        apply_instance,
        instance_from_yaml,
        load_live,
        part_storage,
        read_part,
    )
    from tests.test_instance_lifecycle import INSTANCE_YAML

    root = str(tmp_path / "live")
    apply_instance(root, instance_from_yaml(INSTANCE_YAML))
    store = load_live(root).trend_stores[0]
    part_storage(root, store, "traffic").write(spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0), 10, 2)],
        "entity_id long, ts timestamp, calls int, drops int",
    ))
    shrunk = instance_from_yaml(INSTANCE_YAML.replace(
        "\n          - {name: drops, data_type: integer, "
        "time_aggregation: sum}", ""))
    apply_instance(root, shrunk)
    df = read_part(spark, root, load_live(root).trend_stores[0], "traffic")
    assert "drops" not in df.columns          # removed trend GONE
    assert {"entity_id", "ts", "calls"} <= set(df.columns)
    assert df.collect()[0].calls == 10


def test_diff_detects_attribute_type_changes(tmp_path):
    """A re-typed attribute must surface in the change list (previously
    diffed by name only — the apply reported 'no changes' while the
    live declaration changed underneath the reviewer)."""
    from minerva_etl_46_spark.instance import (
        ModifyAttribute,
        diff_instances,
        instance_from_yaml,
    )

    base = """
data_sources: [net]
trend_stores: []
attribute_stores:
  - data_source: net
    entity_type: Cell
    attributes:
      - {name: plan, data_type: text}
"""
    cur = instance_from_yaml(base)
    want = instance_from_yaml(base.replace("data_type: text",
                                           "data_type: integer"))
    changes = diff_instances(cur, want)
    assert changes == [ModifyAttribute("net/Cell", "plan", "data_type",
                                       "text", "integer")]


def test_funnel_counts_advancing_late_events(spark):
    """Cross-batch disorder that ADVANCES the walk is the worst
    violation of the in-order ingest contract — the stream's answer
    differs from the in-order replay, so the late_events alert MUST
    fire (previously only non-advancing late events were counted)."""
    import pandas as pd

    from minerva_etl_46_spark.streaming.stateful import (
        FUNNEL_STAGES,
        _funnel_update,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    st = FakeState()
    # batch 1: a purchase arrives first (stage 0 cannot advance on it)
    list(_funnel_update((7,), [pd.DataFrame(
        {"ts_us": [100], "event_type": [FUNNEL_STAGES[2]]})], st))
    # batch 2: the signup arrives LATE (ts 50 < hwm 100) and advances
    (out,) = _funnel_update((7,), [pd.DataFrame(
        {"ts_us": [50], "event_type": [FUNNEL_STAGES[0]]})], st)
    row = out.iloc[0]
    assert row["reached"] == 1          # the advance is still applied
    assert row["late_events"] == 1      # ...but the violation is visible


def test_attribute_append_is_replay_idempotent(spark, tmp_path):
    """Re-delivering an identical batch (equal ts, equal hash) must
    append NOTHING; an earlier-ts backfill must still land."""
    from datetime import datetime as T

    from minerva_etl_46_spark.sources.attributestore import (
        AttributeStoreStorage,
    )

    st = AttributeStoreStorage(str(tmp_path), "idem", ("plan",))
    batch = spark.createDataFrame(
        [(1, T(2024, 2, 1), "gold")],
        "entity_id long, ts timestamp, plan string")
    assert st.append(batch) == 1
    assert st.append(batch) == 0          # exact replay suppressed
    backfill = spark.createDataFrame(
        [(1, T(2024, 1, 1), "bronze")],
        "entity_id long, ts timestamp, plan string")
    assert st.append(backfill) == 1       # earlier history still lands
    assert st.read_history(spark).count() == 2


def test_pack_sequences_survives_null_text(spark):
    """One NULL-text doc previously killed the whole packing job
    (NaN → int() inside the Arrow worker); it is now dropped by
    contract (quality filtering owns nulls upstream)."""
    from minerva_etl_46_spark.operators.export import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, None), (3, "d e")],
        "doc_id long, body string")
    out = pack_sequences(docs, "doc_id", "body", n_shards=2,
                         max_tokens=4).collect()
    assert sum(r.n_docs for r in out) == 2  # null doc dropped, job alive
    assert sum(r.total_tokens for r in out) == 5


def test_bucketed_sigstore_default_table_is_parameter_scoped():
    """Different signature shapes must never share one cache table:
    same-k different-shingle_n signatures are schema-identical, so an
    unscoped default silently served 3-shingle signatures to a
    5-shingle run."""
    from minerva_etl_46_spark.sources.sigstore import BucketedSignatureStore

    a = BucketedSignatureStore(k=32, shingle_n=3)
    b = BucketedSignatureStore(k=32, shingle_n=5)
    assert a.table == "minerva_signatures_k32_n3"
    assert b.table == "minerva_signatures_k32_n5"
    assert a.table != b.table
    assert BucketedSignatureStore(table="explicit").table == "explicit"


# --------------------------------------------- third review cluster (r10c)


def test_generated_calendar_ladder_materializes(spark, tmp_path):
    """The declared 15m→1d ladder step previously crashed at spec build
    (calendar granularities have seconds=None, which flowed into the
    target's partition grid). A 1d generated rollup must tick end-to-end
    with UTC-midnight END labels on the UTC day partition grid."""
    from minerva_etl_46_spark.catalog import Trend, TrendStore, TrendStorePart
    from minerva_etl_46_spark.plans.aggregation import generate_time_rollup
    from minerva_etl_46_spark.plans.materialize import MaterializationEngine

    store = TrendStore(
        data_source="pm", entity_type="Cell", granularity="15m",
        parts=(TrendStorePart("t", (Trend("n", time_aggregation="sum"),)),),
        partition_size_seconds=3600,
    )
    raw = TrendStorePartStorage(str(tmp_path), "t_15m", partition_size_s=3600)
    rows = [(1, H0 + 900 * i, 1.0) for i in range(1, 97)]  # one full day,
    raw.write(_rows(spark, rows)                            # END-labeled grid
              .withColumnRenamed("k", "entity_id")
              .withColumnRenamed("v", "n"), ts_col="ts")
    spec = generate_time_rollup(str(tmp_path), store, "t", "1d",
                                reprocessing_period_s=10**12)
    assert spec.target.partition_size_s == 86400
    done = MaterializationEngine(str(tmp_path)).tick(spark, spec, now=4e9)
    assert done  # at least the Jan-1 day window ran
    got = {r["bucket"]: r["n"] for r in spec.target.read(spark).collect()}
    # period-END convention: the Jan-1 local(=UTC) day labels at Jan-2 00:00
    assert got[H0 + 86400] == 96.0


def test_incremental_near_dup_reingest_is_update_not_duplicate(spark):
    """A doc id in BOTH corpus and batch is an update: no self-pair, and
    the batch's text is the single copy — previously the doubled rows
    corrupted every Jaccard the doc appeared in (2I/(2X+Y−2I)) and the
    exact self-re-ingest got a 0 denominator → silently dropped."""
    from minerva_etl_46_spark.operators.dedup import incremental_near_dup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally unrelated words here okay")],
        "doc_id long, body string")
    batch = spark.createDataFrame(
        # doc 1 re-ingested verbatim; doc 3 is a true near-dup of doc 1
        [(1, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon eta")],
        "doc_id long, body string")
    out = incremental_near_dup(corpus, batch, "doc_id", "body",
                               k=16, bands=8, threshold=0.3).collect()
    pairs = {(r.a_id, r.b_id): r.jaccard for r in out}
    assert (1, 1) not in pairs          # re-ingest is not its own dup
    assert any(a == 3 and b == 1 for a, b in pairs)  # true near-dup found
    j31 = next(v for (a, b), v in pairs.items() if a == 3 and b == 1)
    # exact Jaccard of the two shingle sets, NOT the doubled-row corruption
    assert 0.3 < j31 < 1.0


def test_connected_components_raises_on_nonconvergence(spark):
    """A component with diameter past max_iter previously returned
    silently SPLIT groups (dedup under-removal with no signal)."""
    from minerva_etl_46_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    ok = connected_components(chain, max_iter=10).collect()
    assert {r.group_id for r in ok} == {0}  # one chain, one group


def test_corpus_decontamination_keeps_gramless_docs(spark):
    """A clean doc shorter than gram_n has no n-grams and CANNOT leak —
    the pipeline previously dropped it at the decontamination stage
    (semi-join on the scored set). Benchmark docs must still drop."""
    from minerva_etl_46_spark.plans.corpus import CorpusConfig, build_training_corpus

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven", False),
         (2, "tiny doc", False),                    # < gram_n tokens, clean
         (3, "the eval question text goes here now", True),   # benchmark
         (4, "the eval question text goes here now extra", False)],  # leaked
        "doc_id long, body string, is_bench boolean")
    cfg = CorpusConfig(min_tokens=2, gram_n=5, contamination_max=0.2,
                       repetition_max=1.0)
    out, stats = build_training_corpus(
        docs, F.col("is_bench"), cfg=cfg, text_col="body")
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 2 in kept           # gram-less clean doc SURVIVES
    assert 3 not in kept       # benchmark doc dropped
    assert 4 not in kept       # contaminated doc dropped


def test_evaluate_rules_rejects_empty_rule_list(spark):
    from minerva_etl_46_spark.plans.triggers import evaluate_rules

    kpi = spark.createDataFrame([(1, 0, 1.0)], "entity_id long, ts long, v double")
    with pytest.raises(ValueError, match="at least one rule"):
        evaluate_rules(kpi, [])


def test_asof_join_null_keys_get_null_attributes(spark):
    """Window.partitionBy groups NULLs together (unlike join equality),
    so NULL-keyed facts previously inherited values from NULL-keyed
    attr rows — fabricated attributes for keyless rows."""
    from minerva_etl_46_spark.operators.asof import asof_join

    facts = spark.createDataFrame(
        [(None, 100), (7, 100)], "entity_id long, fts long")
    attrs = spark.createDataFrame(
        [(None, 50, "ghost"), (7, 50, "real")],
        "entity_id long, ats long, status string")
    got = {r.fts if r.entity_id is None else r.entity_id: r.status
           for r in asof_join(facts, attrs, "entity_id", "fts", "ats",
                              ["status"]).collect()}
    assert got[7] == "real"
    assert got[100] is None    # NULL-keyed fact: left-join semantics


# -------------------------------------------- fourth review cluster (r10d)


def test_entity_rollup_first_last_is_deterministic(spark):
    """The first/last ordering struct previously held only the bucket —
    CONSTANT within each (target, bucket) group — so first/last entity
    aggregations depended on task order (the exact hazard the module
    docstring promises to prevent). The source entity id now breaks the
    tie: first = value of the smallest source id, every run."""
    from minerva_etl_46_spark.catalog import Trend
    from minerva_etl_46_spark.operators.rollup import entity_rollup

    cells = spark.createDataFrame(
        [(10, 900, 5.0), (11, 900, 7.0), (12, 900, 3.0)],
        "entity_id long, bucket long, v double",
    ).repartition(3)  # spread sources over tasks
    rel = spark.createDataFrame([(10, 1), (11, 1), (12, 1)],
                                "source_id long, target_id long")
    trends = {"v": Trend("v", entity_aggregation="first")}
    for _ in range(3):
        got = entity_rollup(cells, rel, "entity_id", "bucket",
                            trends).collect()
        assert [(r.entity_id, r.v) for r in got] == [(1, 5.0)]  # src 10's


def test_align_end_sub_second_past_grid_closes_next_period(spark):
    """A sub-second ts just past a grid point previously floored onto
    the grid point and was labeled into the PREVIOUS period, violating
    the (start, end] contract; an on-grid ts still closes itself."""
    from minerva_etl_46_spark.functions.timestamps import (
        G_15M,
        align_end,
        bucket_epoch_end,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00.5"), (2, "2024-01-01 10:00:00")],
        "k long, raw string",
    ).select("k", F.to_timestamp("raw").alias("ts"))
    got = {r.k: (r.e, r.b) for r in df.select(
        "k", align_end("ts", G_15M).alias("e"),
        bucket_epoch_end("ts", G_15M).alias("b")).collect()}
    assert got[2][1] == 1704103200          # on-grid: closes itself
    assert got[1][1] == 1704103200 + 900    # .5s past: NEXT period end
    assert got[1][0].minute == 15


def test_moving_avg_rejects_degenerate_periods(spark):
    from minerva_etl_46_spark.operators.windows import moving_avg

    df = spark.createDataFrame([(1, 1, 1.0)], "e long, ts long, v double")
    for bad in (0, -4):
        with pytest.raises(ValueError, match="periods"):
            moving_avg(df, "e", "ts", "v", periods=bad)


def test_cli_guards_csv_schema_xml_flags_and_foreign_status(spark, tmp_path,
                                                            capsys):
    """(a) csv load without --schema fails AT LOAD (rc 2), not three
    stages later with string counters; (b) xml load rejects the
    unsupported --dn-col/--ts-col flags instead of an unresolved-column
    crash; (c) status survives a foreign partition dir."""
    from minerva_etl_46_spark.cli import main

    csv = tmp_path / "pm.csv"
    csv.write_text('dn,ts,calls\n"Net=1,Cell=A",2024-01-01 00:03:00,10\n')
    assert main(["load-data", str(csv), "--base-dir", str(tmp_path),
                 "--part", "t", "--granularity", "15m"]) == 2
    assert "--schema is required" in capsys.readouterr().err
    xml = tmp_path / "x.xml"
    xml.write_text("<mdc/>")
    assert main(["load-data", str(xml), "--format", "xml",
                 "--base-dir", str(tmp_path), "--part", "t",
                 "--granularity", "15m", "--ts-col", "end_time"]) == 2
    assert "fixed to dn/ts" in capsys.readouterr().err


# --------------------------------------------- fifth review cluster (r10e)


def test_resolve_entities_null_dn_raises_and_minting_is_one_join(spark):
    """xxhash64(NULL) is the constant seed — every corrupt no-DN row
    previously minted the SAME phantom entity (id 21) and their
    measurements aggregated together. NULL dn now raises in-plan.
    Non-null resolution still works and new_entities (now derived from
    the FIRST join instead of a second anti-join) is unchanged."""
    from minerva_etl_46_spark.sources.harvest import resolve_entities

    ents = spark.createDataFrame([(5, "Cell=A")], "entity_id long, name string")
    pkg = spark.createDataFrame([("Cell=A", 1.0), ("Cell=B", 2.0)],
                                "dn string, v double")
    resolved, new = resolve_entities(pkg, ents)
    got = {r.dn: r.entity_id for r in resolved.collect()}
    assert got["Cell=A"] == 5
    assert got["Cell=B"] > 0           # minted, deterministic
    nn = new.collect()
    assert [(r.entity_id, r.name) for r in nn] == [(got["Cell=B"], "Cell=B")]
    bad = spark.createDataFrame([("Cell=A", 1.0), (None, 2.0)],
                                "dn string, v double")
    r2, _ = resolve_entities(bad, ents)
    with pytest.raises(Exception, match="NULL dn"):
        r2.collect()


def test_xml_harvest_file_isolation_modes(spark, tmp_path):
    """One truncated vendor XML previously aborted the whole fleet
    harvest after task retries; DROPMALFORMED keeps the healthy files,
    FAILFAST names the corrupt path (the avro/CSV file-granularity
    contract extended to the 3GPP path)."""
    from minerva_etl_46_spark.sources.xml3gpp import harvest_3gpp_xml

    good = tmp_path / "ok.xml"
    good.write_text(
        '<measCollecFile><measData><measInfo>'
        '<granPeriod duration="PT900S" endTime="2024-01-01T00:15:00Z"/>'
        '<measType p="1">calls</measType>'
        '<measValue measObjLdn="Cell=A"><r p="1">7</r></measValue>'
        '</measInfo></measData></measCollecFile>')
    bad = tmp_path / "trunc.xml"
    bad.write_text('<measCollecFile><measData><measInfo>')  # cut mid-doc
    paths = [str(good), str(bad)]
    with pytest.raises(Exception, match="trunc.xml"):
        harvest_3gpp_xml(spark, paths).collect()
    kept = harvest_3gpp_xml(spark, paths, mode="DROPMALFORMED").collect()
    assert [(r.dn, r.counter, r.value) for r in kept] == [
        ("Cell=A", "calls", 7.0)]
    with pytest.raises(ValueError, match="FAILFAST"):
        harvest_3gpp_xml(spark, paths, mode="PERMISSIVE")


def test_bucketed_default_db_qualified_name_location(spark):
    """Spark stores default-db managed tables at the warehouse ROOT —
    the old cleanup removed {wh}/default.db/{tbl} (nonexistent) and
    LOCATION_ALREADY_EXISTS returned for the 'default.'-qualified form
    when a previous session's files survived."""
    import os
    import shutil
    from urllib.parse import urlparse

    from minerva_etl_46_spark.sources.bucketed import write_bucketed

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    stale = os.path.join(wh, "t_r10_bucketed")
    shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(stale)  # simulate a dead session's surviving location
    open(os.path.join(stale, "junk"), "w").write("x")
    df = spark.createDataFrame([(1, 1.0)], "k long, v double")
    try:
        write_bucketed(df, "default.t_r10_bucketed", "k", 4)  # must not raise
        assert spark.table("default.t_r10_bucketed").count() == 1
    finally:
        spark.sql("drop table if exists default.t_r10_bucketed")
        shutil.rmtree(stale, ignore_errors=True)


def test_phash_band_bits_derived_and_bounded(spark):
    """band_bits derives from n_bands (a fixed default with n_bands=7
    previously shifted band 6 past the top bit — a constant all-zero
    band that cross-joined the corpus); an explicit out-of-range pair
    raises instead."""
    from minerva_etl_46_spark.operators.multimodal import phash_near_dup_pairs

    hashes = spark.createDataFrame(
        [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 60) - 1)) for i in range(8)],
        "media_id long, phash long")
    with pytest.raises(ValueError, match="does not fit"):
        phash_near_dup_pairs(hashes, n_bands=7, band_bits=10)
    # derived default (60 // 7 = 8 bits) stays in range and runs
    phash_near_dup_pairs(hashes, n_bands=7).collect()


def test_trend_query_columns_naming_keys_is_not_ambiguous(spark, tmp_path):
    """columns=ts,value is a natural client request; prepending the key
    columns blindly previously built a duplicate-named frame and the
    keyset expressions failed with AMBIGUOUS_REFERENCE (a 500)."""
    from minerva_etl_46_spark.service import TrendQuery

    st = TrendStorePartStorage(str(tmp_path), "dedup_cols",
                               partition_size_s=3600)
    st.write(_rows(spark, [(1, H0 + 60, 1.0)]).withColumnRenamed(
        "k", "entity_id"))
    q = TrendQuery(part=st, start_epoch=H0, end_epoch=H0 + 3600,
                   columns=["ts", "v", "entity_id"])
    got = q.run(spark).collect()
    assert len(got) == 1 and got[0].v == 1.0
    assert got[0].asDict().keys() == {"entity_id", "ts", "v"}


def test_bmp_decode_rejects_truncated_pixel_array():
    """A truncated BMP previously returned a confidently wrong feat_mean
    from empty scanline slices — it must fail loudly like wav_decode."""
    import struct

    from minerva_etl_46_spark.operators.multimodal import bmp_decode

    # minimal valid 2x2 24-bit BMP
    w, h = 2, 2
    row = (w * 3 + 3) // 4 * 4
    pixels = bytes(range(row * h))
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(pixels), 0, 0, 0, 0))
    ok = bmp_decode(header + pixels)
    assert ok["n_frames"] == 4 and ok["feat_mean"] > 0
    with pytest.raises(ValueError, match="truncated BMP"):
        bmp_decode(header + pixels[:-5])


def test_paio_sweeps_stale_tmp_but_not_fresh(tmp_path, monkeypatch):
    """Crash debris (.tmp older than the stale cutoff) is swept on the
    next append; a fresh .tmp (a concurrent in-flight writer) is kept."""
    import pyarrow as pa

    from minerva_etl_46_spark.sources import paio

    d = str(tmp_path / "log")
    os.makedirs(d)
    old = os.path.join(d, ".part-dead.parquet.tmp")
    fresh = os.path.join(d, ".part-live.parquet.tmp")
    open(old, "w").write("debris")
    open(fresh, "w").write("inflight")
    os.utime(old, (1, 1))  # ancient mtime
    paio.append_table(d, pa.table({"x": pa.array([1], pa.int64())}))
    assert not os.path.exists(old)
    assert os.path.exists(fresh)


# --------------------------------------------- sixth review cluster (r10f)


def test_row_hash_preimage_is_unambiguous_and_oracle_lockstep(spark):
    """The old concat_ws pre-image collided ('a|b','c') with ('a','b|c')
    and NULL with the literal sentinel — genuine attribute changes were
    silently suppressed by the SCD store. The per-column-hash pre-image
    separates all of them, and the SQL twin stays value-identical."""
    import duckdb

    from minerva_etl_46_spark.functions.hashing import row_hash, sql_row_hash

    rows = [("a|b", "c"), ("a", "b|c"), (None, "x"), ("\x01", "x"),
            ("", "x"), ("a", None)]
    df = spark.createDataFrame(rows, "p string, q string")
    got = [r.h for r in df.select(row_hash("p", "q").alias("h")).collect()]
    assert len(set(got)) == len(rows)          # no collisions
    con = duckdb.connect()
    for (p, q), h in zip(rows, got):
        sql = sql_row_hash("p", "q")
        du = con.execute(
            f"select {sql} as h from (select ? as p, ? as q)", [p, q]
        ).fetchone()[0]
        assert du == h, (p, q)                 # lockstep with the oracle


def test_attribute_ops_reject_internal_column_collisions(spark):
    """An input frame already carrying __h/__rn/__prev previously had it
    silently overwritten and then DROPPED from the output."""
    from minerva_etl_46_spark.operators.attributes import (
        latest_per_entity,
        suppress_unchanged,
    )

    df = spark.createDataFrame([(1, 1, "x", "stored")],
                               "e long, ts long, a string, __h string")
    with pytest.raises(ValueError, match="__h"):
        suppress_unchanged(df, "e", "ts", ["a"])
    df2 = spark.createDataFrame([(1, 1, 5)], "e long, ts long, __rn int")
    with pytest.raises(ValueError, match="__rn"):
        latest_per_entity(df2, "e", "ts")


def test_trend_dataclass_is_hashable_and_pg_types_fail_clearly():
    from minerva_etl_46_spark.catalog import Trend, pg_type_to_spark

    assert len({Trend("a"), Trend("a"), Trend("b")}) == 2  # hash works
    with pytest.raises(ValueError, match="unsupported PostgreSQL type"):
        pg_type_to_spark("money")
    assert pg_type_to_spark("boolean").typeName() == "boolean"
    assert pg_type_to_spark("varchar").typeName() == "string"


def test_small_literal_frame_empty_list_matches_nonempty_types(spark):
    """The empty branch previously cast the bigint range id to the dtype
    and failed analysis for types bigint can't cast to (date, arrays) —
    inconsistent with the non-empty branch."""
    from minerva_etl_46_spark.functions.frames import small_literal_frame

    for dtype, simple in (("date", "date"), ("array<long>", "array<bigint>"),
                          ("string", "string")):
        df = small_literal_frame(spark, [], "c", dtype)
        assert df.count() == 0
        assert df.schema["c"].dataType.simpleString() == simple


def test_tune_warns_when_a_correctness_conf_cannot_pin(spark):
    """A set() that silently keeps the old value means wrong timezone /
    ANSI semantics, not slowness — tune() must warn, not stay quiet."""
    import warnings

    from minerva_etl_46_spark import session as S

    class FakeConf:
        def __init__(self):
            self._d = dict(S.RUNTIME_CONFS)
            self._d["spark.sql.session.timeZone"] = "America/New_York"
            self._d["spark.sql.shuffle.partitions"] = "32"

        def set(self, k, v):
            if k == "spark.sql.session.timeZone":
                return  # admin-locked: silently ignored
            self._d[k] = v

        def get(self, k, default=None):
            return self._d.get(k, default)

    class FakeSpark:
        conf = FakeConf()

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.tune(FakeSpark())
    assert any("could not pin correctness conf" in str(x.message)
               for x in w)
    # the real session pins cleanly — no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.tune(spark)
    assert not [x for x in w if "correctness conf" in str(x.message)]


def test_tune_warns_when_a_correctness_conf_cannot_be_read():
    """A correctness conf whose value cannot be read back cannot be shown
    to have taken: tune() warns instead of skipping it."""
    import warnings

    from minerva_etl_46_spark import session as S

    class FakeConf:
        def __init__(self):
            self._d = dict(S.RUNTIME_CONFS)

        def set(self, k, v):
            self._d[k] = v

        def get(self, k, default=None):
            if k == "spark.sql.ansi.enabled":
                raise RuntimeError("conf is not readable here")
            return self._d.get(k, default)

    class FakeSpark:
        conf = FakeConf()

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        S.tune(FakeSpark())
    msgs = [str(x.message) for x in w if "correctness conf" in str(x.message)]
    assert len(msgs) == 1 and "spark.sql.ansi.enabled unreadable" in msgs[0]


def test_records_walk_null_value_is_never_a_record():
    """Arrow delivers SQL NULLs as NaN inside the state walk. A NaN
    arriving FIRST used to take the ``max_val is None`` branch: flagged
    record #1 and poisoning the running max (``value > NaN`` is False
    forever after — no entity record again, silently). The batch twin
    (win_records) treats NULL as never-a-record and F.max ignores it;
    the walk must do the same."""
    import math

    import pandas as pd

    from minerva_etl_46_spark.streaming.stateful import _records_update

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self._v = True, v

        @property
        def get(self):
            return self._v

    st = FakeState()
    (out,) = _records_update((7,), [pd.DataFrame(
        {"ts_us": [100, 200, 300],
         "event_id": [1, 2, 3],
         "value": [float("nan"), 5.0, 4.0]})], st)
    assert list(out["is_record"]) == [0, 1, 0]   # NaN: not a record
    assert list(out["record_no"]) == [0, 1, 1]
    # the max was NOT poisoned: a later higher value still breaks it
    (out2,) = _records_update((7,), [pd.DataFrame(
        {"ts_us": [400], "event_id": [4], "value": [6.0]})], st)
    assert list(out2["is_record"]) == [1]
    assert list(out2["record_no"]) == [2]
    # state carries the real max, not NaN
    max_val, n_records = st.get
    assert not math.isnan(max_val) and max_val == 6.0 and n_records == 2


def test_stream_dedup_fixture_build_survives_interrupted_prior_run(
        spark, tmp_path):
    """The dedup_src fixture is built staged + atomically renamed: a
    stale half-built staging dir from an interrupted run must be
    discarded and rebuilt, and the finished src must contain BOTH files
    (full events + the duplicate subset) — a src missing file 2 would
    silently skip the cross-batch duplicate injection."""
    import glob as _glob

    from minerva_etl_46_spark.streaming.jobs import dedup_within_watermark

    scratch = str(tmp_path)
    # r11: the cache dir is fingerprinted by the fixture's mtime+size so a
    # regenerated fixture can never serve stale files — compute the same
    # name the job will use
    fst = os.stat("/root/testdata/sf0.001/events.parquet")
    src = os.path.join(scratch,
                       f"dedup_src_{int(fst.st_mtime)}_{fst.st_size}")
    # simulate the interrupted prior run: staging dir with junk
    stale = src + "_staged"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "w") as f:
        f.write("not parquet")

    out = dedup_within_watermark(spark, "/root/testdata/sf0.001",
                                 scratch).toPandas()
    assert os.path.isdir(src)
    assert not os.path.isdir(stale)          # staging renamed away
    parts = _glob.glob(os.path.join(src, "part-*.parquet"))
    assert len(parts) == 2                   # both files present
    # semantics unchanged: output = distinct input on the key
    import duckdb

    n_distinct = duckdb.sql(
        "select count(distinct event_id) from "
        "'/root/testdata/sf0.001/events.parquet'").fetchone()[0]
    assert len(out) == n_distinct
    assert out["event_id"].is_unique


def test_stream_dedup_prune_spares_concurrent_newer_fingerprints(
        spark, tmp_path):
    """r12 ADVICE: the stale-fixture prune must remove ONLY
    strictly-older fingerprints. An equal-or-newer dedup_src_* sibling
    (or its _staged dir) may belong to a concurrent builder that was
    handed the same scratch_dir — "delete everything but mine" could
    rmtree its in-use files mid-write."""
    from minerva_etl_46_spark.streaming.jobs import dedup_within_watermark

    scratch = str(tmp_path)
    fst = os.stat("/root/testdata/sf0.001/events.parquet")
    cur_mtime = int(fst.st_mtime)
    older = os.path.join(scratch, f"dedup_src_{cur_mtime - 100}_123")
    newer = os.path.join(scratch, f"dedup_src_{cur_mtime + 100}_456")
    newer_staged = newer + "_staged"
    for d in (older, newer, newer_staged):
        os.makedirs(d)
        with open(os.path.join(d, "marker"), "w") as f:
            f.write("x")

    dedup_within_watermark(spark, "/root/testdata/sf0.001", scratch)

    assert not os.path.isdir(older)          # dead copy pruned
    assert os.path.isdir(newer)              # concurrent builder spared
    assert os.path.isdir(newer_staged)       # its mid-write staging too
