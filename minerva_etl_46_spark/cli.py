"""Command-line interface — the `minerva` CLI surface re-expressed
(SURVEY.md §0 "Administer", §3; [ref: minerva-etl src/commands/* —
UNVERIFIED [M]]).

Subcommands mirror the reference verbs a migrating user runs today:

  load-data     harvest a vendor CSV / 3GPP XML file into a trend store
                (entity resolution + grid alignment + partitioned upsert)
  materialize   one daemon tick for a registered materialization spec
                (python path `module:attribute`)
  trigger       run trigger rules from an instance YAML over a KPI dataset,
                append notifications
  diff          diff two instance-definition YAMLs → typed change list
  retention     drop partitions older than N days from a store part
  fuzzy-match   blocked entity resolution: best levenshtein match of
                an input column against a reference dimension

python -m minerva_etl_46_spark.cli <subcommand> --help
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

from minerva_etl_46_spark.functions.timestamps import GRANULARITIES


def _spark(args):
    from minerva_etl_46_spark.session import get_spark

    return get_spark(app_name=f"minerva-cli-{args.cmd}")


def cmd_load_data(args) -> int:
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.sources.harvest import (
        align_package,
        read_csv_harvest,
        resolve_entities,
    )
    from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

    spark = _spark(args)
    store = TrendStorePartStorage(args.base_dir, args.part,
                                  partition_size_s=args.partition_size)
    if args.format == "csv":
        if not args.schema:
            # schema-declared discipline: inference-free CSV would land
            # all-string counters that rollups then NULL out on cast
            # (r10 review) — fail at load, not three stages later
            print("--schema is required for --format csv", file=sys.stderr)
            return 2
        pkg = read_csv_harvest(spark, args.file, schema=args.schema)
    else:
        from minerva_etl_46_spark.sources.xml3gpp import harvest_3gpp_xml

        if args.dn_col != "dn" or args.ts_col != "ts":
            # the 3GPP pivot emits fixed (dn, ts) columns; silently
            # accepting the flags would fail later with an unresolved
            # column (r10 review)
            print("--dn-col/--ts-col are fixed to dn/ts for --format xml",
                  file=sys.stderr)
            return 2
        long_rows = harvest_3gpp_xml(spark, [args.file])
        # max: deterministic under shuffle when duplicate (dn, ts, counter)
        # rows appear across files (rollup.py's first()/last() caveat).
        pkg = (
            long_rows.groupBy("dn", "ts").pivot("counter")
            .agg(F.max("value"))
            .withColumn("ts", F.to_timestamp("ts"))
        )
    entities_store = f"{args.base_dir}/_entities"
    entity_schema = "entity_id long, name string"
    # explicit existence check, NOT try/except: a bare except here turned
    # a corrupt footer / permission error into "empty directory", minting
    # fresh hash ids for every DN and silently splitting entity history
    # across two ids (r10 review) — real read failures must surface
    if os.path.isdir(entities_store) and any(
        not e.startswith("_") for e in os.listdir(entities_store)
    ):
        entities = spark.read.schema(entity_schema).parquet(entities_store)
    else:
        entities = spark.createDataFrame([], schema=entity_schema)
    resolved, new_ents = resolve_entities(pkg, entities, dn_col=args.dn_col)
    # bounded-by: the package's unseen DNs; a load of known cells adds no file
    minted = new_ents.collect()
    if minted:
        import pyarrow as pa

        from minerva_etl_46_spark.sources.paio import append_table

        append_table(entities_store, pa.table({
            "entity_id": pa.array([r[0] for r in minted], pa.int64()),
            "name": pa.array([r[1] for r in minted], pa.string()),
        }))
    resolved = resolved.withColumn("raw_ts", F.col(args.ts_col))
    aligned = align_package(resolved, args.ts_col, GRANULARITIES[args.granularity])
    value_cols = [c for c in aligned.columns
                  if c not in (args.dn_col, args.ts_col, "raw_ts")]
    touched = store.upsert(
        aligned.select("entity_id", args.ts_col, "raw_ts",
                       *[c for c in value_cols if c != "entity_id"]),
        keys=["entity_id", args.ts_col],
        version_cols=["raw_ts"],
        ts_col=args.ts_col,
    )
    print(json.dumps({"loaded": args.file, "touched_partitions": touched}))
    return 0


def cmd_materialize(args) -> int:
    from minerva_etl_46_spark.plans.materialize import MaterializationEngine

    spark = _spark(args)
    if args.root:
        # r6: tick every ladder materialization the live instance declares
        # (time_aggregations blocks) — the daemon loop's one-shot form
        from minerva_etl_46_spark.instance import load_live
        from minerva_etl_46_spark.plans.aggregation import specs_from_instance

        out = {}
        for spec in specs_from_instance(args.root, load_live(args.root)):
            engine = MaterializationEngine(spec.sources[0].base_dir)
            out[spec.name] = engine.tick(spark, spec)
        print(json.dumps({"materialized_windows": out}))
        return 0
    if not (args.spec and args.base_dir):
        print("materialize needs either --root or (--spec and --base-dir)")
        return 2
    mod, attr = args.spec.split(":", 1)
    spec = getattr(importlib.import_module(mod), attr)
    if callable(spec):
        spec = spec(args.base_dir)
    engine = MaterializationEngine(args.base_dir)
    done = engine.tick(spark, spec)
    print(json.dumps({"materialized_windows": done}))
    return 0


def cmd_trigger(args) -> int:
    from minerva_etl_46_spark.instance import instance_from_yaml
    from minerva_etl_46_spark.plans.triggers import evaluate_rules
    from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

    spark = _spark(args)
    inst = instance_from_yaml(open(args.instance).read())
    rules = [r for r in inst.triggers if not args.rule or r.name == args.rule]
    if not rules:
        print(f"no matching trigger rules in {args.instance}", file=sys.stderr)
        return 2
    kpi = spark.read.parquet(args.kpi)
    notes = evaluate_rules(kpi, rules, entity_col=args.entity_col,
                           ts_col=args.ts_col)
    # cut lineage before write + count: without it the count() re-ran the
    # whole KPI scan + per-rule union a second time for one stat line
    # (r10 review — the same discipline line 89 documents)
    notes = notes.localCheckpoint(eager=True)
    store = TrendStorePartStorage(args.base_dir, args.notification_store)
    store.write(notes, ts_col=args.ts_col)
    print(json.dumps({"notifications": notes.count(),
                      "rules": [r.name for r in rules]}))
    return 0


def cmd_diff(args) -> int:
    from minerva_etl_46_spark.instance import diff_instances, instance_from_yaml

    cur = instance_from_yaml(open(args.current).read())
    want = instance_from_yaml(open(args.desired).read())
    for change in diff_instances(cur, want):
        print(f"{type(change).__name__}: {change}")
    return 0


def cmd_apply(args) -> int:
    """The reference CLI's defining admin loop: diff the live instance
    against a desired YAML, execute the delta, persist. Prints one line
    per executed change; exits 0 with no output when already converged."""
    from minerva_etl_46_spark.instance import apply_instance, instance_from_yaml

    desired = instance_from_yaml(open(args.desired).read())
    for change in apply_instance(args.root, desired):
        print(f"{type(change).__name__}: {change}")
    return 0


def cmd_status(args) -> int:
    """Operator's one-glance view of a live root: declared stores and
    ladders, per-part partition counts and epoch span, modified-log
    freshness. Pure filesystem walk — no Spark session, instant."""
    from minerva_etl_46_spark.instance import (
        _store_key,
        load_live,
        store_base_dir,
    )

    live = load_live(args.root)
    out: dict = {"root": args.root, "trend_stores": []}
    for store in live.trend_stores:
        key = _store_key(store)
        base = store_base_dir(args.root, key)
        parts = []
        if os.path.isdir(base):
            for entry in sorted(os.listdir(base)):
                pdir = os.path.join(base, entry)
                if not os.path.isdir(pdir) or entry.startswith("_"):
                    continue
                from minerva_etl_46_spark.sources.trendstore import (
                    _int_bucket_dirs,
                )

                # shared helper: a foreign p_bucket dir (non-integer
                # value) must not crash status for the whole root
                buckets = sorted(b for b, _ in _int_bucket_dirs(pdir))
                parts.append({
                    "part": entry,
                    "partitions": len(buckets),
                    "span": [buckets[0], buckets[-1]] if buckets else None,
                })
        out["trend_stores"].append({
            "store": key,
            "time_aggregations": list(store.time_aggregations),
            "entity_aggregations": [
                {"relation": ea.relation, "suffix": ea.suffix}
                for ea in store.entity_aggregations],
            "retention_days": store.retention_days,
            "parts": parts,
        })
    out["attribute_stores"] = [
        f"{a.data_source}/{a.entity_type}" for a in live.attribute_stores]
    out["triggers"] = [t.name for t in live.triggers]
    print(json.dumps(out, indent=2))
    return 0


def cmd_plan(args) -> int:
    """Print the SCALE.md capacity arithmetic for a deployment shape."""
    from minerva_etl_46_spark.plans.sizing import ClusterShape, size_plan

    plan = size_plan(
        total_tb=args.tb,
        retention_days=args.retention_days,
        entities=args.entities,
        cluster=ClusterShape(executors=args.executors,
                             cores_per_executor=args.cores,
                             mem_gib_per_executor=args.mem_gib),
    )
    print(json.dumps(plan.to_dict(), indent=2))
    return 0


def cmd_serve(args) -> int:
    """Run the HTTP data service until interrupted. Prints the bound
    address (port=0 → ephemeral) as its first line so scripts can
    scrape it."""
    from minerva_etl_46_spark.service_http import make_server
    from minerva_etl_46_spark.session import get_spark

    spark = get_spark(app_name="minerva-serve")
    srv = make_server(spark, args.base_dir, port=args.port,
                      partition_size_s=args.partition_size_seconds)
    host, port = srv.server_address
    print(f"serving http://{host}:{port}", flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.shutdown()
    return 0


def cmd_retention(args) -> int:
    import time

    from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

    store = TrendStorePartStorage(args.base_dir, args.part)
    cutoff = int(time.time()) - args.days * 86400
    dropped = store.apply_retention(cutoff)
    print(json.dumps({"dropped_partitions": dropped}))
    return 0


def cmd_compact(args) -> int:
    from minerva_etl_46_spark.sources.trendstore import (
        TrendStorePartStorage,
        compact_partitions,
    )

    store = TrendStorePartStorage(args.base_dir, args.part)
    done = compact_partitions(store, _spark(args),
                              target_files_per_partition=args.target_files)
    print(json.dumps({"compacted_partitions": done}))
    return 0


def cmd_corpus(args) -> int:
    """End-to-end training-corpus build (plans/corpus.py): dedup →
    decontaminate → quality → split/shard → partitioned parquet."""
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.plans.corpus import (
        CorpusConfig,
        build_training_corpus,
    )

    spark = _spark(args)
    docs = spark.read.parquet(args.docs).select(args.id_col, args.text_col)
    bench_pred = F.expr(args.bench_pred)
    cfg = CorpusConfig(
        contamination_max=args.contamination_max,
        repetition_max=args.repetition_max,
        min_tokens=args.min_tokens,
        n_shards=args.shards,
    )
    _, stats = build_training_corpus(
        docs, bench_pred=bench_pred, out_dir=args.out, cfg=cfg,
        id_col=args.id_col, text_col=args.text_col,
    )
    print(json.dumps({"stages": stats.counts, "out": args.out}))
    return 0


def cmd_profile(args) -> int:
    """Ingest QA: per-column profile of any parquet table (one scan)."""
    from minerva_etl_46_spark.operators.profile import profile_table

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cols = args.cols.split(",") if args.cols else None
    rows = profile_table(df, cols).orderBy("col_name").collect()
    # bounded-by: one row per profiled column
    print(json.dumps({"table": args.table, "columns": [r.asDict() for r in rows]}))
    return 0


def cmd_skew(args) -> int:
    """Pre-join audit: hottest key + skew ratio per candidate key col."""
    from minerva_etl_46_spark.operators.profile import skew_report

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    rows = skew_report(df, args.keys.split(",")).orderBy("col_name").collect()
    # bounded-by: one row per audited key column
    print(json.dumps({"table": args.table, "keys": [r.asDict() for r in rows]}))
    return 0


def cmd_fuzzy_match(args) -> int:
    """Entity resolution: best fuzzy match of an input column against a
    reference dimension (operators/fuzzyjoin.py — blocked, never
    all-pairs). Writes the matched frame; prints match statistics."""
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.operators.fuzzyjoin import blocked_fuzzy_join

    spark = _spark(args)
    probes = spark.read.parquet(args.input)
    dim = spark.read.parquet(args.dim)
    matched = blocked_fuzzy_join(
        probes, dim,
        probe_name_col=args.input_col, dim_name_col=args.dim_col,
        dim_key_col=args.dim_key,
        max_distance=args.max_distance, prefix_len=args.prefix_len,
        # fixed output names: immune to --input-col == --dim-col (the
        # common case) and to probe frames already carrying key/lev
        # columns
        out_key_col="match_key", out_name_col="match_name",
        out_dist_col="match_lev",
    )
    matched.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    # bounded-by: a handful of scalar aggregates
    stats = back.agg(
        F.count(F.lit(1)).alias("matched"),
        F.avg("match_lev").alias("avg_distance"),
        F.sum(F.when(F.col("match_lev") == 0, 1).otherwise(0))
        .alias("exact"),
    ).first()
    total = probes.count()
    print(json.dumps({
        "input_rows": total,
        "matched": stats["matched"],
        "unmatched": total - stats["matched"],
        "exact": int(stats["exact"] or 0),
        "avg_distance": stats["avg_distance"],
        "out": args.out,
    }))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="minerva-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ld = sub.add_parser("load-data", help="harvest a vendor file into a trend store")
    ld.add_argument("file")
    ld.add_argument("--format", choices=["csv", "xml"], default="csv")
    ld.add_argument("--schema", help="CSV schema DDL (required for csv)")
    ld.add_argument("--base-dir", required=True)
    ld.add_argument("--part", required=True)
    ld.add_argument("--granularity", default="15m", choices=sorted(GRANULARITIES))
    ld.add_argument("--partition-size", type=int, default=86400)
    ld.add_argument("--dn-col", default="dn")
    ld.add_argument("--ts-col", default="ts")
    ld.set_defaults(fn=cmd_load_data)

    mt = sub.add_parser("materialize", help="run one materialization tick")
    mt.add_argument("--base-dir")
    mt.add_argument("--spec",
                    help="python path module:attr of a MaterializationSpec "
                         "(or factory taking base_dir)")
    mt.add_argument("--root",
                    help="live instance root: tick every YAML-declared "
                         "time_aggregations ladder instead of one --spec")
    mt.set_defaults(fn=cmd_materialize)

    tr = sub.add_parser("trigger", help="evaluate trigger rules → notifications")
    tr.add_argument("--instance", required=True, help="instance YAML with triggers")
    tr.add_argument("--rule", help="run only this rule")
    tr.add_argument("--kpi", required=True, help="parquet path of the KPI frame")
    tr.add_argument("--base-dir", required=True)
    tr.add_argument("--notification-store", default="notifications")
    tr.add_argument("--entity-col", default="entity_id")
    tr.add_argument("--ts-col", default="ts")
    tr.set_defaults(fn=cmd_trigger)

    df = sub.add_parser("diff", help="diff two instance YAMLs")
    df.add_argument("current")
    df.add_argument("desired")
    df.set_defaults(fn=cmd_diff)

    ap = sub.add_parser("apply", help="apply a desired instance YAML to a live root")
    ap.add_argument("--root", required=True)
    ap.add_argument("desired")
    ap.set_defaults(fn=cmd_apply)

    stt = sub.add_parser("status", help="inspect a live instance root")
    stt.add_argument("--root", required=True)
    stt.set_defaults(fn=cmd_status)

    pl = sub.add_parser("plan", help="capacity sizing for a deployment")
    pl.add_argument("--tb", type=float, required=True)
    pl.add_argument("--retention-days", type=int, default=365)
    pl.add_argument("--entities", type=int, default=10_000_000)
    pl.add_argument("--executors", type=int, default=1000)
    pl.add_argument("--cores", type=int, default=4)
    pl.add_argument("--mem-gib", type=int, default=16)
    pl.set_defaults(fn=cmd_plan)

    sv = sub.add_parser("serve", help="run the HTTP data-service API")
    sv.add_argument("--base-dir", required=True)
    sv.add_argument("--port", type=int, default=0)
    sv.add_argument("--partition-size-seconds", type=int, default=86400)
    sv.set_defaults(fn=cmd_serve)

    rt = sub.add_parser("retention", help="drop partitions past retention")
    rt.add_argument("--base-dir", required=True)
    rt.add_argument("--part", required=True)
    rt.add_argument("--days", type=int, required=True)
    rt.set_defaults(fn=cmd_retention)

    cp = sub.add_parser("compact", help="rewrite small-file partitions")
    cp.add_argument("--base-dir", required=True)
    cp.add_argument("--part", required=True)
    cp.add_argument("--target-files", type=int, default=1)
    cp.set_defaults(fn=cmd_compact)

    co = sub.add_parser("corpus", help="build a training corpus "
                        "(dedup → decontaminate → quality → shard)")
    co.add_argument("--docs", required=True, help="input documents parquet")
    co.add_argument("--out", required=True, help="output dir "
                    "(parquet partitioned by split, shard)")
    co.add_argument("--bench-pred", required=True,
                    help="SQL predicate selecting benchmark docs, "
                         "e.g. 'doc_id %% 97 = 0'")
    co.add_argument("--id-col", default="doc_id")
    co.add_argument("--text-col", default="text")
    co.add_argument("--contamination-max", type=float, default=0.2)
    co.add_argument("--repetition-max", type=float, default=0.6)
    co.add_argument("--min-tokens", type=int, default=5)
    co.add_argument("--shards", type=int, default=16)
    co.set_defaults(fn=cmd_corpus)

    pf = sub.add_parser("profile", help="per-column profile of a parquet "
                        "table (rows, nulls, distinct, min/max)")
    pf.add_argument("--table", required=True, help="parquet path")
    pf.add_argument("--cols", default=None,
                    help="comma-separated subset (default: all columns)")
    pf.set_defaults(fn=cmd_profile)

    fm = sub.add_parser("fuzzy-match", help="best fuzzy match of an input "
                        "column against a reference dimension (blocked "
                        "levenshtein, never all-pairs)")
    fm.add_argument("--input", required=True, help="probe parquet path")
    fm.add_argument("--input-col", required=True, help="probe name column")
    fm.add_argument("--dim", required=True, help="dimension parquet path")
    fm.add_argument("--dim-col", required=True, help="dimension name column")
    fm.add_argument("--dim-key", required=True, help="dimension key column "
                    "(tie-break; payload re-join key)")
    fm.add_argument("--out", required=True, help="output parquet path")
    fm.add_argument("--max-distance", type=int, default=2)
    fm.add_argument("--prefix-len", type=int, default=4)
    fm.set_defaults(fn=cmd_fuzzy_match)

    sk = sub.add_parser("skew", help="join-key skew audit (hottest key, "
                        "max-vs-uniform ratio) per key column")
    sk.add_argument("--table", required=True, help="parquet path")
    sk.add_argument("--keys", required=True,
                    help="comma-separated candidate key columns")
    sk.set_defaults(fn=cmd_skew)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
