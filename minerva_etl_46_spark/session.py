"""SparkSession construction + runtime conf pinning.

The driver hands us its own SparkSession for ``queries()`` calls, so any
conf the engine depends on for *correctness* must be settable at runtime
(SQLConf), not only at session build time. ``tune()`` pins those.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime (SQLConf) settings every query builder depends on.
#: - UTC session timezone: oracle parity with DuckDB's naive timestamps
#:   (SURVEY.md §1.2 "Timestamp semantics").
#: - ANSI off: Minerva/PostgreSQL-style NULL-on-bad-input KPI math is
#:   emulated explicitly with guards; ANSI-on would turn residual edge
#:   cases (overflow, bad casts) into job-killing errors mid-gate.
#:   Documented deliberately per SURVEY.md §7 hard-part (c).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 rejects parquet INT64 TIMESTAMP(NANOS) outright; read ns as
    # long and convert to µs timestamps in the loader (sources/parquet.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(isAdjustedToUTC=0) would surface as TIMESTAMP_NTZ,
    # which Spark 4 refuses to cast to numeric (every epoch-bucket helper
    # would break). Read it as plain TIMESTAMP instead — an identity under
    # the pinned UTC session timezone, and exactly what DuckDB sees.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # In-process frames (createDataFrame from naive datetimes) must surface
    # LTZ too, so trendstore/materialize see one timestamp type everywhere.
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}

#: The subset of RUNTIME_CONFS whose value changes RESULTS, not speed —
#: a set() that silently fails on a locked-down cluster must WARN, never
#: quietly compute in the wrong timezone / ANSI mode (r10 review). The
#: AQE knobs stay best-effort.
_CORRECTNESS_CONFS = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.timestampType",
    "spark.sql.ansi.enabled",
)


def tune(spark: SparkSession) -> SparkSession:
    """Pin runtime confs this engine's semantics depend on. Idempotent.

    Also right-sizes spark.sql.shuffle.partitions when the session still
    carries the stock 200: on a local driver session that means 200 tiny
    tasks per exchange (AQE coalesces batch plans, but streaming state
    stores don't); match core count instead. A real cluster submitter that
    set its own value is left untouched."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on some build — never fail a query over tuning
    # verify the CORRECTNESS subset actually took: an admin-restricted
    # conf that silently kept its old value means wrong buckets/oracle
    # divergence, not slowness — warn loudly (not raise: the caller may
    # knowingly run a compatible value)
    drifted = []
    for k in _CORRECTNESS_CONFS:
        try:
            got = spark.conf.get(k)
        except Exception as exc:  # unreadable: cannot show it took
            drifted.append(f"{k} unreadable ({type(exc).__name__}: {exc})")
            continue
        if str(got).lower() != RUNTIME_CONFS[k].lower():
            drifted.append(f"{k}={got!r} (want {RUNTIME_CONFS[k]!r})")
    if drifted:
        import warnings

        warnings.warn(
            "tune() could not pin correctness conf(s): "
            + "; ".join(drifted)
            + " — results may diverge (timezone/ANSI/timestamp semantics)",
            stacklevel=2)
    try:
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(min(32, os.cpu_count() or 8))
            )
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "minerva-etl-46-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession sized for this host.

    Designed for local[N] testing; on a real cluster the same confs apply
    except master/memory, which the submitter owns.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
