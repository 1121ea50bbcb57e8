"""Trend-store storage: time-partitioned Parquet datasets (SURVEY.md §1 D3/
D4, §2.1 S4–S6).

The reference stores trend data in PostgreSQL tables partitioned by
timestamp range (`partition_size`), with retention dropping old partitions
[ref: trend_directory partitioning — UNVERIFIED [H]]. Here a trend store
part is a Parquet dataset partitioned by ``p_bucket`` (epoch-seconds of the
partition start):

- **writes** use dynamic partition overwrite: a batch only rewrites the
  partitions its rows touch — the upsert unit, and the reason the
  keep-latest window in operators/upsert.py stays bounded at 100 TB.
- **reads** are directory-scoped: the driver lists the part's
  ``p_bucket=`` directories and hands Spark only those in range (no file
  listing outside it), with the data schema the writers recorded in
  ``_part_meta.json`` (no schema-inference job). The p_bucket range
  predicate stays on the frame, so the plan still shows it as Catalyst
  PartitionFilters.
- **retention** is a partition-directory drop, never a data rewrite.
- every write appends to a modified-log (S5) — the signal the
  materialization engine's fingerprints consume.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

MODIFIED_LOG = "_modified_log"
#: per-part metadata written alongside the data (underscore-prefixed, so
#: Spark's parquet reader ignores it). The partition grid is a property
#: of the DATA, not of whoever constructs a storage handle: a server
#: configured with the wrong partition_size_s would silently prune away
#: existing partitions on range reads (r10 review). Writers record the
#: grid here; readers open with ``TrendStorePartStorage.open`` to get it.
#: Writers also record the union of the data columns they wrote (without
#: p_bucket, whose type partition inference decides): reads pass it to
#: Spark instead of inferring a schema, and a column one write added
#: reads as NULL in the partitions written before it.
PART_META = "_part_meta.json"


def _read_meta(part_path: str) -> dict:
    """The part's recorded metadata; {} for a part written before it
    existed."""
    p = os.path.join(part_path, PART_META)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def _union_schema(part: str, recorded: StructType,
                  incoming: StructType) -> StructType:
    """Recorded columns first, then incoming columns not yet recorded.
    Names match case-insensitively, as Spark resolves them; a column
    whose type differs from the recorded one is refused."""
    fields = list(recorded.fields)
    known = {f.name.lower(): f for f in fields}
    for f in incoming.fields:
        if f.name == "p_bucket":
            continue
        have = known.get(f.name.lower())
        if have is None:
            fields.append(StructField(f.name, f.dataType, True))
            known[f.name.lower()] = fields[-1]
        elif have.dataType != f.dataType:
            raise ValueError(
                f"part {part!r}: column {f.name!r} is recorded as "
                f"{have.dataType.simpleString()}, this write has "
                f"{f.dataType.simpleString()} — cast it upstream (write "
                "rejected before any data landed)")
    return StructType(fields)


#: (min, max) of a set of timestamps, in epoch microseconds
Span = tuple[int, int]


def ts_span(ts_col: str) -> list[Column]:
    """The aggregates giving a group's ``Span`` of ``ts_col``: its min and
    max in epoch microseconds, through TIMESTAMP as ``bucket_of`` reads
    it (a long column counts seconds)."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return [F.min(us), F.max(us)]


def bucket_of(ts_col: str, partition_size_s: int):
    # route through TIMESTAMP first: NTZ-typed in-process frames can't cast
    # straight to long in Spark 4 (see functions/timestamps.ensure_timestamp)
    return (F.floor(F.col(ts_col).cast("timestamp").cast("long") / partition_size_s)
            * partition_size_s).cast("long")


@dataclass
class TrendStorePartStorage:
    """One trend-store part = one partitioned Parquet dataset."""

    base_dir: str
    name: str
    partition_size_s: int = 86400
    #: write fan-out per partition bucket. 1 (default) routes each bucket
    #: to exactly one task — one file per bucket per write, maximum
    #: cross-bucket parallelism (a multi-day backfill writes all days in
    #: parallel). Raise for a HUGE single-bucket batch (one day of a
    #: 100 TB feed): >1 adds an intra-bucket salt so the bucket's rows
    #: spread over N tasks/files.
    files_per_partition: int = 1

    @property
    def path(self) -> str:
        return os.path.join(self.base_dir, self.name)

    @property
    def modified_log_path(self) -> str:
        return os.path.join(self.base_dir, MODIFIED_LOG, self.name)

    @property
    def meta_path(self) -> str:
        return os.path.join(self.path, PART_META)

    @classmethod
    def open(cls, base_dir: str, name: str,
             default_partition_size_s: int = 86400, **kw) -> TrendStorePartStorage:
        """Construct a handle whose partition grid comes from the part's
        OWN metadata when present (falling back to the default for parts
        written before metadata existed). Services must use this instead
        of guessing a size: read_window with a smaller-than-actual size
        computes a range floor ABOVE the real partition start and
        silently prunes away existing rows."""
        meta = _read_meta(os.path.join(base_dir, name))
        size = int(meta.get("partition_size_s", default_partition_size_s))
        return cls(base_dir, name, partition_size_s=size, **kw)

    def _ensure_meta(self, spark: SparkSession, schema: StructType) -> None:
        """Record the partition grid and the union of the data columns
        with the data (atomic replace), before the data lands. A writer
        configured with a DIFFERENT grid than the recorded one would
        interleave misaligned partitions, and one that re-types a
        recorded column would leave partitions no single schema reads —
        refuse both loudly."""
        meta = _read_meta(self.path)
        recorded = int(meta.get("partition_size_s", self.partition_size_s))
        if recorded != self.partition_size_s:
            raise ValueError(
                f"part {self.name!r} was written with "
                f"partition_size_s={recorded}; this handle says "
                f"{self.partition_size_s} — mixed grids corrupt range "
                "reads. Open the part with TrendStorePartStorage.open")
        if "schema" in meta:
            known = StructType.fromJson(meta["schema"])
        elif os.path.isdir(self.path) and next(_int_bucket_dirs(self.path), None):
            # written before schemas were recorded: start from the
            # schema reads inferred until now
            known = _union_schema(self.name, StructType(),
                                  spark.read.parquet(self.path).schema)
        else:
            known = StructType()
        new = {"partition_size_s": self.partition_size_s,
               "schema": _union_schema(self.name, known, schema).jsonValue()}
        if new == meta:
            return
        os.makedirs(self.path, exist_ok=True)
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(new, fh)
        os.replace(tmp, self.meta_path)

    def write(self, df: DataFrame, ts_col: str = "ts", job_id: int | None = None,
              touched: dict[int | None, Span | None] | None = None) -> list[int]:
        """Dynamic-partition-overwrite write; returns touched p_buckets and
        appends them to the modified log.

        An overwrite replaces whatever its buckets held, so each bucket is
        logged with the span of ``df``'s rows there widened by the spans
        the bucket's earlier log entries record: together they cover every
        row the write can have added or removed.

        ``touched``: {p_bucket: ``ts_span`` of ``df``'s rows there} (the
        key None for a NULL timestamp) from a caller that has already
        collected it. It must cover every bucket ``df`` reaches; a listed
        bucket without rows is logged, not rewritten. Left out, it is
        collected here (``_spans_of``)."""
        if touched is None:
            touched = self._spans_of(df, ts_col)
        return self._overwrite(df, ts_col, job_id, self._with_replaced(touched))

    def _spans_of(self, df: DataFrame, ts_col: str) -> dict[int | None, Span]:
        """{p_bucket: span of ``df``'s timestamps there}: one column-pruned
        job. A NULL timestamp gives the key None."""
        # bounded-by: distinct partition buckets of ONE batch (≤ batch span / partition_size)
        return {b: (lo, hi) for b, lo, hi in df.groupBy(
            bucket_of(ts_col, self.partition_size_s)).agg(*ts_span(ts_col)).collect()}

    def _with_replaced(self, spans: dict[int | None, Span | None]
                       ) -> dict[int | None, Span | None]:
        """``spans`` widened by the spans already logged for each bucket;
        a bucket with an entry that records none stays whole."""
        out = dict(spans)
        for b, lo, hi, _, _ in self.modified_spans():
            if b in out:
                out[b] = span_union(out[b], None if lo is None else (lo, hi))
        return out

    def _overwrite(self, df: DataFrame, ts_col: str, job_id: int | None,
                   spans: dict[int | None, Span | None]) -> list[int]:
        """Overwrite the buckets ``spans`` lists with ``df``'s rows, then
        log each with its span (None: the whole bucket)."""
        spark = df.sparkSession
        out = df.withColumn("p_bucket", bucket_of(ts_col, self.partition_size_s))
        if None in spans:
            # a NULL timestamp has no partition: letting it through writes
            # a __HIVE_DEFAULT_PARTITION__ directory the time-grid
            # bookkeeping (modified log, retention, compaction) cannot
            # attribute, and _log_modified would crash AFTER the data
            # landed. Reject BEFORE anything is written.
            raise ValueError(
                f"part {self.name!r}: {ts_col} contains NULLs — rows "
                "without a timestamp have no partition; filter or repair "
                "them upstream (write rejected before any data landed)")
        self._ensure_meta(spark, out.schema)
        # co-locate each bucket's rows before partitionBy: without this,
        # every input task opens a writer per bucket it sees — T input
        # tasks × B buckets small files, and a single-file source writes
        # ALL buckets serially in one task. With it, bucket count (times
        # the salt fan-out) is the write parallelism AND the file count.
        # explicit numPartitions (known driver-side from `spans`): an
        # unnumbered repartition lets AQE coalesce the tiny-batch case
        # back to 1-2 tasks, serializing one directory write per bucket
        n_parts = max(1, len(spans)) * self.files_per_partition
        if self.files_per_partition > 1:
            salted = out.withColumn(
                "_w_salt",
                F.pmod(F.hash(*[c for c in df.columns]),
                       F.lit(self.files_per_partition)))
            out = salted.repartition(
                n_parts, "p_bucket", "_w_salt").drop("_w_salt")
        else:
            out = out.repartition(n_parts, "p_bucket")
        # per-write option, not session conf: mutating the session would
        # silently flip every later overwrite on this session to dynamic
        (out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_bucket").parquet(self.path))
        self._log_modified(spans, job_id)
        return sorted(spans)

    def _log_modified(self, spans: dict[int, Span | None],
                      job_id: int | None) -> None:
        """Append one log entry per bucket, with the span of timestamps
        the write changed there (None: the whole bucket). Driver-side
        bookkeeping bounded by the touched buckets; see sources/paio.py
        for why this bypasses spark.createDataFrame."""
        import pyarrow as pa

        from minerva_etl_46_spark.sources.paio import append_table

        now = time.time()
        buckets = list(spans)
        append_table(self.modified_log_path, pa.Table.from_pydict({
            "part": [self.name] * len(buckets),
            "p_bucket": [int(b) for b in buckets],
            "modified_at": [now] * len(buckets),
            "job_id": [job_id] * len(buckets),
            "ts_min_us": [None if spans[b] is None else spans[b][0] for b in buckets],
            "ts_max_us": [None if spans[b] is None else spans[b][1] for b in buckets],
        }, schema=_log_schema()))

    def modified_spans(self) -> list[tuple[int, int | None, int | None, int, float]]:
        """(p_bucket, ts_min_us, ts_max_us, log entries, latest
        modified_at) per distinct bucket and span in the modified log,
        read on the driver: the log is bookkeeping bounded by the buckets
        written within retention, so the materialization engine's
        candidate scan runs no Spark job. The span is None for a whole-
        bucket entry (a stale-partition delete, or an entry written
        before spans were logged). Same rows as a ``groupBy("p_bucket",
        "ts_min_us", "ts_max_us")`` over ``modified_log(spark)``."""
        if not os.path.isdir(self.modified_log_path):
            return []
        import pyarrow.dataset as ds

        # the fixed schema: no inference, an entry written before the span
        # columns existed reads them as NULL, and a log directory holding
        # no file yet reads as empty; dot- and underscore-prefixed entries
        # (paio's staged .tmp files) are skipped, as Spark skips them
        log = ds.dataset(self.modified_log_path, schema=_log_schema(),
                         format="parquet").to_table(
                             columns=["p_bucket", "ts_min_us", "ts_max_us",
                                      "modified_at"])
        grouped = log.group_by(["p_bucket", "ts_min_us", "ts_max_us"]).aggregate(
            [("modified_at", "max"), ([], "count_all")])
        return list(zip(grouped["p_bucket"].to_pylist(),
                        grouped["ts_min_us"].to_pylist(),
                        grouped["ts_max_us"].to_pylist(),
                        grouped["count_all"].to_pylist(),
                        grouped["modified_at_max"].to_pylist()))

    def upsert(self, staged: DataFrame, keys: list[str], version_cols: list[str],
               ts_col: str = "ts", job_id: int | None = None) -> list[int]:
        """S4: transfer_staged semantics — merge staged rows into the
        partitions they touch, last-write-wins per key.

        Reads ONLY the touched partition directories, merges via
        the keep-latest window, localCheckpoints to cut lineage (Spark
        cannot overwrite a path it is still reading), then dynamic-
        overwrites those partitions. Work ∝ staged data + touched
        partitions, independent of total store size."""
        from minerva_etl_46_spark.operators.upsert import upsert_latest

        spark = staged.sparkSession
        touched = self._spans_of(staged, ts_col)
        existing = None
        if os.path.isdir(self.path) and any(
            e.startswith("p_bucket=") for e in os.listdir(self.path)
        ):
            existing = self._read_partitions(
                spark, touched.__contains__,
                F.col("p_bucket").isin(list(touched))).drop("p_bucket")
        merged = upsert_latest(existing, staged, keys=keys, version_cols=version_cols)
        merged = merged.localCheckpoint(eager=True)
        # keep-latest leaves rows only in staged's buckets (existing rows
        # are read from those alone), so staged's buckets cover merged's.
        # With the timestamp among the keys a staged row replaces only
        # the row at its own timestamp and every other row is rewritten
        # unchanged, so staged's spans cover the change; without it a
        # staged row may replace one anywhere in its bucket.
        if ts_col not in keys:
            touched = dict.fromkeys(touched)
        return self._overwrite(merged, ts_col, job_id, touched)

    def _reader(self, spark: SparkSession):
        """A parquet reader carrying the recorded data schema; a part
        written before schemas were recorded is inferred as before."""
        reader = spark.read
        schema = _read_meta(self.path).get("schema")
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader

    def read(self, spark: SparkSession) -> DataFrame:
        return self._reader(spark).parquet(self.path)

    def _read_partitions(self, spark: SparkSession, keep: Callable[[int], bool],
                         where: Column) -> DataFrame:
        """THE partition-scoped read: Spark gets only the p_bucket
        directories whose bucket passes `keep` (listed on the driver, so
        no Spark listing job over the whole part) and the recorded schema
        (so no inference job) — one job for the caller's action.
        `where` must select the same buckets: it stays on the frame as
        the PartitionFilters the plan shows. An empty selection still
        hands Spark one directory (it refuses zero paths), which `where`
        prunes: same columns and types as a non-empty read."""
        listed = list(_int_bucket_dirs(self.path)) if os.path.isdir(self.path) else []
        if not listed:
            return self.read(spark).filter(where)
        dirs = [e for b, e in listed if keep(b)] or [listed[0][1]]
        return (self._reader(spark).option("basePath", self.path)
                .parquet(*[os.path.join(self.path, e) for e in dirs])
                .filter(where))

    def read_window(self, spark: SparkSession, start_epoch: int, end_epoch: int) -> DataFrame:
        """Range read over the partitions [floor(start), end): reads only
        those directories, with the schema in _part_meta.json. The
        p_bucket range predicate is kept, so explain shows it as
        PartitionFilters."""
        lo = (start_epoch // self.partition_size_s) * self.partition_size_s
        return self._read_partitions(
            spark, lambda b: lo <= b < end_epoch,
            (F.col("p_bucket") >= lo) & (F.col("p_bucket") < end_epoch))

    def modified_log(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.modified_log_path):
            return None
        return spark.read.parquet(self.modified_log_path)

    def apply_retention(self, retain_after_epoch: int) -> list[int]:
        """S6: drop whole partition directories older than the cutoff."""
        dropped = []
        if not os.path.isdir(self.path):
            return dropped
        cutoff = (retain_after_epoch // self.partition_size_s) * self.partition_size_s
        for b, entry in _int_bucket_dirs(self.path):
            if b < cutoff:
                shutil.rmtree(os.path.join(self.path, entry))
                dropped.append(b)
        return sorted(dropped)


def _log_schema():
    """The modified log's columns: ``_log_modified`` writes them,
    ``modified_spans`` reads them without inference. ``ts_min_us`` and
    ``ts_max_us`` bound the timestamps (epoch microseconds) the logged
    write changed in the bucket; NULL means the whole bucket."""
    import pyarrow as pa

    return pa.schema([("part", pa.string()), ("p_bucket", pa.int64()),
                      ("modified_at", pa.float64()), ("job_id", pa.int64()),
                      ("ts_min_us", pa.int64()), ("ts_max_us", pa.int64())])


def span_union(a: Span | None, b: Span | None) -> Span | None:
    """The smallest span covering both; None (the whole bucket) absorbs."""
    if a is None or b is None:
        return None
    return min(a[0], b[0]), max(a[1], b[1])


def _int_bucket_dirs(path: str):
    """(bucket, dirname) pairs for the integer-keyed partition dirs.
    Non-integer partition values (__HIVE_DEFAULT_PARTITION__ from a
    foreign writer without the null guard, or hand-made debris) are
    SKIPPED: retention and compaction must never delete or rewrite what
    they can't place on the time grid — int() crashing mid-scan (the
    pre-r10 behavior) permanently wedged both for the whole part."""
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("p_bucket="):
            continue
        try:
            yield int(entry.split("=", 1)[1]), entry
        except ValueError:
            continue


def compact_partitions(storage: TrendStorePartStorage, spark: SparkSession,
                       target_files_per_partition: int = 1) -> int:
    """Small-file compaction (operational need S6-adjacent): repeated
    incremental upserts leave each partition with one file per write;
    at fleet scale that degrades scan planning and NameNode/listing cost.

    ONE job for the whole store (r8; the per-directory loop it replaces
    ran one sequential Spark job per partition — a day-partitioned year
    is 365 serial rewrites): list the directories needing work
    driver-side (bounded by partition count), read exactly those
    directories (the partition-scoped read), co-locate each bucket's rows on one
    task, dynamic-overwrite them in one write. Untouched partitions are
    never read or rewritten; lineage is cut before the overwrite (Spark
    cannot overwrite a path it is still reading). Returns partitions
    compacted."""
    if not os.path.isdir(storage.path):
        return 0
    need: list[int] = []
    for b, entry in _int_bucket_dirs(storage.path):
        pdir = os.path.join(storage.path, entry)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        if len(files) > target_files_per_partition:
            need.append(b)
    if not need:
        return 0
    df = storage._read_partitions(spark, set(need).__contains__,
                                  F.col("p_bucket").isin(need))
    n_parts = len(need) * target_files_per_partition
    if target_files_per_partition > 1:
        cols = [c for c in df.columns if c != "p_bucket"]
        df = (df.withColumn("_c_salt",
                            F.pmod(F.xxhash64(*cols),
                                   F.lit(target_files_per_partition)))
              .repartition(n_parts, "p_bucket", "_c_salt")
              .drop("_c_salt"))
    else:
        df = df.repartition(n_parts, "p_bucket")
    df = df.localCheckpoint(eager=True)
    (df.write.mode("overwrite")
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("p_bucket").parquet(storage.path))
    return len(need)
