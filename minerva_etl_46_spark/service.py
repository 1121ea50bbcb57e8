"""Data-service query API (SURVEY.md §2.6 O1/O2; [ref: minerva-service /
minerva data-service REST API — UNVERIFIED [L]]).

The reference exposes trend/attribute data over a small query API: select
a store part, a set of entities, a time range and columns, get ordered,
paginated rows. Re-expressed as composable DataFrame builders so the whole
request compiles to ONE Catalyst plan: partition-pruned range scan →
optional broadcast semi-join on the entity set → column pruning → order →
keyset pagination.

A page is ONE Spark job: the range scan (TrendStorePartStorage.read_window)
hands Spark only the in-window partition directories, with the schema the
writers recorded, so neither partition discovery nor schema inference
adds a job of its own.

Pagination is KEYSET (after-tuple), not offset: OFFSET n forces the
executor to produce and discard n rows per page; the keyset predicate
pushes straight into the scan range. Page stability follows from the
deterministic (ts, entity_id) order.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minerva_etl_46_spark.sources.trendstore import TrendStorePartStorage

#: hard ceiling on one page's driver-side collect — a misconfigured
#: page_size cannot OOM the driver; callers wanting more rows page
#: through the keyset cursor (page_through), each page a bounded job.
MAX_PAGE_SIZE = 10_000


@dataclass(frozen=True)
class TrendQuery:
    """One data-service request. Frozen: the page_size cap is validated at
    construction, so post-construction mutation must be impossible or the
    driver-OOM guard could be assigned away."""

    part: TrendStorePartStorage
    start_epoch: int
    end_epoch: int
    columns: list[str] = field(default_factory=list)   # [] → all counters
    entity_ids: list[int] | None = None                # None → all entities
    entity_set: DataFrame | None = None                # semi-join restriction
    page_size: int = 1000
    #: keyset cursor (epoch MICROseconds, entity_id) — µs so sub-second
    #: rows can never be skipped between pages
    after: tuple[int, int] | None = None

    def __post_init__(self):
        if self.page_size < 1:
            raise ValueError(f"page_size must be >= 1, got {self.page_size}")
        if self.page_size > MAX_PAGE_SIZE:
            raise ValueError(
                f"page_size {self.page_size} exceeds MAX_PAGE_SIZE "
                f"{MAX_PAGE_SIZE}; page through the keyset cursor instead"
            )

    def run(self, spark: SparkSession, entity_col: str = "entity_id",
            ts_col: str = "ts") -> DataFrame:
        df = self.part.read_window(spark, self.start_epoch, self.end_epoch)
        ts_epoch = F.col(ts_col).cast("timestamp").cast("long")  # NTZ-proof
        df = df.filter((ts_epoch >= self.start_epoch) & (ts_epoch < self.end_epoch))
        if self.entity_ids is not None:
            df = df.filter(F.col(entity_col).isin([int(e) for e in self.entity_ids]))
        if self.entity_set is not None:
            df = df.join(F.broadcast(self.entity_set), entity_col, "left_semi")
        if self.columns:
            # dedupe against the always-present key columns: a client
            # naming ts/entity_id in `columns` (a natural request)
            # previously produced a duplicate-named frame and the keyset
            # expressions failed with AMBIGUOUS_REFERENCE — a 500 for a
            # well-formed request (r10 review)
            extra = [c for c in self.columns if c not in (entity_col, ts_col)]
            df = df.select(entity_col, ts_col, *extra)
        else:
            df = df.drop("p_bucket")
        ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        if self.after is not None:
            a_us, a_ent = self.after
            df = df.filter(
                (ts_us > a_us) | ((ts_us == a_us) & (F.col(entity_col) > a_ent))
            )
        return (
            df.withColumn("__ts_us", ts_us)
            .orderBy("__ts_us", entity_col)
            .limit(self.page_size)
            .drop("__ts_us")
        )


def page_through(spark: SparkSession, query: TrendQuery,
                 entity_col: str = "entity_id", ts_col: str = "ts"):
    """Generator over full pages — each page is one bounded Spark job."""
    import calendar

    after = query.after
    while True:
        q = TrendQuery(**{**query.__dict__, "after": after})
        rows = q.run(spark, entity_col, ts_col).collect()  # bounded-by: page_size (≤ MAX_PAGE_SIZE)
        if not rows:
            return
        yield rows
        last = rows[-1]
        ts = last[ts_col]
        # collected timestamps are naive in the session tz (UTC) —
        # datetime.timestamp() would reinterpret them in the MACHINE tz;
        # timegm is tz-independent
        us = calendar.timegm(ts.timetuple()) * 1_000_000 + ts.microsecond
        after = (us, last[entity_col])
        if len(rows) < query.page_size:
            return
