"""Materialization engine (SURVEY.md §3.2, §2.9 T2/T3).

Re-implements the reference's materialization daemon semantics
[ref: crates/minerva/src/materialize.rs — UNVERIFIED [M]]:

  loop:
    candidates   = modified-log windows joined against materialization state
    stability    = no source write for `stability_delay` AND now past
                   window end + `processing_delay`
    fingerprint  = digest of source state for the window; skip if equal to
                   the fingerprint already processed
    run          = execute the registered source pipeline for that window
    write        = dynamic-partition overwrite of the target window
    reprocess    = late data changes the fingerprint → window re-runs, but
                   only within `reprocessing_period` of the window end

Candidates: every write logs, per partition bucket it touched, the span
(min, max) of the timestamps it changed there. A span dirties only the
windows that hold one of its timestamps, under the end of the window the
spec declares closed (``MaterializationSpec.closed``: "end" for Minerva's
period-END convention, where a sample on the hour belongs to the hour it
closes). A spec that declares nothing dirties every window whose closed
interval [start, end] meets the span, so a boundary row reaches both
windows it could belong to. A log entry without a span (a stale-partition
delete, or an entry logged before spans were) dirties every window its
whole bucket can reach. A window's fingerprint digests only the entries
that reach it.

Spark mapping: a tick runs its dirty windows as passes of at most
``PASS_WINDOWS``. A pass unions every window's pipeline output, tagged with
its window start, checkpoints it once, collects each (window, partition)
pair with its timestamp span once, and overwrites exactly the target
partitions those windows reach in ONE dynamic-partition write, which logs
those spans for the materializations chained off the target;
``run_window`` is the pass of one window. State and modified-log are tiny
bookkeeping Parquet datasets read and written on the driver (pandas /
pyarrow — scheduling metadata, never fact data; at 1000-executor scale
this remains kilobytes per part), so finding the candidates runs no Spark
job.

The same loop runs under Structured Streaming `availableNow` by pointing
`foreachBatch` at `run_window` — the builders are identical (SURVEY §2.9).

Crash/concurrency contract (pinned by tests/test_r14_materialize_crash.py):

- **Crash-converge.** A pass saves its fingerprints AFTER the target write
  (staged rename), so a kill anywhere inside a pass leaves the OLD
  fingerprints on disk and the next ``tick`` re-runs its windows; for a
  deterministic ``src_fn`` the dynamic-partition overwrite makes the replay
  idempotent. Stale-partition deletes are LOGGED BEFORE they are executed
  (log-ahead): a kill mid-delete can lose the rmtree but never the
  modified-log entry, so a replay finishes the delete and chained
  materializations always see the buckets dirty (at-least-once logging;
  a duplicate entry only causes an idempotent downstream re-run).
- **Single daemon per spec, enforced per host.** ``tick`` serializes on an
  exclusive ``flock`` over ``{STATE_DIR}/{spec.name}.lock``: a concurrent
  tick (thread or process on the same host) blocks until the first
  finishes, then sees the recorded fingerprints and quiesces — convergence
  by serialization + idempotence, instead of the silent last-wins
  ``os.replace`` race on the state file. flock is advisory and host-local:
  multi-host deployments must run ONE daemon per spec (the reference's
  deployment shape) — a shared-filesystem lock is out of scope here.
  Direct ``run_window`` callers (the streaming ``foreachBatch`` walk,
  which is single-threaded per query) must serialize externally.
- **Reader visibility.** A window replacement is partition-atomic, not
  window-atomic: a concurrent reader (e.g. the HTTP data service) can
  observe a mid-reprocess mix of new and old partitions, or a partition
  mid-delete. Same visibility a one-shot dynamic overwrite gives; readers
  needing a consistent window must gate on the recorded fingerprint.
"""

from __future__ import annotations

import fcntl
import hashlib
import os
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from functools import reduce
from zoneinfo import ZoneInfo

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minerva_etl_46_spark.functions.timestamps import Granularity
from minerva_etl_46_spark.sources.trendstore import (
    Span,
    TrendStorePartStorage,
    bucket_of,
    span_union,
    ts_span,
)

STATE_DIR = "_materialization_state"
#: windows per materialization pass: bounds the union's plan depth and
#: the checkpoint's size on a backfill; the state is saved after each pass
PASS_WINDOWS = 24
#: the window-start tag a pass adds to each window's rows
_WINDOW_COL = "__window_start"
_US = 1_000_000


def _cal_floor(epoch: int, unit: str, tz: str) -> int:
    """Epoch of the local-calendar period start containing ``epoch`` —
    driver-side mirror of functions.timestamps.align_floor (same
    local-midnight / Monday-week / month-start semantics, incl. DST).

    Supported-zone assumption (shared with the whole-hour-offset caveat at
    the window/partition tiling check below): DST transitions must not cross
    local midnight / the period boundary. ``naive.replace(tzinfo=zone)``
    resolves ambiguous/nonexistent local times with Python's fold=0
    (earlier offset), which matches Spark's to_utc_timestamp for zones like
    Europe/Amsterdam whose transitions happen at 02:00/03:00 — but a zone
    whose transition crosses midnight (e.g. America/Santiago, 24:00→23:00)
    can disagree and break the driver-mirror invariant. Such zones are out
    of scope for calendar materialization; the pass's tiling check
    catches the resulting off-grid boundaries loudly."""
    zone = ZoneInfo(tz)
    local = datetime.fromtimestamp(epoch, zone)
    if unit == "day":
        naive = datetime(local.year, local.month, local.day)
    elif unit == "week":
        monday = local.date() - timedelta(days=local.weekday())
        naive = datetime(monday.year, monday.month, monday.day)
    elif unit == "month":
        naive = datetime(local.year, local.month, 1)
    else:
        raise ValueError(f"unsupported calendar unit {unit!r}")
    return int(naive.replace(tzinfo=zone).timestamp())


def _cal_next(window_start: int, unit: str, tz: str) -> int:
    """Next local-calendar boundary after a boundary epoch. Calendar
    arithmetic on the naive local wall clock, then re-localized — so the
    next 'day' boundary is the next local midnight even across a 23h/25h
    DST day, where +86400s would land mid-period."""
    zone = ZoneInfo(tz)
    local = datetime.fromtimestamp(window_start, zone).replace(tzinfo=None)
    if unit == "day":
        nxt = local + timedelta(days=1)
    elif unit == "week":
        nxt = local + timedelta(days=7)
    elif unit == "month":
        nxt = datetime(local.year + (local.month == 12), local.month % 12 + 1, 1)
    else:
        raise ValueError(f"unsupported calendar unit {unit!r}")
    return int(nxt.replace(tzinfo=zone).timestamp())


@dataclass
class MaterializationSpec:
    """D9: declarative derived dataset + scheduling params."""

    name: str
    granularity: Granularity
    target: TrendStorePartStorage
    #: (spark, window_start_epoch, window_end_epoch) -> DataFrame with a
    #: ts column aligned inside the window
    src_fn: Callable[[SparkSession, int, int], DataFrame]
    #: storages whose modified-logs gate this materialization
    sources: list[TrendStorePartStorage] = field(default_factory=list)
    processing_delay_s: int = 0
    stability_delay_s: int = 0
    reprocessing_period_s: int = 7 * 86400
    ts_col: str = "ts"
    #: local timezone for calendar (day/week/month) window alignment
    tz: str = "UTC"
    #: "end" when ``src_fn`` reads (start, end], Minerva's period-END
    #: convention. Left None, a written timestamp dirties every window
    #: whose closed interval [start, end] holds it, so a boundary row
    #: reaches both windows it may belong to.
    closed: str | None = None

    def __post_init__(self):
        if self.closed not in (None, "end"):
            raise ValueError(f"materialization {self.name}: closed must be "
                             f"'end' or None, not {self.closed!r}")


class MaterializationEngine:
    """Finds dirty (materialization, window) pairs and runs them."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(os.path.join(base_dir, STATE_DIR), exist_ok=True)

    # ---- state bookkeeping (tiny; pandas parquet) ----

    def _state_path(self, spec: MaterializationSpec) -> str:
        return os.path.join(self.base_dir, STATE_DIR, f"{spec.name}.parquet")

    def _lock_path(self, spec: MaterializationSpec) -> str:
        return os.path.join(self.base_dir, STATE_DIR, f"{spec.name}.lock")

    @contextmanager
    def _spec_lock(self, spec: MaterializationSpec):
        """Exclusive per-spec daemon lock (see module docstring). flock,
        not O_EXCL: the kernel releases it when the fd closes — including
        on a hard kill — so a crashed tick can never wedge the spec
        behind a stale lock file. Two fds on one file conflict even
        within a single process (flock is per-open-file-description), so
        threaded concurrent ticks serialize too."""
        fd = os.open(self._lock_path(spec), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    def load_state(self, spec: MaterializationSpec) -> pd.DataFrame:
        p = self._state_path(spec)
        if os.path.exists(p):
            state = pd.read_parquet(p)
            if "partitions" not in state.columns:  # pre-r10 state file
                state["partitions"] = pd.Series(dtype="string")
            return state
        return pd.DataFrame(
            columns=["window_start", "fingerprint", "processed_at",
                     "partitions"]
        ).astype({"window_start": "int64", "fingerprint": "string",
                  "processed_at": "float64", "partitions": "string"})

    def _save_state(self, spec: MaterializationSpec, state: pd.DataFrame) -> None:
        # staged-rename, same reason as sources/paio.py: an in-place
        # to_parquet killed mid-write leaves a truncated file that wedges
        # every later load_state/tick for this spec (r10 review)
        p = self._state_path(spec)
        tmp = p + ".tmp"
        state.to_parquet(tmp, index=False)
        os.replace(tmp, p)

    # ---- candidate discovery ----

    def _window_floor(self, spec: MaterializationSpec, epoch: int) -> int:
        """Start of the granularity window [start, end) holding ``epoch``."""
        if spec.granularity.is_calendar:
            return _cal_floor(epoch, spec.granularity.unit, spec.tz)
        g = spec.granularity.seconds
        return (epoch // g) * g

    def _windows_of_span(self, spec: MaterializationSpec, lo_us: int,
                         hi_us: int, closed: str | None) -> list[int]:
        """The windows holding a timestamp of the span [lo, hi] (epoch
        microseconds): windows (start, end] for ``closed="end"``,
        [start, end] for None.

        The scan starts one window before the one ``lo`` starts: a
        timestamp on a boundary is the closed END of that window.
        Calendar granularities (day/week/month) step through local-tz
        boundaries instead of fixed seconds; windows are variable length
        (23h/25h DST days, 28–31-day months)."""
        w = self._window_floor(spec, self._window_floor(spec, lo_us // _US) - 1)
        out = []
        while w * _US <= hi_us:
            w_end = self._window_end(spec, w)
            if lo_us <= w_end * _US and (
                    hi_us > w * _US if closed == "end" else hi_us >= w * _US):
                out.append(w)
            w = w_end
        return out

    def _window_of_bucket(self, spec: MaterializationSpec, bucket: int,
                          partition_size_s: int) -> list[int]:
        """All granularity windows whose closed interval [start, end]
        meets one storage partition [bucket, bucket+partition_size): the
        mapping for a log entry that records no span (a stale-partition
        delete, or an entry written before spans were logged).

        It reaches ONE window back: a row with ts == bucket belongs, under
        Minerva's period-END convention, to the window (bucket-g, bucket].
        With no span to show that no such row was written, that window
        re-runs each time the bucket is logged."""
        return self._windows_of_span(spec, bucket * _US,
                                     (bucket + partition_size_s) * _US - 1, None)

    def _window_end(self, spec: MaterializationSpec, window_start: int) -> int:
        if spec.granularity.is_calendar:
            return _cal_next(window_start, spec.granularity.unit, spec.tz)
        return window_start + spec.granularity.seconds

    def candidates(self, spark: SparkSession, spec: MaterializationSpec,
                   now: float | None = None) -> list[tuple[int, str]]:
        """(window_start, fingerprint) pairs that need (re)processing.
        Reads the sources' modified logs on the driver: no Spark job.

        Each log entry dirties the windows its span reaches under the
        spec's closed end (a whole-bucket entry: ``_window_of_bucket``).
        A window's fingerprint digests, per source bucket, the count and
        latest time of the entries that reach it, so a write elsewhere
        in a shared bucket leaves it unchanged."""
        now = time.time() if now is None else now
        win_info: dict[int, list[str]] = {}
        win_last_mod: dict[int, float] = {}
        for src in spec.sources:
            reach: dict[tuple[int, int], list] = {}  # (window, bucket) → [n, m]
            for b, lo, hi, n, m in src.modified_spans():
                ws = (self._window_of_bucket(spec, b, src.partition_size_s)
                      if lo is None else
                      self._windows_of_span(spec, lo, hi, spec.closed))
                for w in ws:
                    acc = reach.setdefault((w, b), [0, m])
                    acc[0] += n
                    acc[1] = max(acc[1], m)
            for (w, b), (n, m) in reach.items():
                win_info.setdefault(w, []).append(f"{src.name}:{b}:{n}:{m}")
                win_last_mod[w] = max(win_last_mod.get(w, 0.0), m)
        state = self.load_state(spec).set_index("window_start")
        out: list[tuple[int, str]] = []
        for w, parts in sorted(win_info.items()):
            w_end = self._window_end(spec, w)
            # T2 stability gate: quiet sources + past processing delay
            if now < w_end + spec.processing_delay_s:
                continue
            if now - win_last_mod[w] < spec.stability_delay_s:
                continue
            fp = hashlib.md5("|".join(sorted(parts)).encode()).hexdigest()
            if w in state.index:
                prev = state.loc[w]
                if prev["fingerprint"] == fp:
                    continue  # already processed this exact source state
                # T3 reprocessing horizon: late data outside the window is dropped
                if now > w_end + spec.reprocessing_period_s:
                    continue
            out.append((w, fp))
        return out

    # ---- execution ----

    def _check_tiling(self, spec: MaterializationSpec, window_start: int,
                      w_end: int) -> None:
        # Dynamic partition overwrite replaces WHOLE partitions: the target's
        # partition size must tile the window exactly, or this write would
        # clobber sibling windows sharing a partition (the reference instead
        # DELETEs at the timestamp — same invariant, different mechanism).
        ps = spec.target.partition_size_s
        if spec.granularity.is_calendar:
            # variable-length windows: both boundaries must sit on the
            # partition grid (holds when ps divides the tz's UTC-offset
            # step — e.g. ps ≤ 3600 for whole-hour-offset zones)
            if window_start % ps != 0 or w_end % ps != 0:
                raise ValueError(
                    f"materialization {spec.name}: calendar window "
                    f"[{window_start}, {w_end}) does not tile "
                    f"partition_size_s={ps}; pick a partition size that "
                    f"divides the local-boundary epoch offsets"
                )
        elif ps > (g := spec.granularity.seconds) or g % ps != 0:
            raise ValueError(
                f"materialization {spec.name}: target partition_size_s={ps} "
                f"must evenly tile the {g}s granularity window"
            )

    def _run_pass(self, spark: SparkSession, spec: MaterializationSpec,
                  windows: list[tuple[int, str]], now: float | None) -> None:
        """Materialize ``windows`` ((window_start, fingerprint) pairs) in
        one pass: every window's pipeline output, tagged with its window
        start, in one checkpoint and one target write; then the stale
        partition deletes and one state save."""
        ends = {w: self._window_end(spec, w) for w, _ in windows}
        for w, w_end in ends.items():
            self._check_tiling(spec, w, w_end)
        frames = [spec.src_fn(spark, w, w_end)
                  .withColumn(_WINDOW_COL, F.lit(w).cast("long"))
                  for w, w_end in ends.items()]
        # checkpoint before the two actions below (pair collect, write):
        # an un-checkpointed rollup would run its whole pipeline twice,
        # and it pins the partitions list / written data consistency for
        # any nondeterministic source
        df = reduce(DataFrame.unionByName, frames).localCheckpoint(eager=True)
        by_window: dict[int, set[int]] = {w: set() for w in ends}
        spans: dict[int | None, Span | None] = {}
        # bounded-by: the pass's windows × the partitions each one reaches
        for w, b, lo, hi in df.groupBy(_WINDOW_COL, bucket_of(
                spec.ts_col, spec.target.partition_size_s)).agg(
                    *ts_span(spec.ts_col)).collect():
            by_window[w].add(b)
            span = None if lo is None else (lo, hi)
            spans[b] = span_union(spans[b], span) if b in spans else span
        written = set(spans)
        # a None bucket (NULL timestamp) makes write refuse before any data lands
        spec.target.write(df.drop(_WINDOW_COL), ts_col=spec.ts_col,
                          touched=spans)
        # Dynamic partition overwrite cannot DELETE: a reprocess whose new
        # output no longer reaches some partition it previously wrote
        # (late corrections moved/removed all its rows — or the whole
        # window is now empty) must clear the stale partition, or the
        # target permanently disagrees with a one-shot batch while the
        # fingerprint records the window as processed. The reference
        # DELETEs at the timestamp; this is that delete, scoped to the
        # partitions THIS window's previous run recorded in the state —
        # convention-agnostic (output labels may sit at period END, i.e.
        # outside [window_start, w_end) on the partition grid, so a
        # grid-derived range would delete a NEIGHBOR window's output) —
        # and never a partition this pass just wrote for a sibling window.
        state = self.load_state(spec)
        in_pass = state["window_start"].isin(list(ends))
        prev_parts = {int(b) for parts in state.loc[in_pass, "partitions"].dropna()
                      for b in str(parts).split(",") if b}
        to_remove = [b for b in sorted(prev_parts - written) if os.path.isdir(
            os.path.join(spec.target.path, f"p_bucket={b}"))]
        if to_remove:
            # a delete is a modification: downstream materializations
            # chained off this target must see these buckets dirty.
            # LOG-AHEAD: the log entry lands BEFORE the rmtree — a kill
            # mid-delete can lose the rmtree (the replay finishes it:
            # fingerprints unsaved ⇒ the windows re-run) but never the
            # dirty mark. A crash between log and rmtree just re-logs on
            # replay — at-least-once, idempotent downstream. A delete
            # logs no span: downstream re-runs the whole bucket.
            spec.target._log_modified(dict.fromkeys(to_remove), job_id=None)
        for b in to_remove:
            shutil.rmtree(os.path.join(spec.target.path, f"p_bucket={b}"))
        processed_at = time.time() if now is None else now
        state = pd.concat([
            state[~in_pass],
            pd.DataFrame([{
                "window_start": w,
                "fingerprint": fp,
                "processed_at": processed_at,
                "partitions": ",".join(str(b) for b in sorted(by_window[w])),
            } for w, fp in windows]),
        ], ignore_index=True)
        self._save_state(spec, state)

    def run_window(self, spark: SparkSession, spec: MaterializationSpec,
                   window_start: int, fingerprint: str, now: float | None = None) -> int:
        """Materialize one window: run the registered pipeline, overwrite
        the target's partitions for that window, record the fingerprint —
        a pass of one window."""
        self._run_pass(spark, spec, [(window_start, fingerprint)], now)
        return window_start

    def tick(self, spark: SparkSession, spec: MaterializationSpec,
             now: float | None = None) -> list[int]:
        """One daemon iteration: process every dirty window, in passes of
        at most ``PASS_WINDOWS``, saving the state after each. Returns the
        windows materialized.

        Holds the per-spec flock for the whole iteration (candidates are
        computed INSIDE the lock): a concurrent tick blocks, then reads
        the state the first tick saved, sees matching fingerprints, and
        quiesces — each dirty window runs exactly once across both."""
        with self._spec_lock(spec):
            todo = self.candidates(spark, spec, now=now)
            for i in range(0, len(todo), PASS_WINDOWS):
                self._run_pass(spark, spec, todo[i:i + PASS_WINDOWS], now)
            return [w for w, _ in todo]
