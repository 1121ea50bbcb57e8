"""r14: crash/replay + concurrency gates for the BATCH materialization
daemon (plans/materialize.py run_window/tick) — the one stateful surface
the r13 restart audit left uncovered (VERDICT r13 item 1). Mirrors the
test_r13_restart.py discipline: simulate the kill at the exact seam,
then assert the replay converges to the one-shot batch.

Three seams:

(a) kill between ``spec.target.write`` and ``_save_state`` — the old
    fingerprint survives, so the re-tick must re-run the window and
    converge (target parity + a single state row);
(b) kill mid-stale-partition-rmtree on a reprocess — the re-tick must
    finish the delete, and (the r14 log-ahead fix) the modified-log
    entry for EVERY stale partition must survive the crash, or chained
    materializations silently never see the deletion;
(c) two concurrent ``tick``s on one spec — the per-spec flock
    serializes them; each dirty window runs exactly once and the state
    file never loses a fingerprint to a last-wins ``os.replace`` race.
"""

from __future__ import annotations

import os
import shutil
import threading

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

H0 = 1704067200  # 2024-01-01T00:00Z
FAR = 4e9  # synthetic far-future 'now': all delays satisfied


def _rows(spark, triples):
    return spark.createDataFrame(
        [(k, e, float(v)) for k, e, v in triples],
        "k long, epoch long, v double",
    ).select("k", F.timestamp_seconds("epoch").alias("ts"), "v")


def _rollup_fixture(spark, tmp_path, counter=None):
    """raw → 1h count/sum rollup, the §3.2 shape the r10 tests use."""
    raw = TrendStorePartStorage(str(tmp_path), "raw_c", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "c_1h", partition_size_s=3600)
    trends = {"n": Trend("n", time_aggregation="count"),
              "sum_value": Trend("sum_value", time_aggregation="sum")}

    def src_fn(sprk, ws, we):
        if counter is not None:
            with counter["lock"]:
                counter["n"] += 1
        rows = raw.read_window(sprk, ws, we).filter(
            (F.col("ts").cast("long") >= ws) & (F.col("ts").cast("long") < we)
        )
        return time_rollup(
            rows.select("k", "ts", F.col("v").alias("n"),
                        F.col("v").alias("sum_value")),
            "k", "ts", G_1H, trends, bucket_col="bucket")

    spec = MaterializationSpec(
        name="c_1h", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="bucket", reprocessing_period_s=10**12)
    return raw, target, trends, spec


def _oneshot(spark, raw, trends):
    src = raw.read(spark).select(
        "k", "ts", F.col("v").alias("n"), F.col("v").alias("sum_value"))
    return (time_rollup(src, "k", "ts", G_1H, trends, bucket_col="bucket")
            .toPandas().sort_values(["k", "bucket"]).reset_index(drop=True))


# ------------------------------------------------------- (a) write/save seam


def test_crash_between_write_and_save_state_converges(spark, tmp_path,
                                                      monkeypatch):
    """Kill after the target write, before the fingerprint save: the OLD
    state survives (staged rename untouched), so the re-tick re-runs the
    window idempotently — dynamic overwrite makes the replay converge to
    the one-shot batch with exactly one state row per window. Also
    proves the flock releases on a crashed tick: a leaked lock would
    deadlock the re-tick below."""
    raw, target, trends, spec = _rollup_fixture(spark, tmp_path)
    engine = MaterializationEngine(str(tmp_path))
    raw.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 120, 2.0),
                            (1, H0 + 3660, 3.0)]))

    def dying_save(self, sp, state):
        raise RuntimeError("simulated kill before state save")

    monkeypatch.setattr(MaterializationEngine, "_save_state", dying_save)
    with pytest.raises(RuntimeError, match="simulated kill"):
        engine.tick(spark, spec, now=FAR)
    monkeypatch.undo()

    # the crashed window's data IS on disk, but the fingerprint is not:
    # the window must still be a candidate
    assert engine.load_state(spec).empty
    done = engine.tick(spark, spec, now=FAR + 10)
    assert done, "re-tick after crash must re-run the unsaved window"

    got = (target.read(spark).drop("p_bucket").toPandas()
           .sort_values(["k", "bucket"]).reset_index(drop=True))
    want = _oneshot(spark, raw, trends)
    assert got[want.columns.tolist()].equals(want), \
        "replayed materialization != one-shot batch"
    state = engine.load_state(spec)
    assert state["window_start"].is_unique, "duplicate state rows"
    assert engine.tick(spark, spec, now=FAR + 20) == [], "did not quiesce"


def test_crash_in_span_mapped_tick_replays_exactly_the_dirty_window(
        spark, tmp_path, monkeypatch):
    """The example ladder declares closed="end", so a one-hour load
    dirties one hourly window. Kill that tick after the target write,
    before the fingerprint save: the re-tick runs exactly that window
    again, and the chained daily step still sees its day dirty."""
    import dataclasses

    from examples.pm_instance.specs import daily_traffic, hourly_traffic

    hourly, daily = (dataclasses.replace(s(str(tmp_path)), reprocessing_period_s=10**12)
                     for s in (hourly_traffic, daily_traffic))
    engine = MaterializationEngine(str(tmp_path))
    hour = H0 + 5 * 3600
    hourly.sources[0].upsert(spark.createDataFrame(
        [(1, hour + 900 * q, q, 0) for q in (1, 2, 3, 4)],
        "entity_id long, epoch long, calls int, drops int",
    ).select("entity_id", F.timestamp_seconds("epoch").alias("ts"), "calls", "drops"),
        keys=["entity_id", "ts"], version_cols=["calls"], ts_col="ts")

    def dying_save(self, sp, state):
        raise RuntimeError("simulated kill before state save")

    monkeypatch.setattr(MaterializationEngine, "_save_state", dying_save)
    with pytest.raises(RuntimeError, match="simulated kill"):
        engine.tick(spark, hourly, now=FAR)
    monkeypatch.undo()

    assert engine.tick(spark, hourly, now=FAR + 10) == [hour]
    assert engine.tick(spark, hourly, now=FAR + 20) == []
    day = engine._window_floor(daily, hour + 3600 - 1)
    assert engine.tick(spark, daily, now=FAR + 30) == [day]
    assert [(r["bucket"], r["calls"]) for r in daily.target.read(spark).collect()] \
        == [(engine._window_end(daily, day), 10)]


# -------------------------------------------------- (b) mid-rmtree reprocess


def test_crash_mid_stale_rmtree_replay_finishes_delete(spark, tmp_path,
                                                       monkeypatch):
    """A reprocess that empties a 2-partition window must delete both
    stale partitions. Kill after the FIRST rmtree: the r14 log-ahead fix
    means the modified-log already carries BOTH deletes (previously the
    log landed after the loop — the crash lost the deletion signal for
    chained materializations forever), and the re-tick finishes the
    second delete."""
    raw = TrendStorePartStorage(str(tmp_path), "raw_i", partition_size_s=3600)
    # identity materialization, half-hour target partitions: one 1h
    # window spans TWO target partitions
    target = TrendStorePartStorage(str(tmp_path), "i_30m", partition_size_s=1800)

    def src_fn(sprk, ws, we):
        return raw.read_window(sprk, ws, we).filter(
            (F.col("ts").cast("long") >= ws) & (F.col("ts").cast("long") < we)
            & (F.col("v") > 0)  # corrections flip v negative → row leaves
        ).select("k", "ts", "v")

    spec = MaterializationSpec(
        name="i_30m", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="ts", reprocessing_period_s=10**12)
    engine = MaterializationEngine(str(tmp_path))

    raw.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 1860, 1.0)]))
    assert H0 in engine.tick(spark, spec, now=FAR)
    assert os.path.isdir(os.path.join(target.path, f"p_bucket={H0}"))
    assert os.path.isdir(os.path.join(target.path, f"p_bucket={H0 + 1800}"))

    # late correction: the whole hour empties → both partitions stale
    raw.write(_rows(spark, [(1, H0 + 60, -1.0), (2, H0 + 1860, -1.0)]))

    real_rmtree = shutil.rmtree
    killed = {"n": 0}

    def dying_rmtree(path, *a, **kw):
        if "p_bucket=" in str(path) and str(path).startswith(target.path):
            killed["n"] += 1
            if killed["n"] == 2:
                raise RuntimeError("simulated kill mid stale-partition delete")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="mid stale-partition"):
        engine.tick(spark, spec, now=FAR + 10)
    monkeypatch.undo()

    # exactly one of the two partition dirs was deleted before the kill —
    # but the log-ahead entries for BOTH survived the crash
    dirs = [b for b in (H0, H0 + 1800)
            if os.path.isdir(os.path.join(target.path, f"p_bucket={b}"))]
    assert len(dirs) == 1, f"expected one surviving stale dir, got {dirs}"
    logged = {r["p_bucket"] for r in target.modified_log(spark).collect()}
    assert {H0, H0 + 1800} <= logged, \
        "log-ahead: both stale deletes must be logged before any rmtree"
    # fingerprint unsaved → window still dirty → replay finishes the job
    done = engine.tick(spark, spec, now=FAR + 20)
    assert H0 in done
    # the emptied window leaves NO partition dirs at all (a completely
    # empty store can't be read back — assert at the filesystem level)
    assert not [d for d in os.listdir(target.path)
                if d.startswith("p_bucket=")]
    assert engine.tick(spark, spec, now=FAR + 30) == [], "did not quiesce"


def test_crash_after_delete_log_before_rmtree_converges(spark, tmp_path,
                                                        monkeypatch):
    """The other half of log-ahead: kill BETWEEN the log write and the
    first rmtree. The replay sees the dirs still present, logs them
    again (at-least-once — harmless, consumers dedupe by fingerprint
    change) and completes the delete."""
    raw = TrendStorePartStorage(str(tmp_path), "raw_j", partition_size_s=3600)
    target = TrendStorePartStorage(str(tmp_path), "j_30m", partition_size_s=1800)

    def src_fn(sprk, ws, we):
        return raw.read_window(sprk, ws, we).filter(
            (F.col("ts").cast("long") >= ws) & (F.col("ts").cast("long") < we)
            & (F.col("v") > 0)
        ).select("k", "ts", "v")

    spec = MaterializationSpec(
        name="j_30m", granularity=G_1H, target=target, src_fn=src_fn,
        sources=[raw], ts_col="ts", reprocessing_period_s=10**12)
    engine = MaterializationEngine(str(tmp_path))

    raw.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 1860, 1.0)]))
    engine.tick(spark, spec, now=FAR)
    raw.write(_rows(spark, [(1, H0 + 60, -1.0), (2, H0 + 1860, -1.0)]))

    real_rmtree = shutil.rmtree

    def dying_rmtree(path, *a, **kw):
        if "p_bucket=" in str(path) and str(path).startswith(target.path):
            raise RuntimeError("simulated kill before any rmtree")
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(shutil, "rmtree", dying_rmtree)
    with pytest.raises(RuntimeError, match="before any rmtree"):
        engine.tick(spark, spec, now=FAR + 10)
    monkeypatch.undo()

    # nothing deleted yet, both logged
    for b in (H0, H0 + 1800):
        assert os.path.isdir(os.path.join(target.path, f"p_bucket={b}"))
    done = engine.tick(spark, spec, now=FAR + 20)
    assert H0 in done
    for b in (H0, H0 + 1800):
        assert not os.path.isdir(os.path.join(target.path, f"p_bucket={b}"))
    assert engine.tick(spark, spec, now=FAR + 30) == []


# ------------------------------------------------------ (c) concurrent ticks


def test_spec_lock_excludes_other_processes_and_releases_on_kill(
        spark, tmp_path):
    """The two flock claims the thread test above can't pin: (1) the
    per-spec lock EXCLUDES a holder in another PROCESS (advisory flock
    is kernel-arbitrated across processes — the deployment shape is two
    daemon processes sharing a state dir); (2) a SIGKILLed holder
    releases the lock instantly (the kernel drops flocks with the fd
    table — no stale-lock wedge, the property that makes crash recovery
    a plain re-tick instead of manual lock surgery)."""
    import fcntl
    import signal
    import subprocess
    import sys
    import time

    raw, target, trends, spec = _rollup_fixture(spark, tmp_path)
    engine = MaterializationEngine(str(tmp_path))
    lock_path = engine._lock_path(spec)

    child = subprocess.Popen(
        [sys.executable, "-c", (
            "import fcntl, os, sys, time\n"
            f"fd = os.open({lock_path!r}, os.O_CREAT | os.O_RDWR, 0o644)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('locked', flush=True)\n"
            "time.sleep(300)\n"
        )],
        stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "locked"
        # (1) cross-process exclusion: non-blocking acquire must fail
        # while the child holds the flock
        fd = os.open(lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            with pytest.raises(BlockingIOError):
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            # (2) SIGKILL the holder: the kernel releases the flock with
            # the fd table — the lock must become acquirable promptly,
            # with no unlink/cleanup of the lock file required
            child.send_signal(signal.SIGKILL)
            child.wait(timeout=30)
            deadline = time.monotonic() + 30
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    assert time.monotonic() < deadline, \
                        "flock still held after the holder was SIGKILLed"
                    time.sleep(0.05)
        finally:
            os.close(fd)  # releases the lock if acquired
    finally:
        if child.poll() is None:
            child.kill()
            child.wait(timeout=30)

    # and the daemon path itself still works end-to-end afterwards
    raw.write(_rows(spark, [(1, H0 + 60, 1.0)]))
    assert engine.tick(spark, spec, now=FAR), \
        "tick must proceed once the dead holder's lock is gone"


def test_concurrent_ticks_serialize_each_window_runs_once(spark, tmp_path):
    """Two daemons tick the same spec at once (two engine instances =
    two processes sharing the state dir; flock is per-open-file-
    description, so in-process threads conflict exactly like processes).
    The flock serializes them: the second tick blocks, then reads the
    saved fingerprints and quiesces — every dirty window runs EXACTLY
    once, no state row is lost to a last-wins os.replace race, and the
    target equals the one-shot batch."""
    counter = {"n": 0, "lock": threading.Lock()}
    raw, target, trends, spec = _rollup_fixture(spark, tmp_path, counter)
    raw.write(_rows(spark, [(1, H0 + 60, 1.0), (2, H0 + 120, 2.0),
                            (1, H0 + 3660, 3.0), (2, H0 + 7260, 4.0)]))

    engines = [MaterializationEngine(str(tmp_path)) for _ in range(2)]
    results: list[list[int] | None] = [None, None]
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run(i):
        try:
            barrier.wait(timeout=30)
            results[i] = engines[i].tick(spark, spec, now=FAR)
        except BaseException as exc:  # noqa: BLE001 — surface in main thread
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, f"concurrent tick raised: {errors}"
    assert all(r is not None for r in results), "a tick hung on the lock"

    done_all = sorted(results[0] + results[1])
    assert len(done_all) == len(set(done_all)), \
        f"a window ran in BOTH ticks: {done_all}"
    # every distinct window ran exactly once across both daemons
    n_windows = len(set(done_all))
    assert counter["n"] == n_windows, \
        f"src_fn ran {counter['n']}x for {n_windows} windows"

    state = MaterializationEngine(str(tmp_path)).load_state(spec)
    assert state["window_start"].is_unique
    assert set(state["window_start"]) == set(done_all), \
        "state lost a fingerprint (last-wins os.replace race)"
    got = (target.read(spark).drop("p_bucket").toPandas()
           .sort_values(["k", "bucket"]).reset_index(drop=True))
    want = _oneshot(spark, raw, trends)
    assert got[want.columns.tolist()].equals(want)
    assert engines[0].tick(spark, spec, now=FAR + 10) == []
