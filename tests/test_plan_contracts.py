"""Plan-shape contracts (r6): the Exchange/operator counts PLANS.md
documents for the headline operators, asserted so a plan regression
turns the suite red instead of hiding in a doc diff. Counts are ceilings
on the physical plan BEFORE AQE runtime re-planning (AQE only coalesces
or converts joins — it never adds logical exchanges), measured at
sf0.001 where every shape is already final. Exchange reuse is decided
at run time, so in that plan an exchange that two consumers share
prints under each of them, with every exchange below it. Repartitioning
a self-join's input on the join key, in place of a localCheckpoint
lineage cut (printed as `Scan ExistingRDD`, which hides the shuffles
that fill it) or a broadcast side, adds one real shuffle that runs once
and counts twice here. A budget raised for such a rewrite needs the
key's AQE-final `ShuffleQueryStage` / `ReusedExchange` counts and its
timing before and after the change, recorded in CHANGES.md.

A cross-cutting invariant closes the file: NO key in the registry may
plan a CartesianProduct (the one operator that cannot survive 100 TB) —
the two known crossJoins are broadcast 1-row stats frames, which plan
as BroadcastNestedLoopJoin, not CartesianProduct.
"""

from __future__ import annotations

import pytest

from minerva_etl_46_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, key: str) -> str:
    return QUERIES[key](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()


def shuffles(plan: str) -> int:
    """SHUFFLE exchanges only — BroadcastExchange is the cheap kind the
    dim-join contract deliberately allows."""
    return (plan.count("Exchange hashpartitioning")
            + plan.count("Exchange rangepartitioning")
            + plan.count("Exchange SinglePartition"))


# key → (max Exchange count, substring that MUST appear, substring that
# must NOT appear); None skips that leg
CONTRACTS = {
    # one-exchange hash-agg family (map-side partials)
    "agg_time": (1, "partial_", None),
    "agg_gini": (2, "partial_", None),
    "agg_ohlc": (1, "partial_min", None),
    # the r6 rewrites hold their shapes
    "llm_novelty": (2, None, "SortMergeJoin"),
    "win_interp": (2, None, "Join"),
    # window/topk discipline
    "topk_per_group": (2, "WindowGroupLimit", None),
    "llm_sample_stratified": (2, "WindowGroupLimit", None),
    "win_outlier_mad": (1, None, "Join"),
    # single keep-latest window
    "upsert_latest": (1, None, None),
    "upsert_tombstone": (1, None, None),
    # dims broadcast, fact side never shuffles for the join
    "join_dim": (0, "BroadcastHashJoin", "SortMergeJoin"),
    # as-of family: union-tag, never a range product
    "join_asof": (3, None, "CartesianProduct"),
    "join_scd2": (3, None, "CartesianProduct"),
    # r6 continuation: deliberately the tf⋈freq JOIN shape, not
    # window-attach — unigram stopword keys would serialize a window
    # partition; a join AQE can skew-split. Exchanges carry the tf
    # frame (distinct (doc,token)), never the raw token stream. The
    # count includes the tf recompute on the freq branch (no subplan
    # sharing) + the 1-row total's SinglePartition partial.
    "llm_surprisal": (5, None, "CartesianProduct"),
    # exchange-reuse family: window/agg chains share ONE entity-keyed
    # shuffle (hash(user) satisfies every downstream clustering)
    "win_autocorr": (1, None, "Join"),
    "win_streak": (1, None, "Join"),
    # scalar kit: projection-only, fused into the scan (the `*(1)`
    # prefix is executedPlan().toString()'s codegen-stage marker)
    "fn_ip_cidr": (0, "*(1) Project", "Exchange"),
    # grid-bucketed spatial join: sites broadcast, candidates via the
    # cell-id equi-join — the all-pairs distance matrix never plans
    "join_spatial": (1, "BroadcastHashJoin", "CartesianProduct"),
    # HOF-walk family: ONE collect_list exchange, recursion in-row
    "win_holt": (1, None, "Join"),
    # partitioned-lake read: the day bound must prune at file listing
    # (a real PartitionFilter on the scan), one rollup exchange after
    "scan_partitioned": (1, "PartitionFilters: [isnotnull(day", None),
    # inverted index: the rank cap MUST rewrite to WindowGroupLimit —
    # each map task forwards ≤k rows per token into the shuffle
    "llm_postings": (2, "WindowGroupLimit", "Join"),
    # six moments in ONE conditional hash-agg — no pivot, no self-join
    "agg_ttest": (1, "partial_", "Join"),
    # lag window + matrix agg; the share window runs on the bounded
    # |types|^2 frame (its exchange carries ≤ the matrix)
    "agg_transitions": (3, None, "Join"),
    # r7 additions
    # SCD2 build: explicit repartition(entity) up front — hash(entity)
    # satisfies the tie window, suppression window and lead window:
    # ONE exchange end to end
    "upsert_scd2_build": (1, None, "Join"),
    # rollup partials + band window on the hourly frame — never raw-sized
    "win_bollinger": (2, "partial_", "Join"),
    # distinct-point pass + running-max window; the O(n²) dominance
    # self-join must never plan
    "agg_skyline": (2, None, "Join"),
    # digit hash-agg + ≤9-rows-per-group window — all integer math
    "agg_benford": (2, "partial_", "Join"),
    # tf⋈df join shape (AQE-splittable), WindowGroupLimit caps the rank
    "llm_tfidf": (5, "WindowGroupLimit", "CartesianProduct"),
    # in-row bigram zip — the positional token self-join must not plan;
    # exchanges carry bigram/unigram agg frames only
    "llm_collocations": (6, None, "CartesianProduct"),
    # raw events exchanged once (hourly rollup); pair join + moments on
    # the buckets×types frame
    "agg_corr_pairs": (3, "partial_", "CartesianProduct"),
    # span hash-agg is the only data-sized exchange; the rest are
    # duration-table-sized aggs/windows + broadcast 1-row frames
    "agg_survival": (8, None, "CartesianProduct"),
    # ONE group exchange: ordered cum-window, partition total and final
    # min share it; decision math all-decimal
    "agg_weighted_median": (1, None, "Join"),
    # rollup partials + entity window (the bollinger shape); the
    # argmin is a second window, never the oracle's self-join
    "win_drawdown": (2, "partial_", "Join"),
    # sweep-line: endpoint union + running-sum/peak windows + agg all
    # share hash(event_type) — one exchange, linear in events
    "agg_peak_concurrency": (1, None, "Join"),
    # block equi-join (never a cross product) + WindowGroupLimit cap
    "join_fuzzy": (4, "WindowGroupLimit", "CartesianProduct"),
    # --- r8: lock in the rotation keys' shapes (counts from the r8
    # full-registry plan audit; ceilings, not exact) ---
    # per-iteration: one edge-scan + node-scale agg; rank frame must
    # BROADCAST into the edge join (SCALE.md r7e: SMJ re-shuffles 36M
    # edges per iteration without the hint)
    "graph_pagerank": (4, "BroadcastHashJoin", "CartesianProduct"),
    # kNN partner graph: pair hash-agg + wedge/close equi-joins only
    "graph_triangles": (6, None, "CartesianProduct"),
    # four-hop star: every dim hop broadcasts; the single exchange is
    # the final rollup's
    "join_snowflake": (1, "BroadcastHashJoin", "SortMergeJoin"),
    # ONE scan: multi-distinct plans as one Expand pass + final agg
    "agg_profile": (2, None, "CartesianProduct"),
    # stack() unpivot rides one scan; hot-key rank caps via WGL
    "agg_skew_report": (4, "WindowGroupLimit", "CartesianProduct"),
    # 8 KiB filter + exact-membership audit frames broadcast; probe
    # work ∝ batch
    "llm_bloom_prefilter": (5, "BroadcastHashJoin", "CartesianProduct"),
    # month frame checkpointed (consumed 3x); self-join on cust×months
    "agg_revenue_bridge": (4, "BroadcastHashJoin", "CartesianProduct"),
    # HOF bit-fold is pure projection — scan-bound, ZERO shuffles
    "fn_zorder": (0, None, "Exchange"),
    # running max + record cumsum share one hash(user) exchange
    "win_records": (1, None, "CartesianProduct"),
    # bucket-count frame checkpointed; integer TV math on bucket frame
    "agg_drift_tv": (2, "BroadcastHashJoin", "CartesianProduct"),
    # sweep: running-max-of-ends + island cumsum + rollup on ONE
    # hash(user) exchange
    "win_interval_merge": (1, None, "CartesianProduct"),
    # all rules as conditional sums in ONE aggregate — one scan
    "agg_dq_checks": (1, None, "CartesianProduct"),
    # anchored half-life weights: one hash(entity) agg + anchor frame
    "agg_decay_score": (2, None, "CartesianProduct"),
    "agg_freshness": (2, None, "CartesianProduct"),
    # hash-agg stats + broadcast join back — facts scanned, never
    # shuffled (the r7f window→join rewrite)
    "agg_target_encode": (2, "BroadcastHashJoin", "CartesianProduct"),
    # month-grain contraction before the O(m²) pair self-join
    "agg_theil_sen": (4, None, "CartesianProduct"),
    "agg_kendall": (4, None, "CartesianProduct"),
    # three exact percentiles + fences share one hash(type) exchange
    "agg_boxplot": (1, None, "CartesianProduct"),
    "win_twr": (2, None, "CartesianProduct"),
    "agg_cohort_ltv": (4, None, "CartesianProduct"),
    # three FKs fused into ONE fact scan w/ chained broadcast joins
    "agg_ri_audit": (2, "BroadcastHashJoin", "SortMergeJoin"),
    "fn_calendar_spine": (1, None, "CartesianProduct"),
    # label×dim sums + norms broadcast onto the element stream
    "llm_embed_outliers": (6, "WindowGroupLimit", "CartesianProduct"),
    "win_percent_rank": (2, None, "CartesianProduct"),
    # pair-frame shuffles by design (Σ basket² self-join); item counts
    # and the 1-row order count broadcast onto the RULE frame
    "agg_basket_rules": (12, "BroadcastHashJoin", "CartesianProduct"),
}


@pytest.mark.parametrize("key", sorted(CONTRACTS))
def test_plan_contract(spark, key):
    max_ex, must, must_not = CONTRACTS[key]
    plan = plan_of(spark, key)
    got = shuffles(plan)
    assert got <= max_ex, (
        f"{key}: {got} shuffle Exchanges (contract ≤ {max_ex}) — plan "
        f"regressed:\n" + plan[:1500]
    )
    if must:
        assert must in plan, f"{key}: expected {must!r} in plan"
    if must_not:
        assert must_not not in plan, f"{key}: forbidden {must_not!r} in plan"


def test_no_key_plans_a_cartesian_product(spark):
    """Sweep the WHOLE registry. Streaming keys and scratch-render keys
    execute real jobs on plan access, so the sweep covers the batch
    keys whose builders return lazily (the vast majority); the handful
    of eager keys are exempted by name and covered by their own tests."""
    eager = {
        # these RUN work when invoked (streaming queries / scratch
        # renders / bucketed-table writes) — exercised elsewhere
        "stream_tumbling", "stream_sliding", "stream_session",
        "stream_trigger", "stream_dedup",
        "join_bucketed", "stream_join", "stream_funnel",
    }
    offenders = []
    for key in QUERIES:
        if key in eager:
            continue
        try:
            plan = plan_of(spark, key)
        except Exception:  # noqa: BLE001 — a key that can't plan at
            # sf0.001 is caught by the parity suite, not this sweep
            continue
        if "CartesianProduct" in plan:
            offenders.append(key)
    assert not offenders, f"CartesianProduct planned by: {offenders}"


def test_win_gap_fill_contract(spark):
    plan = plan_of(spark, "win_gap_fill")
    assert shuffles(plan) <= 2 and "Join" not in plan


def test_plan_budget_every_key(spark):
    """Full-registry plan budget (r8): every non-streaming key's
    shuffle-exchange count is snapshotted in tests/plan_budget.json and
    asserted as a ceiling, so a plan regression on ANY key — not just
    the hand-annotated CONTRACTS — turns the suite red. A key that
    legitimately changes shape (or a new key) gets its entry from the
    regeneration below, which rewrites only the keys named on its
    command line; each changed entry is justified in CHANGES.md, and
    every other entry is kept as it is:

        python - KEY [KEY ...] <<'PY'
        import json, sys
        from minerva_etl_46_spark.session import get_spark
        from tests.test_plan_contracts import plan_of, shuffles
        s = get_spark(cpus=8, shuffle_partitions=8)
        path = "tests/plan_budget.json"
        b = json.load(open(path))
        b.update({k: shuffles(plan_of(s, k)) for k in sys.argv[1:]})
        json.dump(dict(sorted(b.items())), open(path, "w"), indent=1)
        PY

    Streaming keys are excluded (their plans live inside the
    micro-batch engine — tests/test_stream_contracts.py pins their
    state-partition count and micro-batch count instead); the batch
    trigger_* keys are budgeted like any other key (r9)."""
    import json
    import pathlib

    budget = json.loads(
        (pathlib.Path(__file__).parent / "plan_budget.json").read_text())
    over, missing = [], []
    for key in QUERIES:
        if key.startswith("stream_"):
            continue
        if key not in budget:
            missing.append(key)
            continue
        got = shuffles(plan_of(spark, key))
        if got > budget[key]:
            over.append((key, got, budget[key]))
    assert not over, f"plan regressions (key, got, budget): {over}"
    assert not missing, (
        f"keys without a plan budget (regenerate the file): {missing}")
