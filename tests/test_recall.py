"""Recall floors for the probabilistic scale paths (VERDICT r1 items 6/7).

The LSH dedup pipeline and the SRP-ANN similarity path are rows-only in the
driver's oracle gate because their recall is probabilistic — so the recall
itself is asserted HERE, against the exact paths on the same fixtures:

- dedup: lsh_candidate_pairs → jaccard_verify → connected_components vs
  exact all-pairs Jaccard ground truth (recall floor 0.9; measured 1.0 at
  k=32, bands=8 with exactly |truth| candidates — zero wasted verification)
- similarity: cosine_topk_ann vs cosine_topk_bruteforce recall@5 (floor
  0.8; measured 1.0 at nbits=16, bands=8 — see cosine_topk_ann's docstring
  for the band-width trade; bands=2 measures 0.0 on this weakly-similar
  corpus, which is why the default changed)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from minerva_etl_46_spark.operators.dedup import (
    connected_components,
    jaccard_verify,
    lsh_candidate_pairs,
    minhash_signature,
)
from minerva_etl_46_spark.operators.similarity import (
    cosine_topk_ann,
    cosine_topk_bruteforce,
)

SF = "/root/testdata/sf0.01"


def _pairs(pdf) -> set[tuple]:
    return set(map(tuple, pdf.values))


def test_dedup_pipeline_recall_and_groups(spark):
    """Production composition end-to-end: LSH candidates → exact-Jaccard
    verification → connected components, compared against the exact
    all-pairs path (feasible only at fixture scale — that's the point)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").localCheckpoint(eager=True)

    all_pairs = (
        docs.select(F.col("doc_id").alias("a_id"))
        .crossJoin(docs.select(F.col("doc_id").alias("b_id")))
        .filter(F.col("a_id") < F.col("b_id"))
    )
    truth = _pairs(
        jaccard_verify(docs, all_pairs, "doc_id", "text", threshold=0.5)
        .select("a_id", "b_id").toPandas()
    )
    assert truth, "fixture has no J>=0.5 near-dup pairs; recall test is vacuous"

    sig = minhash_signature(docs, "doc_id", "text", k=32)
    cands = lsh_candidate_pairs(sig, "doc_id", k=32, bands=8)
    verified_df = jaccard_verify(docs, cands, "doc_id", "text", threshold=0.5)
    got = _pairs(verified_df.select("a_id", "b_id").toPandas())

    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"LSH dedup recall {recall:.3f} < 0.9 ({len(truth)} truth pairs)"
    # exact verification on candidates ⇒ no false positives
    assert got <= truth, f"false-positive pairs after exact verify: {got - truth}"

    # group formation agrees with components over the ground-truth graph
    got_groups = connected_components(verified_df).toPandas()
    want_groups = connected_components(
        spark.createDataFrame(
            sorted((int(a), int(b)) for a, b in truth), "a_id long, b_id long"
        )
    ).toPandas()
    got_map = dict(zip(got_groups["node"], got_groups["group_id"]))
    want_map = dict(zip(want_groups["node"], want_groups["group_id"]))
    assert got_map == want_map, "dedup group assignment diverges from exact components"


def test_lsh_bucket_cap_bounds_template_blowup(spark):
    """A template cluster (n near-identical docs) lands in shared band
    buckets and emits ~n²/2 candidate pairs — the quadratic risk the
    max_bucket_size cap exists for. The cap must crush the template
    pair count while leaving organic planted pairs untouched."""
    from pyspark.sql import functions as F

    from scale_probe import synth_docs

    organic = synth_docs(spark, 2000)
    common = " ".join(f"t{i}" for i in range(29))
    template = spark.range(64).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(F.lit(common + " v"), F.col("id").cast("string")).alias("text"),
    )
    corpus = organic.unionByName(template).localCheckpoint(eager=True)

    sig = minhash_signature(corpus, "doc_id", "text", k=32)
    sig = sig.localCheckpoint(eager=True)
    uncapped = lsh_candidate_pairs(sig, "doc_id", k=32, bands=16)
    capped = lsh_candidate_pairs(sig, "doc_id", k=32, bands=16,
                                 max_bucket_size=16)

    n_template_unc = uncapped.filter(F.col("a_id") >= 100_000).count()
    n_template_cap = capped.filter(F.col("a_id") >= 100_000).count()
    assert n_template_unc >= 64 * 63 // 2 * 0.9, "template cluster not colliding?"
    assert n_template_cap < n_template_unc / 10, \
        f"cap ineffective: {n_template_cap} vs {n_template_unc}"

    planted = {(i - 1, i) for i in range(1, 2000, 10)}
    got = _pairs(capped.filter(F.col("a_id") < 100_000)
                 .select("a_id", "b_id").toPandas())
    found = len(planted & got) / len(planted)
    assert found >= 0.99, f"cap damaged organic candidate recall: {found:.3f}"


def _final_plan(df) -> str:
    """The AQE-final physical plan of ``df`` after one collect."""
    df.collect()
    return (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])


def test_lsh_bucket_cap_keeps_one_banding(spark):
    """The bucket cap sizes each (band_id, bh) bucket with a count window
    over that key, not a join against a grouped copy of the band rows.
    So the capped AQE-final plans explode shingles and bands (Generate)
    as often as the uncapped ones, and the symmetric self-join still
    reads its one band exchange twice (ReusedExchange). Sort-merge joins
    only: a broadcast side shares no exchange."""
    from minerva_etl_46_spark.operators.dedup import lsh_candidates_against
    from scale_probe import synth_docs

    docs = synth_docs(spark, 60)
    sig = minhash_signature(docs, "doc_id", "text", k=32)
    batch_sig = minhash_signature(docs.filter(F.col("doc_id") % 10 == 1),
                                  "doc_id", "text", k=32)
    builds = {
        "lsh_candidate_pairs": lambda cap: lsh_candidate_pairs(
            sig, "doc_id", k=32, bands=16, max_bucket_size=cap),
        "lsh_candidates_against": lambda cap: lsh_candidates_against(
            batch_sig, sig, "doc_id", k=32, bands=16, max_bucket_size=cap),
    }
    conf = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        plans = {(name, cap): _final_plan(build(cap))
                 for name, build in builds.items() for cap in (None, 16)}
    finally:
        spark.conf.set(conf, prev)
    for name in builds:
        assert (plans[name, 16].count("Generate ")
                == plans[name, None].count("Generate ")), name
    assert "ReusedExchange" in plans["lsh_candidate_pairs", 16]


def test_sim_ann_recall_floor(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(eager=True)
    exact = _pairs(cosine_topk_bruteforce(emb).select("q_id", "c_id").toPandas())
    ann = _pairs(cosine_topk_ann(emb).select("q_id", "c_id").toPandas())
    recall = len(exact & ann) / len(exact)
    assert recall >= 0.8, f"ANN recall@5 {recall:.3f} < 0.8 ({len(exact)} exact rows)"


def test_embed_near_dup_recall_floor(spark):
    """Semantic-dedup scale path: SRP-bucketed pair generation + exact
    cosine vs the all-pairs baseline (threshold 0.25, full 500-vec
    corpus). Measured 0.967 at nbits=16/bands=8; exact verification means
    zero false positives by construction — asserted anyway."""
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.operators.similarity import (
        _dot_dec,
        _norm2_dec,
        cosine_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(eager=True)
    n = emb.select(F.col("vec_id"), F.col("embedding"),
                   _norm2_dec(F.col("embedding")).alias("nrm2"))
    a = n.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"),
                 F.col("nrm2").alias("a_nrm2"))
    b = n.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"),
                 F.col("nrm2").alias("b_nrm2"))
    cos = (_dot_dec(F.col("a_vec"), F.col("b_vec"))
           / F.sqrt(F.col("a_nrm2") * F.col("b_nrm2")))
    truth = _pairs(
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id").where(cos >= 0.25).toPandas()
    )
    got = _pairs(cosine_near_dup_pairs(emb).select("a_id", "b_id").toPandas())
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"embed near-dup recall {recall:.3f} < 0.9"
    assert got <= truth, "false-positive pairs after exact cosine verify"


def test_sim_ivf_recall_floor(spark):
    """IVF scale path with the sample-fit balanced cells (measured 0.867 at
    cells=16/probe=10; probe 4/6/8 measure 0.4/0.6/0.73 — the fixture is
    weakly clustered so recall tracks probed fraction; the floor guards
    the probe-width tuning and the fit/assignment determinism)."""
    from minerva_etl_46_spark.operators.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").localCheckpoint(eager=True)
    exact = _pairs(cosine_topk_bruteforce(emb).select("q_id", "c_id").toPandas())
    ivf = _pairs(
        cosine_topk_ivf(emb, n_cells=16, n_probe=10).select("q_id", "c_id").toPandas()
    )
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.85, f"IVF recall@5 {recall:.3f} < 0.85"


def test_srp_dim_inferred_and_mismatch_raises(spark):
    """ADVICE r02: SRP planes must match the data's dimensionality. Mixed
    lengths fail loudly instead of silently collapsing recall."""
    import pytest

    from minerva_etl_46_spark.operators.similarity import cosine_near_dup_pairs

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 8), (3, [-1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    # dim inferred as 8 (not the old hardcoded 64): runs and returns a frame
    cosine_topk_ann(emb, query_mod=1, k=1).collect()

    mixed = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.5] * 4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="SRP plane dim"):
        cosine_near_dup_pairs(mixed, threshold=0.0).collect()


def test_srp_signature_paths_match_numpy_reference(spark):
    """srp_signature has two implementations (codegen literals vs
    Arrow/numpy matmul for wide nbits×dim — r5). Both must produce the
    bit pattern of sign(planes @ v) per the SAME planes; pinned here
    against an independent numpy computation, including bit 63 (the
    long's sign bit) on the wide path."""
    import numpy as np

    from minerva_etl_46_spark.operators.similarity import srp_signature

    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((20, 32)).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )

    for nbits in (8, 64):  # 8×32=256 → codegen path; 64×32=2048 → wide/numpy
        planes = rng.standard_normal((nbits, 32))
        got = {
            r["vec_id"]: r["sig"]
            for r in emb.select(
                "vec_id",
                srp_signature(F.col("embedding"), planes).alias("sig"),
            ).collect()
        }
        dots = vecs.astype("float64") @ planes.T          # (20, nbits)
        w = 1 << np.arange(nbits, dtype=np.uint64)
        want = ((dots >= 0).astype(np.uint64) * w).sum(
            axis=1, dtype=np.uint64
        ).view(np.int64)
        for i in range(len(vecs)):
            assert got[i] == int(want[i]), (nbits, i)


def test_asymmetric_lsh_bucket_cap_bounds_stored_template(spark):
    """ADVICE r4: the incremental-ingest probe path needs the same
    hot-bucket guard as the symmetric path — a template band bucket in
    the STORED corpus signatures would otherwise fan every matching new
    doc out against the whole bucket on every batch. The cap must crush
    template fan-out while keeping organic batch→corpus candidates."""
    from pyspark.sql import functions as F

    from minerva_etl_46_spark.operators.dedup import lsh_candidates_against
    from scale_probe import synth_docs

    organic = synth_docs(spark, 2000)
    common = " ".join(f"t{i}" for i in range(29))
    template = spark.range(64).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(F.lit(common + " v"), F.col("id").cast("string")).alias("text"),
    )
    corpus = organic.unionByName(template).localCheckpoint(eager=True)
    # batch: the planted near-dups (id % 10 == 1 copies id-1) + one
    # fresh template instance that collides with the stored cluster
    batch = organic.filter(F.col("doc_id") % 10 == 1).unionByName(
        spark.range(1).select(
            F.lit(200_000).alias("doc_id"),
            F.lit(common + " vNEW").alias("text"),
        )
    ).localCheckpoint(eager=True)

    c_sig = minhash_signature(corpus, "doc_id", "text", k=32)
    b_sig = minhash_signature(batch, "doc_id", "text", k=32)
    uncapped = lsh_candidates_against(b_sig, c_sig, "doc_id", k=32, bands=16)
    capped = lsh_candidates_against(b_sig, c_sig, "doc_id", k=32, bands=16,
                                    max_bucket_size=16)

    tpl_unc = uncapped.filter(F.col("q_id") == 200_000).count()
    tpl_cap = capped.filter(F.col("q_id") == 200_000).count()
    assert tpl_unc >= 60, f"template probe not colliding? {tpl_unc}"
    assert tpl_cap < tpl_unc / 10, f"cap ineffective: {tpl_cap} vs {tpl_unc}"

    planted = {(i, i - 1) for i in range(1, 2000, 10)}
    got = {(r["q_id"], r["i_id"])
           for r in capped.filter(F.col("q_id") < 100_000).collect()}
    found = len(planted & got) / len(planted)
    assert found >= 0.99, f"cap damaged organic candidate recall: {found:.3f}"
