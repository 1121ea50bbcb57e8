"""Document deduplication suite (SURVEY.md §2.11 X1/X2 — BASELINE-mandated
extension ops for LLM training-data pipelines; not in the reference).

Spark-first shapes, designed for 100 TB corpora:
- exact dedup: normalize → md5 → ONE hash-aggregation (group sizes +
  canonical id). No sort, no window: min(doc_id)/count per hash group.
- MinHash+LSH near-dup: shingle → k minhashes (xxhash64, JVM-side) →
  band buckets → candidate pairs ONLY within buckets (the cross-product
  never materializes) → exact Jaccard verification on candidates.
- SimHash: md5-derived 32-bit token hashes → per-bit majority vote —
  two hash-aggregations, fully cross-engine deterministic (oracle-able).

md5 (not xxhash64) wherever the value must match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def spread(df: DataFrame) -> DataFrame:
    """Fan a small-row-count / heavy-per-row-compute frame across all cores.

    Corpus tables often arrive as 1–2 input splits; the downstream
    explode+hash work then runs on 1–2 tasks no matter how many cores
    exist. One cheap round-robin shuffle of the *small* pre-explode frame
    buys full parallelism for the expensive stage. (At 100 TB inputs are
    already many splits and this repartition is a no-op by comparison —
    still correct, just unnecessary.)"""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def normalize_text(c: Column | str) -> Column:
    """Casefold + collapse whitespace + trim — the canonical pre-image for
    exact dedup. The whitespace class is EXPLICIT, never \\s: Java's \\s
    includes \\x0B, RE2's (the DuckDB oracles) does not, so \\s silently
    diverges the two engines on vertical-tab text (r11 adversarial-docs
    parity; the operators/textstats.py TOKEN_RE note). Oracle twin:
    trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))."""
    col = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(col), r"[ \t\n\x0B\f\r]+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """X1: exact duplicate groups over normalized text.

    Returns (norm_hash, canonical_id = min id, n_dups) — one hash-agg,
    scales linearly; the caller semi-joins to keep canonical docs.
    """
    h = F.md5(normalize_text(text_col)).alias("norm_hash")
    return df.select(F.col(id_col), h).groupBy("norm_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups")
    )


def tokens(c: Column | str, lowercase: bool = True) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    if lowercase:
        col = F.lower(col)
    return F.split(col, " ")


def shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles. Empty array when the doc has < n tokens
    (explicit guard: Spark's sequence(1, 0) counts DOWN, not empty).
    array_join∘slice, not n×element_at: same strings, 2.4× faster at the
    26M-gram probe scale (13 s vs 32 s — the shingle HOF is the dominant
    CPU cost of every dedup/decontamination pass)."""
    t = tokens(c)
    count = F.size(t) - (n - 1)
    make = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.array_join(F.slice(t, i, n), " "),
    )
    return F.when(count >= 1, make).otherwise(F.array().cast("array<string>"))


def _seeded_hash(sh: Column, seed: int, family: str) -> Column:
    """One member of the seeded hash family behind MinHash.

    - "xx": xxhash64(shingle, seed) — the production default (fastest,
      Spark-internal; no oracle crosses the value).
    - "md5": 60-bit md5-derived long — cross-engine reproducible, so a
      DuckDB oracle can replay the ENTIRE minhash→band→verify pipeline
      (queries.llm_dedup_near). The seeded hash runs over md5(g) (a
      fixed 32-char digest) rather than the raw gram: grams are ~100
      chars = two md5 blocks, so pre-digesting once and seeding over the
      one-block digest nearly halves the 32-seed family's cost. Mirror
      SQL: cast(concat('0x', substr(md5(concat(seed, '|', md5(g))), 1, 15))
      as bigint) (15 hex digits = 60 bits: stays inside signed BIGINT).
      minhash_signature passes the pre-computed digest as ``sh`` so the
      inner md5 runs once per gram, not once per seed."""
    if family == "xx":
        return F.xxhash64(sh, F.lit(seed))
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}|"), sh)), 1, 15), 16, 10
    ).cast("long")


def minhash_signature(df: DataFrame, id_col: str, text_col: str, k: int = 32,
                      shingle_n: int = 3, hash_family: str = "xx") -> DataFrame:
    """Per-doc MinHash signature: for each of k seeded hash functions, the
    min over the doc's shingle set. One explode + one hash-agg.
    ``hash_family`` picks xxhash64 (production) or md5 (oracle-replayable)
    — see _seeded_hash."""
    sh = spread(df).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("sh")
    )
    if hash_family == "md5":
        # digest each gram once; the 32-seed family hashes the one-block
        # digest instead of the ~two-block raw gram (see _seeded_hash)
        sh = sh.select(id_col, F.md5("sh").alias("sh"))
    mins = [
        F.min(_seeded_hash(F.col("sh"), i, hash_family)).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*mins)


def _banded_long(sig: DataFrame, id_col: str, k: int, bands: int,
                 hash_family: str) -> DataFrame:
    """Signature frame → long (id, band_id, bh) band-bucket rows."""
    r = k // bands
    if hash_family == "xx":
        band_cols = [
            F.xxhash64(*[F.col(f"mh{b * r + j}") for j in range(r)]).alias(f"band{b}")
            for b in range(bands)
        ]
    else:
        # md5 over the pipe-joined decimal strings — DuckDB mirror:
        # md5(string_agg(cast(mh as varchar), '|' order by seed)) per band
        band_cols = [
            F.md5(F.concat_ws("|", *[
                F.col(f"mh{b * r + j}").cast("string") for j in range(r)
            ])).alias(f"band{b}")
            for b in range(bands)
        ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("bh"))
                for b in range(bands)
            ])
        ).alias("e"),
    ).select(id_col, "e.band_id", "e.bh")


def _cap_buckets(band_rows: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop the band rows of (band_id, bh) buckets holding more than
    ``max_bucket_size`` rows. The size is a count window over the bucket
    key, not a join against a grouped copy: the rows are banded once,
    and a frame already partitioned on the key is not shuffled again."""
    return (band_rows
            .withColumn("__n", F.count(F.lit(1)).over(
                Window.partitionBy("band_id", "bh")))
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n"))


def lsh_candidates_against(query_sig: DataFrame, index_sig: DataFrame,
                           id_col: str, k: int = 32, bands: int = 8,
                           hash_family: str = "xx",
                           max_bucket_size: int | None = None) -> DataFrame:
    """Asymmetric LSH: candidate (query, index) pairs for NEW docs against
    an EXISTING corpus — the incremental-ingest shape. A batch of new
    documents lands; instead of re-running pairwise dedup over the whole
    corpus (the full self-join re-shuffles corpus-scale band rows every
    batch), only the new docs' band rows probe the corpus's band rows on
    (band_id, band_hash). Work ∝ |new| × bands + matched buckets —
    independent of corpus size given stored signatures. At 100 TB the
    index side is a materialized signature table (computed once per doc at
    ingest, exactly like this function's input); the probe side is the
    day's arrivals. Returns (q_id, i_id) distinct candidate pairs.

    ``max_bucket_size`` is the same hot-bucket guard as the symmetric
    lsh_candidate_pairs: one template/boilerplate band bucket
    in the STORED corpus would otherwise fan every matching new doc out
    against the whole bucket on every batch, unbounded in corpus size —
    exactly the degenerate case the cap exists for. Oversized index-side
    buckets are dropped before the probe join (recall on boilerplate
    buckets is the documented trade, as in the symmetric path)."""
    # no localCheckpoint on either signature: each side feeds exactly
    # one banding, so a cut would only pin storage, saving no recompute
    qb = _banded_long(query_sig, id_col, k, bands, hash_family)
    ib = _banded_long(index_sig, id_col, k, bands, hash_family)
    ibl = ib.select(F.col(id_col).alias("i_id"), "band_id", "bh")
    if max_bucket_size is not None:
        ibl = _cap_buckets(ibl, max_bucket_size)
    return (
        qb.select(F.col(id_col).alias("q_id"), "band_id", "bh")
        .join(ibl, ["band_id", "bh"])
        .select("q_id", "i_id")
        .distinct()
    )


def incremental_near_dup(corpus: DataFrame, batch: DataFrame, id_col: str,
                         text_col: str, k: int = 32, bands: int = 16,
                         shingle_n: int = 3, threshold: float = 0.5,
                         hash_family: str = "xx",
                         corpus_sig: DataFrame | None = None,
                         max_bucket_size: int | None = None) -> DataFrame:
    """X2f: near-dup pairs of a NEW batch against an EXISTING corpus —
    the production incremental-ingest composition:

    1. corpus signatures come from a STORED table (``corpus_sig``,
       computed once per doc at ingest; recomputed here only when None —
       fixture/oracle mode);
    2. the batch's band rows probe the corpus band rows
       (lsh_candidates_against) — never a corpus self-join;
    3. exact-Jaccard verify runs over ONLY the docs appearing in candidate
       pairs (semi-join restriction): the shingle explode — the dominant
       CPU cost — is candidate-bounded, not corpus-bounded.

    Per-batch work ∝ |batch| + |candidates|, independent of corpus size.
    Returns (a_id = batch doc, b_id = corpus doc, n_inter, jaccard).

    Re-ingest contract (r10 review): a doc id present in BOTH corpus and
    batch is an UPDATE of that doc, not a duplicate of itself — the
    self-pair is dropped, the batch's text is the single copy used in
    verification (the corpus row for that id is excluded, otherwise the
    doubled rows inflate its shingle counts and corrupt the Jaccard of
    every pair it appears in)."""
    if corpus_sig is None:
        corpus_sig = minhash_signature(corpus, id_col, text_col, k=k,
                                       shingle_n=shingle_n,
                                       hash_family=hash_family)
    q_sig = minhash_signature(batch, id_col, text_col, k=k,
                              shingle_n=shingle_n, hash_family=hash_family)
    cand = lsh_candidates_against(q_sig, corpus_sig, id_col, k=k,
                                  bands=bands, hash_family=hash_family,
                                  max_bucket_size=max_bucket_size)
    pairs = cand.filter(F.col("q_id") != F.col("i_id")).select(
        F.col("q_id").alias("a_id"), F.col("i_id").alias("b_id")
    ).localCheckpoint(eager=False)  # consumed twice: id set + verify join
    ids = (
        pairs.select(F.col("a_id").alias(id_col))
        .unionByName(pairs.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    relevant = (
        corpus.join(batch.select(id_col), id_col, "left_anti")
        .unionByName(batch)
        .join(ids, id_col, "left_semi")
    )
    return jaccard_verify(relevant, pairs, id_col, text_col,
                          shingle_n=shingle_n, threshold=threshold)


def lsh_candidate_pairs(sig: DataFrame, id_col: str, k: int = 32,
                        bands: int = 8,
                        max_bucket_size: int | None = None,
                        hash_family: str = "xx") -> DataFrame:
    """Band the signature and emit candidate pairs (a < b) that share at
    least one band bucket. The join key is (band_id, band_hash): only
    same-bucket docs ever meet — no quadratic blowup at corpus scale for
    ORGANIC near-dups.

    max_bucket_size is the guard for the remaining quadratic risk:
    template/boilerplate clusters (n docs sharing a band bucket emit
    n²/2 pairs — one 100k-doc template bucket is 5e9 pairs). Buckets
    larger than the cap are dropped BEFORE the self-join (one cheap agg
    over band rows); members of a dropped bucket can still pair through
    their other, more selective bands. Docs that are byte-identical
    belong to the exact-dedup pass upstream, and mega-clusters are better
    handled by cluster-level sampling than pairwise verification — the
    cap makes that policy explicit instead of letting one bucket own the
    job. None disables the cap (fixture-scale default)."""
    # The self-join below must not evaluate the minhash pipeline twice.
    # A localCheckpoint(eager=False) lineage cut would pin the signature
    # frame deserialized in executor storage (never unpersisted) and is
    # not fault-tolerant. Instead, repartition the band rows on the JOIN
    # KEY once: both self-join sides then hang off byte-identical
    # Exchange subtrees, ReuseExchange computes the minhash+banding map
    # side ONCE, and the join needs no further shuffle (guide §2.4 "two
    # operations keyed the same way can share one exchange"). Zero
    # storage footprint, recomputable on executor loss.
    long_ = _banded_long(sig, id_col, k, bands, hash_family) \
        .repartition("band_id", "bh")
    if max_bucket_size is not None:
        long_ = _cap_buckets(long_, max_bucket_size)
    a = long_.select(F.col(id_col).alias("a_id"), "band_id", "bh")
    b = long_.select(F.col(id_col).alias("b_id"), "band_id", "bh")
    return (
        a.join(b, ["band_id", "bh"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def jaccard_verify(df: DataFrame, pairs: DataFrame, id_col: str, text_col: str,
                   shingle_n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: explode both docs' distinct
    shingle sets, count intersections via an equi-join on the shingle, and
    |A∪B| = |A|+|B|−|A∩B|. All integer arithmetic until the final
    deterministic division."""
    df = spread(df)
    sh = df.select(
        F.col(id_col).alias("jid"),
        F.explode(F.array_distinct(shingles(text_col, shingle_n))).alias("sh"),
    )
    # the per-doc set size rides each shingle row via ONE count window
    # over jid: no size join and no second explode branch, and no
    # storage pinning. n_sh is exact and constant within a doc, so
    # min() below recovers it losslessly per pair.
    sh = sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("jid")))
    a_sh = sh.select(F.col("jid").alias("a_id"), "sh",
                     F.col("n_sh").alias("n_a"))
    b_sh = sh.select(F.col("jid").alias("b_id"), F.col("sh"),
                     F.col("n_sh").alias("n_b"))
    inter = (
        pairs.join(a_sh, "a_id").join(b_sh, ["b_id", "sh"])
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("n_inter"),
             F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b"))
    )
    out = inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "a_id", "b_id", "n_inter", "jaccard"
    )


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per doc with md5-derived token hashes (cross-engine
    reproducible — oracle mirrors the same arithmetic).

    Per-bit majority over token hashes: explode(tokens × 32 bits) →
    sum(±1) per (doc, bit) → Σ 2^bit where the vote is positive.
    """
    tok = spread(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h32", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"))
    bits = tok.select(
        id_col, "h32", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("i")
    ).withColumn(
        "vote",
        F.when(
            (F.floor(F.col("h32") / F.pow(F.lit(2.0), F.col("i"))).cast("long") % 2) == 1,
            1,
        ).otherwise(-1),
    )
    votes = bits.groupBy(id_col, "i").agg(F.sum("vote").alias("s"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("i")).cast("long")).otherwise(0)
        ).alias("simhash")
    )


def connected_components(edges: DataFrame, a_col: str = "a_id",
                         b_col: str = "b_id", max_iter: int = 20) -> DataFrame:
    """Dedup group formation: connected components over the near-dup pair
    graph → (node, group_id = min doc id in the component).

    Iterative min-label propagation: each round every node adopts the
    smallest label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup components are tiny — pairs,
    chains of mutated copies). Each round is one shuffle; the frame is
    pair-scale, not corpus-scale. localCheckpoint per round keeps the plan
    from growing unboundedly (lineage cut, not caching semantics).
    """
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the round's label changes are counted by the checkpoint's own
        # job (observe), so a round is one action
        moved = Observation()
        labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
                .alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .observe(moved, F.count(F.when(
                F.col("new_label") != F.col("old_label"), 1)).alias("n"))
            .select("node", F.col("new_label").alias("label"))
            .localCheckpoint(eager=True)
        )
        if moved.get["n"] == 0:
            break
    else:
        # exhausting max_iter with labels still moving means some
        # component's diameter exceeds the budget — returning the
        # half-propagated labels would SILENTLY split that component
        # into several "canonical" docs (dedup under-removal with no
        # signal). Converge-or-raise: near-dup components
        # are chains of mutated copies, so a diameter past the budget
        # is itself a data smell worth surfacing.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — a component's diameter exceeds the budget; "
            "raise max_iter (rounds cost one shuffle each) or break the "
            "mega-component upstream (exact-dedup its template cluster)")
    return labels.select(F.col("node"), F.col("label").alias("group_id"))


def contamination_scores(docs: DataFrame, id_col: str, text_col: str,
                         bench_pred, gram_n: int = 5,
                         flag_threshold: float = 0.2,
                         broadcast_bench: bool = True) -> DataFrame:
    """Benchmark decontamination (the eval-leakage gate a training corpus
    runs before export): for every candidate doc, the fraction of its
    distinct word n-grams that appear anywhere in the benchmark set.

    ``bench_pred`` is a Column predicate selecting benchmark docs (e.g. an
    eval-set membership flag). Scale shape: benchmark n-grams are a
    distinct-projected SMALL side (eval suites are MBs, corpora are TBs)
    joined against the corpus's exploded distinct grams on the gram string;
    then one hash-agg per doc whose partial aggregation collapses the
    fan-out map-side. ``broadcast_bench`` forces the broadcast hint —
    REQUIRED at scale: the localCheckpoint hides size stats from Catalyst,
    which then plans a SortMergeJoin that shuffles every corpus gram
    (measured at 1M docs: 71 s SMJ vs 11 s broadcast, scale_probe.py).
    Disable only for a benchmark set too big for executor memory. Docs
    with < gram_n tokens have no grams and are absent from the output
    (same contract as the MinHash path: gram-less docs can't leak
    n-grams).
    """
    d = spread(docs)
    # each side filters BEFORE its own gram explode: the benchmark side
    # explodes only benchmark docs (a checkpoint-shared explode was
    # measured to materialize the full corpus fan-out just to extract the
    # bench grams — 87 s vs 11 s at 1M docs)
    bench = (
        d.filter(bench_pred)
        .select(F.explode(F.array_distinct(shingles(text_col, gram_n))).alias("g"))
        .distinct()
    )
    if broadcast_bench:
        bench = F.broadcast(bench)
    grams = d.filter(~bench_pred).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, gram_n))).alias("g"),
    )
    scored = (
        grams
        .join(bench.withColumn("__hit", F.lit(1)), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_hit"),
        )
    )
    return scored.select(
        id_col, "n_grams", "n_hit",
        (F.col("n_hit") / F.col("n_grams")).alias("contamination"),
        (F.col("n_hit") / F.col("n_grams") >= flag_threshold).alias("contaminated"),
    )
