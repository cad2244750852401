"""Candidate generation + verification (SURVEY.md B4/B5/B6/B7/B8).

All relational, all JVM-side (whole-stage codegen; zero Python):

- buckets from exploded band hashes / anchor shingles / simhash block keys;
- deterministic oversize-bucket cap: row_number over (key ORDER BY doc_id)
  <= cfg.max_bucket_size — the degenerate-boilerplate guard (the dedup-side
  twin of the reference's mega-domain serialization, rate_limiter.go:14-20);
  capping via window avoids collect_list memory blowups on hot buckets;
- candidate pairs by window-capped buckets + grouped higher-order pair
  explosion (a < b), one exchange; AQE handles residual key skew;
- verify via size(array_intersect(...)) on the distinct-shingle arrays =>
  exact Jaccard and containment, matching the oracle bit-for-bit;
- SimHash verify via bit_count(a ^ b) <= hamming (Spark >= 3.5 built-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_spark.config import DedupConfig, DEFAULT_CONFIG


def _pairs_from_capped(capped: DataFrame) -> DataFrame:
    """(key, doc_id) with bounded bucket sizes -> distinct (a < b) pairs.

    groupBy reuses the window's hash partitioning on key (no extra
    exchange); pair explosion is a narrow higher-order-function pass
    (collect_list is safe: bucket size is already capped)."""
    grouped = (
        capped.groupBy("key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.a", "p.b").distinct()


def _capped_pairs(buckets: DataFrame, cap: int) -> DataFrame:
    """buckets(key, doc_id) -> distinct candidate pairs (a < b), keeping only
    the `cap` smallest doc_ids per key (deterministic, matches the oracle).

    The window cap (not collect-then-truncate) keeps memory bounded even for
    degenerate buckets with 10^8 members: nothing ever materializes more
    than `cap` ids per key."""
    w = Window.partitionBy("key").orderBy("doc_id")
    capped = (
        buckets.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    return _pairs_from_capped(capped)


def lsh_candidates(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """B4/B5: band-hash buckets (band index baked into the hash seed)."""
    buckets = sigs.select(
        F.explode("bands").alias("key"), F.col("doc_id")
    )
    return _capped_pairs(buckets, cfg.max_bucket_size)


def _anchor_tier1(
    pairs_with_shared: DataFrame,
    kept_counts: DataFrame,
    cfg: DedupConfig,
    with_len: bool,
) -> DataFrame:
    """Two-tier containment verify, tier 1: keep anchor pairs whose ESTIMATED
    containment shared_kept_anchors / min(KEPT anchors) clears tau - margin.
    The denominator counts only anchors that survived the oversized-bucket
    drop — the estimator stays unbiased however much boilerplate the corpus
    carries (dividing by ALL anchors collapses recall on dense corpora).
    Scalar-only join — the expensive shingle arrays never move for the
    (vast) rejected majority.

    ``with_len=True`` needs an ``n_chars`` column in ``kept_counts``; the
    survivors then come out as (a, b, len_a, len_b) — build_edges piggybacks
    the substring pass's length gate on this join so it costs zero
    additional joins."""
    ka = kept_counts.select(
        F.col("doc_id").alias("a"),
        F.col("n_kept").alias("kept_a"),
        *([F.col("n_chars").alias("len_a")] if with_len else []),
    )
    kb = kept_counts.select(
        F.col("doc_id").alias("b"),
        F.col("n_kept").alias("kept_b"),
        *([F.col("n_chars").alias("len_b")] if with_len else []),
    )
    thresh = cfg.containment_tau - cfg.anchor_est_margin
    out_cols = ["a", "b"] + (["len_a", "len_b"] if with_len else [])
    return (
        pairs_with_shared.join(ka, "a")
        .join(kb, "b")
        .filter(
            F.col("n_shared") / F.least("kept_a", "kept_b") >= F.lit(thresh)
        )
        .select(*out_cols)
    )


def _kept_anchor_stream(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(key, doc_id) anchor rows surviving the oversized-bucket drop."""
    buckets = sigs.select(F.explode("anchors").alias("key"), F.col("doc_id"))
    w = Window.partitionBy("key")
    return (
        buckets.withColumn("sz", F.count("*").over(w))
        .filter(F.col("sz") <= cfg.anchor_max_bucket)
        .drop("sz")
    )


def anchor_candidates(
    sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    persisted_out: list[DataFrame] | None = None,
    with_len: bool = False,
) -> DataFrame:
    """B8 candidates: docs sharing anchor shingles (hash % mod == 0).

    Oversized anchor buckets are DROPPED, not truncated: a shingle shared by
    > anchor_max_bucket docs is boilerplate (no containment signal), and
    truncation would still emit O(cap^2) garbage pairs per stop-shingle,
    while genuine containment pairs are also discoverable via rare anchors.
    The pair stream carries shared-anchor counts (a groupBy instead of
    distinct — same shuffle) feeding the tier-1 containment estimate.

    The kept-anchor stream is persisted: its two consumers (the bucket
    groupBy and the per-doc kept counts) would otherwise each re-run the
    explode + count-over-window subtree (round 6; same persisted_out
    unpersist convention as build_edges).

    ``with_len=True`` threads ``sigs``' n_chars through the tier-1 join so
    survivors come out as (a, b, len_a, len_b) — the substring pass's
    length gate then costs ZERO pair-level joins (one scalar join on the
    small per-doc kept set instead of two joins on the pair stream; the
    same piggyback build_edges uses).
    """
    kept = _kept_anchor_stream(sigs, cfg).persist()
    if persisted_out is not None:
        persisted_out.append(kept)
    grouped = (
        kept.groupBy("key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), y -> "
                "struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    shared = pairs.groupBy("p.a", "p.b").agg(F.count("*").alias("n_shared"))
    kept_counts = kept.groupBy("doc_id").agg(F.count("*").alias("n_kept"))
    if with_len:
        kept_counts = kept_counts.join(sigs.select("doc_id", "n_chars"), "doc_id")
    return _anchor_tier1(shared, kept_counts, cfg, with_len=with_len)


def simhash_candidates(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """B7 pigeonhole: <= hamming differing bits over B blocks => at least one
    (B - hamming)-block table key matches (hashing.simhash_block_keys)."""
    buckets = sigs.filter(F.col("n_shingles") > 0).select(
        F.explode("sim_blocks").alias("key"), F.col("doc_id")
    )
    return _capped_pairs(buckets, cfg.max_bucket_size)


def verify_candidates(
    pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """B6: Jaccard + containment for candidate pairs. Output:
    (a, b, inter, jaccard, containment) — all JVM-side, no Arrow round-trip.

    verify_mode="exact": joins the distinct-shingle arrays and computes
    exact metrics via array_intersect (bit-identical to the oracle).

    verify_mode="signature": the extreme-scale path — the shingle arrays
    (text-sized) never move; Jaccard is the fraction of equal MinHash
    components (unbiased estimator) and inter/containment derive from it via
    inter = J*(na+nb)/(1+J). Callers lower tau by cfg.signature_tau_margin.

    A mode/schema mismatch (signature-mode signatures fed to an exact-mode
    verify) fails loudly here instead of silently emitting zero edges.
    """
    if cfg.verify_mode == "exact":
        if "shingles" not in sigs.columns:
            raise ValueError(
                "verify_mode='exact' but the signatures carry no 'shingles' "
                "column — they were computed with verify_mode='signature'. "
                "Recompute signatures or set cfg.verify_mode='signature'."
            )
        sa = sigs.select(
            F.col("doc_id").alias("a"),
            F.col("shingles").alias("sh_a"),
            F.col("n_shingles").alias("na"),
        )
        sb = sigs.select(
            F.col("doc_id").alias("b"),
            F.col("shingles").alias("sh_b"),
            F.col("n_shingles").alias("nb"),
        )
        return (
            pairs.join(sa, "a")
            .join(sb, "b")
            .filter((F.col("na") > 0) & (F.col("nb") > 0))
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
            )
            .withColumn("containment", F.col("inter") / F.least("na", "nb"))
            .select("a", "b", "inter", "jaccard", "containment")
        )
    if cfg.verify_mode != "signature":
        raise ValueError(f"unknown verify_mode {cfg.verify_mode!r}")
    sa = sigs.select(
        F.col("doc_id").alias("a"),
        F.col("minhash").alias("mh_a"),
        F.col("n_shingles").alias("na"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("b"),
        F.col("minhash").alias("mh_b"),
        F.col("n_shingles").alias("nb"),
    )
    # fraction of equal signature components; empty-shingle docs carry the
    # all-ones sentinel signature (would spuriously match), hence na/nb > 0
    eq = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    est_j = eq / F.lit(float(cfg.minhash_k))
    est_inter = est_j * (F.col("na") + F.col("nb")) / (F.lit(1.0) + est_j)
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .withColumn("jaccard", est_j)
        .withColumn("inter", est_inter)
        .withColumn("containment", F.col("inter") / F.least("na", "nb"))
        .select("a", "b", "inter", "jaccard", "containment")
    )


def exact_edges(sigs: DataFrame) -> DataFrame:
    """B1: sha256 groups -> (min_id, other) edges."""
    w = Window.partitionBy("sha256")
    return (
        sigs.select("sha256", "doc_id")
        .withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(
            F.col("root").alias("a"),
            F.col("doc_id").alias("b"),
            F.lit("exact").alias("kind"),
        )
    )


def simhash_edges(
    pairs: DataFrame, sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """B7 verify: Hamming distance over the 64-bit fingerprints."""
    fa = sigs.select(F.col("doc_id").alias("a"), F.col("simhash").alias("fp_a"))
    fb = sigs.select(F.col("doc_id").alias("b"), F.col("simhash").alias("fp_b"))
    return (
        pairs.join(fa, "a")
        .join(fb, "b")
        .filter(F.expr("bit_count(fp_a ^ fp_b)") <= cfg.simhash_hamming)
        .select("a", "b", F.lit("simhash").alias("kind"))
    )


def bucket_rows(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """UNCAPPED (gen, key, doc_id) bucket rows for all candidate
    generators. The incremental path consumes this directly: a batch's
    rows must reach the combined cap re-decision uncapped, because a
    batch-local cap can hide that a key was touched at all (operators/
    incremental.py)."""
    bands = sigs.select(
        F.lit("lsh").alias("gen"), F.explode("bands").alias("key"), F.col("doc_id")
    )
    anchors = sigs.select(
        F.lit("anchor").alias("gen"), F.explode("anchors").alias("key"), F.col("doc_id")
    )
    buckets = bands.unionByName(anchors)
    if cfg.simhash_edges:
        # the sim-block stream is ~C(6,3)=20 keys/doc — only pay for it when
        # simhash edges are part of the union (config.py rationale)
        sims = sigs.filter(F.col("n_shingles") > 0).select(
            F.lit("sim").alias("gen"),
            F.explode("sim_blocks").alias("key"),
            F.col("doc_id"),
        )
        buckets = buckets.unionByName(sims)
    return buckets


def unified_capped_buckets(
    sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(gen, key, doc_id) bucket rows for all three candidate generators
    after ONE exchange and the per-generator cap policies (truncate to
    max_bucket_size for lsh/simhash, drop-if-over anchor_max_bucket for
    anchors) — two window functions over the same (gen, key) partitioning.
    """
    buckets = bucket_rows(sigs, cfg)

    wo = Window.partitionBy("gen", "key").orderBy("doc_id")
    wc = Window.partitionBy("gen", "key")
    return (
        buckets.withColumn("rn", F.row_number().over(wo))
        .withColumn("sz", F.count("*").over(wc))
        .filter(
            F.when(F.col("gen") == "anchor", F.col("sz") <= cfg.anchor_max_bucket)
            .otherwise(F.col("rn") <= cfg.max_bucket_size)
        )
        .select("gen", "key", "doc_id")
    )


def _pairs_from_unified(capped: DataFrame, new_side: bool = False) -> DataFrame:
    """capped buckets -> (gen, a, b, n_shared) candidate pairs.

    ``new_side=True`` is the incremental path: ``capped`` carries a boolean
    ``is_new`` column and only pairs with at least one new side come out.
    Old-old pairs are dropped inside each bucket, before the explode."""
    item = F.struct("doc_id", "is_new") if new_side else F.col("doc_id")
    grouped = (
        capped.groupBy("gen", "key")
        .agg(F.sort_array(F.collect_list(item)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if new_side:
        pair = (
            "transform(filter(slice(ids, i + 2, size(ids)), "
            "y -> x.is_new OR y.is_new), "
            "y -> struct(x.doc_id AS a, y.doc_id AS b))"
        )
    else:
        pair = (
            "transform(slice(ids, i + 2, size(ids)), y -> "
            "struct(x AS a, y AS b))"
        )
    pairs = grouped.select(
        "gen",
        F.explode(F.expr(f"flatten(transform(ids, (x, i) -> {pair}))")).alias("p"),
    )
    # shared-bucket counts instead of plain distinct: same shuffle, and the
    # anchor count doubles as the tier-1 containment estimate numerator
    return pairs.groupBy("gen", "p.a", "p.b").agg(
        F.count("*").alias("n_shared")
    ).select("gen", F.col("a"), F.col("b"), "n_shared")


def unified_candidates(
    sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """All three candidate generators through ONE bucket shuffle.

    Bucket rows for bands, anchors and simhash blocks are unioned BEFORE the
    exchange; one grouped pair explosion follows. Returns
    (gen, a, b, n_shared) distinct per generator.

    Produces exactly the same candidate sets as the per-generator paths
    (test-pinned), at 1/3 of the shuffle count — the dominant fixed cost of
    the edges stage at moderate scale.
    """
    return _pairs_from_unified(unified_capped_buckets(sigs, cfg))


def build_edges(
    sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    docs: DataFrame | None = None,
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """B9: union of exact, verified near-dup, containment, (optionally,
    cfg.simhash_edges) simhash, and (when ``docs`` is provided and
    cfg.substring_pass) exact-substring edges.

    Jaccard/containment verification runs ONCE over the union of LSH and
    anchor candidates (a pair found by either generator qualifies through
    either metric — same rule as the oracle). The substring pass (B8, the
    suffix-array stage of the north rule) reuses the anchor tier-1 survivors
    as candidates — exact substring implies shingle containment ~1, so no
    extra candidate generation is needed — and verifies smaller-text-in-
    larger-text with a C-level search via PER-PAIR text joins: a doc in k
    surviving pairs has its text co-located k times. That trade is deliberate
    and measured (tools/substring_shuffle_probe.py -> BENCH/
    substring_shuffle.json): the worst hub shape the anchor cap does not
    prune — one 64 KiB container holding ~300 standalone docs — shuffles
    ~6 MB compressed for the whole verify sub-DAG (~21 KB/pair, repeats
    collapse under shuffle compression), the same order as the candidate
    stage itself, while a needed-texts semi-join costs more stage latency
    than it saves in bytes at every scale probed (round-3 measurement,
    suffix.py). The structural bound: per-doc text <= 64 KiB (textnorm cap)
    x true-positive pair count; the inverse hub (one doc contained in
    many) is dropped by anchor_max_bucket before any text moves.
    ``docs`` needs columns (doc_id, text).

    Verify-join shuffle note (closes a long-open "semi-join prune the
    signatures to candidate docs?" question): at runtime AQE converts every
    join in this DAG to BroadcastHashJoin with the (small) pair side
    broadcast — measured at sf0.01: 12 BHJ / 0 SMJ in the final adaptive
    plan — so the text-sized shingle arrays never cross a shuffle for the
    verify; a manual semi-join prune would only add a stage. At cluster
    scale the same holds while candidate pairs fit the broadcast threshold;
    beyond that, AQE falls back to shuffled joins where a prune could then
    pay — revisit only if that regime is ever measured.

    ``persisted_out``: when given, the internally persisted intermediates
    (capped buckets, candidate pairs) are appended so the caller can
    ``unpersist()`` them after the returned edges are materialized — callers
    that checkpoint edges to a stage table should always do this (the
    blocks are dead weight for the rest of the job otherwise).
    """
    # one bucket exchange feeds candidate pairs AND the kept-anchor counts
    # (the tier-1 denominator) — the counts previously re-exploded and
    # re-shuffled every anchor row through a second window; persisted:
    # two consumers, spills to disk automatically if it outgrows memory
    capped = unified_capped_buckets(sigs, cfg).persist()
    cand = _pairs_from_unified(capped).persist()
    if persisted_out is not None:
        persisted_out += [capped, cand]
    kept_counts = (
        capped.filter(F.col("gen") == "anchor")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )
    with_len = docs is not None and cfg.substring_pass
    if with_len:
        # one scalar join on the (small) kept-anchor doc set threads n_chars
        # through tier-1 so the substring length gate needs no pair joins
        kept_counts = kept_counts.join(
            sigs.select("doc_id", "n_chars"), "doc_id"
        )
    anchor_kept = _anchor_tier1(
        cand.filter(F.col("gen") == "anchor").select("a", "b", "n_shared"),
        kept_counts,
        cfg,
        with_len=with_len,
    )
    if with_len:
        # round 6 (guide §5): tier-1 survivors feed BOTH the jaccard-verify
        # union and the substring length gate — persist the (tiny) pair set
        # so the two-join tier-1 chain runs once per build, not twice
        anchor_kept = anchor_kept.persist()
        if persisted_out is not None:
            persisted_out.append(anchor_kept)
    jac_cand = (
        cand.filter(F.col("gen") == "lsh")
        .select("a", "b")
        .unionByName(anchor_kept.select("a", "b"))
        .distinct()
    )
    verified = verify_candidates(jac_cand, sigs, cfg)
    # signature mode verifies against estimated metrics => lower tau by the
    # estimator margin (recall over precision for dedup edges)
    margin = cfg.signature_tau_margin if cfg.verify_mode == "signature" else 0.0
    # one pass emits both edge kinds (no double verify-join)
    kinds = F.array(
        F.when(F.col("jaccard") >= cfg.jaccard_tau - margin, F.lit("near")),
        F.when(
            F.col("containment") >= cfg.containment_tau - margin,
            F.lit("containment"),
        ),
    )
    jc_edges = verified.select(
        "a",
        "b",
        F.explode(F.filter(kinds, lambda x: x.isNotNull())).alias("kind"),
    )
    out = exact_edges(sigs).unionByName(jc_edges)
    if cfg.simhash_edges:
        sim_cand = cand.filter(F.col("gen") == "sim").select("a", "b")
        out = out.unionByName(simhash_edges(sim_cand, sigs, cfg))
    if with_len:
        from webcrawler_spark.operators.suffix import (
            substring_length_gate,
            verify_substring_pairs,
        )

        # anchor tier-1 survivors double as substring candidates; the length
        # gate rides the tier-1 columns, costing zero extra joins
        gated = anchor_kept.filter(substring_length_gate()).select("a", "b")
        sub = verify_substring_pairs(gated, docs)
        out = out.unionByName(
            sub.filter(F.col("is_substring")).select(
                "a", "b", F.lit("substring").alias("kind")
            )
        )
    return out
