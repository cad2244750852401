"""Candidate generation and verification (SURVEY.md B1, B4-B9).

Contract: ``build_edges`` turns a signature table into the edge table
(a, b, kind) with a < b, and equals the numpy oracle (operators/oracle.py)
edge for edge. Everything runs JVM-side except the substring text check.

- **Candidates**: MinHash band hashes (gen "lsh") and sampled anchor
  shingles (gen "anchor") are both bucket keys. Their rows are unioned and
  capped after one exchange on (gen, key) (``unified_capped_buckets``,
  ``_judge_buckets``): lsh buckets keep their cfg.max_bucket_size smallest
  doc_ids, anchor buckets larger than cfg.anchor_max_bucket are dropped
  whole. Each capped bucket is exploded into its (a < b) pairs
  (``_pairs_from_unified``).
- **Tier 1**: anchor pairs pass when shared kept anchors / min(kept
  anchors) >= containment_tau - anchor_est_margin (``_tier1_survivors``).
- **Verify**: lsh pairs and tier-1 survivors get exact Jaccard and
  containment from the distinct-shingle arrays (or MinHash estimates in
  signature mode); length-gated tier-1 survivors get the exact substring
  check (``_verified_edges``, shared with operators/incremental.py).

The 64-bit SimHash fingerprint in the signature table is not an edge kind:
``queries.q_simhash_consistency`` checks it on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from webcrawler_spark.config import DedupConfig, DEFAULT_CONFIG


def sorted_pairs() -> Column:
    """Every (a, b) struct with a before b in the array column ``ids``; on
    a sorted array of distinct ids these are exactly the pairs with a < b.
    A narrow higher-order-function pass: explode it per grouped bucket."""
    return F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(x AS a, y AS b))))"
    )


def _kept_anchor_counts(capped: DataFrame) -> DataFrame:
    """(doc_id, n_kept): per doc, the anchor rows of the capped bucket table
    that survived the oversized-bucket drop — the tier-1 denominator."""
    return (
        capped.filter(F.col("gen") == "anchor")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"))
    )


def _tier1_survivors(
    cand: DataFrame,
    kept_counts: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    with_len: bool,
) -> DataFrame:
    """Two-tier containment verify, tier 1: the anchor pairs of ``cand``
    (gen, a, b, n_shared) whose ESTIMATED containment n_shared / min(kept
    anchors) clears containment_tau - anchor_est_margin. ``kept_counts``
    (doc_id, n_kept) counts only anchors that survived the oversized-bucket
    drop, so the estimate stays unbiased however much boilerplate the
    corpus carries. Scalar joins only: the shingle arrays never move for
    the rejected majority.

    Returns (a, b), or with ``with_len`` (a, b, len_a, len_b) from
    ``sigs``' n_chars: the substring length gate then rides this join on
    the small per-doc kept set instead of two joins on the pair stream."""
    if with_len:
        kept_counts = kept_counts.join(sigs.select("doc_id", "n_chars"), "doc_id")
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
        cand.filter(F.col("gen") == "anchor")
        .select("a", "b", "n_shared")
        .join(ka, "a")
        .join(kb, "b")
        .filter(
            F.col("n_shared") / F.least("kept_a", "kept_b") >= F.lit(thresh)
        )
        .select(*out_cols)
    )


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


def exact_edges(members: DataFrame) -> DataFrame:
    """B1: (sha256, doc_id) member rows -> exact edges (a, b, kind): each
    sha256 group is a star on its smallest member, one (min member, member)
    edge per other member."""
    w = Window.partitionBy("sha256")
    return (
        members.withColumn("root", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("root"))
        .select(
            F.col("root").alias("a"),
            F.col("doc_id").alias("b"),
            F.lit("exact").alias("kind"),
        )
    )


def bucket_rows(sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """UNCAPPED (gen, key, doc_id) bucket rows for both candidate
    generators; the keys are precomputed in ``sigs``, so ``cfg`` is not
    read. The incremental path consumes this directly: a batch's rows must
    reach the combined cap re-decision uncapped, because a batch-local cap
    can hide that a key was touched at all (operators/incremental.py)."""
    bands = sigs.select(
        F.lit("lsh").alias("gen"), F.explode("bands").alias("key"), F.col("doc_id")
    )
    anchors = sigs.select(
        F.lit("anchor").alias("gen"), F.explode("anchors").alias("key"), F.col("doc_id")
    )
    return bands.unionByName(anchors)


def _judge_buckets(rows: DataFrame, cfg: DedupConfig) -> DataFrame:
    """The cap policy: ``rows`` (gen, key, doc_id, ...) plus, per row, ``rn``
    (rank by doc_id in its (gen, key) bucket), ``sz`` (bucket size) and
    ``keep``. lsh buckets keep their max_bucket_size smallest doc_ids;
    anchor buckets larger than anchor_max_bucket are dropped whole. Two
    window functions over one (gen, key) partitioning. The batch path
    (``unified_capped_buckets``) and the increment's judged table
    (incremental._touched_recap) both decide survival here."""
    wo = Window.partitionBy("gen", "key").orderBy("doc_id")
    wc = Window.partitionBy("gen", "key")
    return (
        rows.withColumn("rn", F.row_number().over(wo))
        .withColumn("sz", F.count("*").over(wc))
        .withColumn(
            "keep",
            F.when(F.col("gen") == "anchor", F.col("sz") <= cfg.anchor_max_bucket)
            .otherwise(F.col("rn") <= cfg.max_bucket_size),
        )
    )


def unified_capped_buckets(
    sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(gen, key, doc_id) bucket rows of both candidate generators after
    ONE exchange and the cap policy (``_judge_buckets``)."""
    return (
        _judge_buckets(bucket_rows(sigs, cfg), cfg)
        .filter(F.col("keep"))
        .select("gen", "key", "doc_id")
    )


def _pairs_from_unified(capped: DataFrame, new_side: bool = False) -> DataFrame:
    """capped buckets -> (gen, a, b, n_shared) candidate pairs, distinct per
    generator; n_shared counts the buckets the pair shares (the tier-1
    numerator for anchors).

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
        pairs_expr = F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(filter(slice(ids, i + 2, size(ids)), "
            "y -> x.is_new OR y.is_new), "
            "y -> struct(x.doc_id AS a, y.doc_id AS b))))"
        )
    else:
        pairs_expr = sorted_pairs()
    pairs = grouped.select("gen", F.explode(pairs_expr).alias("p"))
    return pairs.groupBy("gen", "p.a", "p.b").agg(
        F.count("*").alias("n_shared")
    ).select("gen", F.col("a"), F.col("b"), "n_shared")


def unified_candidates(
    sigs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(gen, a, b, n_shared) candidate pairs of every generator, through one
    bucket shuffle. Filtered to one ``gen``, the pairs equal the oracle's
    candidates of that generator: ``lsh`` as they are, ``anchor`` after
    ``_tier1_survivors`` (test_candidates_match_oracle)."""
    return _pairs_from_unified(unified_capped_buckets(sigs, cfg))


def _verified_edges(
    cand: DataFrame,
    tier1: DataFrame,
    sigs: DataFrame,
    cfg: DedupConfig,
    docs: DataFrame | None,
) -> DataFrame:
    """(a, b, kind) edges from candidate pairs ``cand`` (gen, a, b, ...)
    and tier-1 survivors ``tier1`` (``_tier1_survivors``; with ``len_a``/
    ``len_b`` when the substring pass runs):

    - near / containment: Jaccard and containment verified ONCE over lsh
      pairs ∪ tier-1 survivors (a pair found by either generator qualifies
      through either metric, as in the oracle);
    - substring, when ``docs`` (doc_id, text) is given: length-gated
      tier-1 survivors whose smaller text occurs in the larger
      (suffix.gated_substring_edges).

    ``sigs`` must cover every doc of ``cand`` and ``docs`` every doc of
    ``tier1``. With the substring pass ``tier1`` has two readers, so
    callers materialize it first."""
    jac_cand = (
        cand.filter(F.col("gen") == "lsh")
        .select("a", "b")
        .unionByName(tier1.select("a", "b"))
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
    out = verified.select(
        "a",
        "b",
        F.explode(F.filter(kinds, lambda x: x.isNotNull())).alias("kind"),
    )
    if docs is not None:
        from webcrawler_spark.operators.suffix import gated_substring_edges

        out = out.unionByName(gated_substring_edges(tier1, docs))
    return out


def build_edges(
    sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    docs: DataFrame | None = None,
    persisted_out: list[DataFrame] | None = None,
) -> DataFrame:
    """B9: the corpus's edge table (a, b, kind), a < b: exact (same
    sha256), near (Jaccard >= jaccard_tau), containment (>=
    containment_tau) and substring (only when ``docs`` (doc_id, text) is
    given).
    A pair appears once per kind it qualifies for. Equals the oracle's
    edges (test_edges_match_oracle).

    The substring check joins each surviving pair's two texts, so a doc in
    k surviving pairs ships its text k times: bounded by the 64 KiB/doc
    textnorm cap x its true-positive pair count, since the inverse hub
    (one doc contained in many) is dropped by anchor_max_bucket before any
    text moves (BENCH/substring_shuffle.json measures the worst hub).

    Calling this runs no Spark job. The capped buckets, the candidate pairs
    and, with the substring pass, the tier-1 survivors are persisted (each
    has several readers); when ``persisted_out`` is given they are
    appended to it so the caller can ``unpersist()`` them once the
    returned edges are materialized.
    """
    capped = unified_capped_buckets(sigs, cfg).persist()
    cand = _pairs_from_unified(capped).persist()
    if persisted_out is not None:
        persisted_out += [capped, cand]
    with_len = docs is not None
    tier1 = _tier1_survivors(
        cand, _kept_anchor_counts(capped), sigs, cfg, with_len=with_len
    )
    if with_len:
        # two readers: the verify union and the substring length gate
        tier1 = tier1.persist()
        if persisted_out is not None:
            persisted_out.append(tier1)
    return exact_edges(sigs.select("sha256", "doc_id")).unionByName(
        _verified_edges(cand, tier1, sigs, cfg, docs)
    )
