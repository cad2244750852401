"""Incremental dedup: new-batch-vs-corpus without full recompute.

A training-data pipeline adds a crawl increment and asks "which new docs
duplicate the existing corpus?" — the content-level analog of the
reference's resume-and-continue frontier semantics (administrator.go:251-276
re-seeds the crawl from persisted state instead of restarting). The batch
path (lsh.build_edges) recomputes everything; this module extends an
existing run from its persisted stage outputs:

- **state** (``DedupState``) = the capped unified bucket table (gen, key,
  doc_id), the signature table, the cluster assignments, the dropped
  anchor keys and the per-doc kept-anchor counts of the existing corpus —
  stage outputs the pipeline already checkpoints, plus two small tables
  ``build_dedup_state`` derives.
- **precondition**: the batch's doc_ids are disjoint from the state's. Old
  and new rows are told apart by a row flag set where they enter, not by
  joining on the batch's ids, so a doc present on both sides would count
  as both.
- **the judged table** (``_touched_recap``): an increment only touches the
  bucket keys the batch occupies, so candidate work is proportional to the
  batch, not the corpus. The state's rows for those keys are fetched by key
  (``is_new`` false) and re-capped TOGETHER with the batch's rows (``is_new``
  true) by the batch path's cap policy (``lsh._judge_buckets``), which keeps
  per row ``rn`` (rank by doc_id), ``sz`` (combined bucket size) and
  ``keep`` (anchor: sz <= anchor_max_bucket; lsh: rn <= max_bucket_size).
  Everything else is a filter of that one table:

  - candidate pairs with a new side: ``keep`` rows, pairs where
    ``x.is_new OR y.is_new`` (old-old pairs were resolved by the state and
    are dropped before any verify work);
  - the old docs' lost anchors (anchor rows ``not is_new and not keep``)
    and the new docs' kept anchors (``is_new and keep``): the tier-1
    denominators of the increment and of the next state;
  - the next state's buckets (``keep`` rows replace the touched keys) and
    its newly dropped anchor keys (``sz > anchor_max_bucket``).
- assignments extend via union-find SEEDED with the existing cluster ids:
  old components enter as (cluster_id, member) star edges, so a new doc
  bridging two old clusters merges them exactly as a full recompute would,
  and the min-root convention is preserved (min over the merged component
  is the global min). The seed edges are O(corpus): union-find is the part
  of an increment that is not yet O(batch).

Materialization: each intermediate that several branches of one plan read
(the batch's bucket rows, the judged table, the candidate pairs and, with
the substring pass, the tier-1 survivors) is a lazy local checkpoint, built
once with no Spark job per reader. Defining one runs the stages above it,
so ``incremental_edges`` and ``advance_state``, which each build the judged
table, run Spark jobs when called; a checkpoint's last stage runs in the
first action that reads it. ``persisted_out`` collects one release handle
per checkpoint, and ``unpersist()`` on a handle frees its blocks. A
checkpoint cuts lineage, so frames derived from a released one cannot be
evaluated again: write or collect the outputs first.

Equivalence to full recompute (the driver-checked contract —
``dedup_incremental``'s oracle is the full-recompute SQL over the
concatenated corpus; tools/incremental_bench.py re-checks doc-for-doc
equality at 1M): anchor DROP semantics are replicated exactly — combined
counts decide survival for touched keys, untouched keys keep their
recorded survival, and keys the original corpus dropped as boilerplate are
excluded via the state's ``dropped_anchor_keys`` table (see DedupState:
without it, batch-locally-rare boilerplate keys inflate the tier-1
denominator and borderline true pairs are missed). LSH bucket truncation
keeps the cap smallest doc_ids per key, and the 200 smallest of
(state's 200 smallest olds ∪ news) equal the 200 smallest of
(all olds ∪ news) for ANY id interleaving, so pre-capped state is
lossless there too.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webcrawler_spark.config import DedupConfig, DEFAULT_CONFIG
from webcrawler_spark.operators.components import assign_clusters
from webcrawler_spark.operators.lsh import (
    _judge_buckets,
    _kept_anchor_counts,
    _pairs_from_unified,
    _tier1_survivors,
    _verified_edges,
    bucket_rows,
    build_edges,
    exact_edges,
    unified_capped_buckets,
)


@dataclass(frozen=True)
class DedupState:
    """Persisted-stage view of an already-deduped corpus.

    All members are stage outputs (parquet/Iceberg tables at scale; plain
    DataFrames in tests): ``sigs`` the signature table, ``buckets`` the
    capped unified bucket table, ``assignments`` (doc_id, cluster_id),
    ``kept_anchor_counts`` (doc_id, n_kept) and ``dropped_anchor_keys``
    (key). All five are required.

    ``kept_anchor_counts`` holds, per doc, its anchor rows in ``buckets``:
    the tier-1 denominator, which an increment updates with an O(touched)
    delta instead of re-aggregating the whole bucket table.

    ``dropped_anchor_keys`` lists the anchor keys whose corpus-wide bucket
    exceeded the drop cap. It is essential for exactness, not an
    optimization: a boilerplate shingle shared by 10^6 old docs has NO rows
    in the capped bucket table, so without the drop-list a new batch
    carrying that shingle would see an innocently small batch-local
    bucket, count it as a kept anchor, inflate the tier-1 containment
    denominator for its docs, and MISS borderline true pairs a full
    recompute finds (observed: 51 of 19,159 new-side pairs at 1M docs
    before this table existed). It is small by construction — boilerplate
    keys are the heavy tail, ~3% of keys even on the pathological
    50%-boilerplate stress corpus."""

    sigs: DataFrame
    buckets: DataFrame
    assignments: DataFrame
    dropped_anchor_keys: DataFrame
    kept_anchor_counts: DataFrame


def build_dedup_state(docs: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DedupState:
    """Full batch pass over an existing corpus, returning the stage outputs
    an increment needs. The signature table is persisted; the caller
    unpersists ``sigs`` once the state is written."""
    from webcrawler_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(docs, cfg).persist()
    edges = build_edges(sigs, cfg, docs=docs)
    assignments = assign_clusters(docs, edges).select("doc_id", "cluster_id")
    dropped = (
        sigs.select(F.explode("anchors").alias("key"))
        .groupBy("key")
        .agg(F.count("*").alias("sz"))
        .filter(F.col("sz") > cfg.anchor_max_bucket)
        .select("key")
    )
    buckets = unified_capped_buckets(sigs, cfg)
    return DedupState(
        sigs=sigs,
        buckets=buckets,
        assignments=assignments,
        dropped_anchor_keys=dropped,
        kept_anchor_counts=_kept_anchor_counts(buckets),
    )


class _CheckpointBlocks:
    """``persisted_out`` entry for a local checkpoint. ``DataFrame.unpersist()``
    frees nothing on a checkpointed frame; ``unpersist()`` here unpersists
    the RDD the checkpoint reads, which drops its blocks."""

    def __init__(self, checkpointed: DataFrame) -> None:
        self._rdd = checkpointed._jdf.queryExecution().analyzed().rdd()

    def unpersist(self) -> _CheckpointBlocks:
        self._rdd.unpersist(False)
        return self


def _shuffle_partitions(df: DataFrame) -> int:
    """The session's shuffle partition count. AQE never coalesces a
    repartition to an explicit count, so a checkpointed frame that ends in
    one keeps this partitioning whatever the batch size, as a cached frame
    does; the plans that read it, and the files they write, then do not
    depend on AQE's runtime coalescing."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def _checkpoint(df: DataFrame, persisted_out: list | None) -> DataFrame:
    """Lazy local checkpoint of ``df`` (module doc): runs the stages above
    its last one now, and registers its release handle in ``persisted_out``."""
    out = df.localCheckpoint(eager=False)
    if persisted_out is not None:
        persisted_out.append(_CheckpointBlocks(out))
    return out


def _touched_recap(
    state: DedupState,
    new_sigs: DataFrame,
    cfg: DedupConfig,
    persisted_out: list | None,
) -> DataFrame:
    """The batch's judged table (gen, key, doc_id, is_new, rn, sz, keep):
    every bucket row of every key the batch touches, the state's rows
    (``is_new`` false) and the batch's (``is_new`` true), re-capped
    together (module doc). Keys the original corpus dropped as boilerplate
    are removed from the batch's rows first (DedupState docstring). Batch
    doc_ids must be disjoint from the state's.

    ``incremental_edges`` and ``advance_state`` each derive everything
    they need from this table. ``persisted_out`` receives two release
    handles, for the batch's bucket rows and for the judged table. Calling
    this runs Spark jobs: the dropped-key anti join, the by-key fetch of
    the state's rows and the exchange before the window.

    The batch's bucket rows enter UNCAPPED (lsh.bucket_rows): a batch-local
    cap would be wrong twice over — an anchor key that is boilerplate
    WITHIN the batch would vanish from the touched keys (so stale state rows
    for it would survive an advance_state and its old rows would keep wrong
    kept-counts), and a batch-locally-truncated LSH bucket could exclude a
    doc that belongs in the combined top-cap. The combined window below is
    the only cap that matters."""
    dropped = state.dropped_anchor_keys.select(
        F.lit("anchor").alias("gen"), F.col("key")
    )
    new_rows = bucket_rows(new_sigs, cfg).join(dropped, ["gen", "key"], "left_anti")
    new_rows = _checkpoint(
        new_rows.withColumn("is_new", F.lit(True)), persisted_out
    )
    old_rows = state.buckets.join(
        new_rows.select("gen", "key"), ["gen", "key"], "left_semi"
    ).withColumn("is_new", F.lit(False))
    # ONE explicit exchange before the window: the union's children carry
    # incompatible partitioning claims (a join output vs a raw explode
    # lineage), and materializing a window built straight on that union
    # freezes an AQE-coalesced PartitioningCollection that later joins treat
    # as co-partitioned — at 1M this dies with "PartitioningCollection
    # requires all of its partitionings have the same numPartitions" /
    # "Can't zip RDDs with unequal numbers of partitions". The explicit
    # hash repartition gives the judged table a single clean partitioning,
    # pinned by its explicit count (_shuffle_partitions).
    combined = old_rows.unionByName(new_rows).repartition(
        _shuffle_partitions(new_sigs), "gen", "key"
    )
    return _checkpoint(_judge_buckets(combined, cfg), persisted_out)


def _kept_counts_next(state: DedupState, judged: DataFrame) -> DataFrame:
    """(doc_id, n_kept) kept-anchor counts over old + new docs: an old doc's
    recorded count drops by its anchor rows the judged table no longer
    keeps, a new doc counts the rows it keeps. Anchor rows with
    ``is_new == keep`` are exactly those two kinds, and doc_ids are
    disjoint, so one aggregation yields both."""
    # the explicit not-null matches the filter the join below infers for
    # ``lost``, so both branches read ONE shared exchange of ``delta``
    delta = (
        judged.filter(
            (F.col("gen") == "anchor")
            & (F.col("is_new") == F.col("keep"))
            & F.col("doc_id").isNotNull()
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.max("is_new").alias("is_new"))
    )
    lost = delta.filter(~F.col("is_new")).select(
        "doc_id", F.col("n").alias("n_lost")
    )
    old_counts = (
        state.kept_anchor_counts.join(lost, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_kept") - F.coalesce("n_lost", F.lit(0))).alias("n_kept"),
        )
        .filter(F.col("n_kept") > 0)
    )
    new_counts = delta.filter(F.col("is_new")).select(
        "doc_id", F.col("n").alias("n_kept")
    )
    return old_counts.unionByName(new_counts)


def incremental_edges(
    state: DedupState,
    new_sigs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    docs: DataFrame | None = None,
    persisted_out: list | None = None,
) -> DataFrame:
    """Edges with >= 1 new-batch side: exact / near / containment /
    substring kinds, same thresholds and verify as
    the batch path. ``docs`` (doc_id, text over old + new) enables the
    substring pass, exactly as in ``build_edges``. Batch doc_ids must be
    disjoint from the state's (module doc).

    Exact edges follow ``lsh.exact_edges``' one rule: each sha256 group
    the batch touches is a star on its smallest member, over the batch's
    docs plus the group's smallest old doc (the old members are already
    linked to it), so a new copy of a page G old docs share adds one edge,
    not G.

    Calling this runs Spark jobs: the judged table's (``_touched_recap``),
    then the pair-grouping shuffles above the candidate-pair checkpoint
    and, with the substring pass, the tier-1 joins above the survivors'
    checkpoint. ``persisted_out`` receives those checkpoints' release
    handles.

    Scale shape: touched keys are bounded by |batch| x keys-per-doc;
    every window/groupBy below runs over touched keys only. The one
    corpus-sized input is the by-key fetch of old bucket rows — a join
    against a key-partitioned stage table (big side stays put; the per-doc
    kept-anchor aggregate is itself a state table, refreshed with the same
    touched-keys delta)."""
    judged = _touched_recap(state, new_sigs, cfg, persisted_out)
    # the pair aggregation already hash-partitions on (gen, a, b), so the
    # repartition adds no exchange; its explicit count pins the partitioning
    cand = _checkpoint(
        _pairs_from_unified(judged.filter(F.col("keep")), new_side=True)
        .repartition(_shuffle_partitions(judged), "gen", "a", "b"),
        persisted_out,
    )

    all_sigs = state.sigs.unionByName(new_sigs)

    # tier-1 kept-anchor denominators, combined-drop semantics: rows in
    # untouched keys keep their recorded survival (their buckets gained no
    # members), rows in touched keys take the judged verdict
    kept_counts = _kept_counts_next(state, judged)
    # bound the counts table to docs that actually appear in anchor pairs —
    # tier-1 (and its n_chars fetch) then touch O(candidate docs), not
    # every doc in the corpus
    anchor_pairs = cand.filter(F.col("gen") == "anchor")
    cand_ids = (
        anchor_pairs.select(F.col("a").alias("doc_id"))
        .unionByName(anchor_pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    kept_counts = kept_counts.join(cand_ids, "doc_id", "left_semi")
    with_len = docs is not None
    tier1 = _tier1_survivors(cand, kept_counts, all_sigs, cfg, with_len=with_len)
    if with_len:
        # two readers: the verify union and the substring length gate
        tier1 = _checkpoint(tier1, persisted_out)

    # exact (sha256) edges: a scalar hash join, never raw text
    new_members = new_sigs.select("sha256", "doc_id")
    old_min = (
        state.sigs.select("sha256", "doc_id")
        .join(new_members.select("sha256"), "sha256", "left_semi")
        .groupBy("sha256")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    exact = exact_edges(new_members.unionByName(old_min))
    return exact.unionByName(_verified_edges(cand, tier1, all_sigs, cfg, docs))


def incremental_assign(
    state: DedupState, all_docs: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """(doc_id, cluster_id) over old + new docs: union-find over the new
    edges SEEDED with the existing components (as root->member star edges,
    which preserve old connectivity without re-deriving old-vs-old edges).
    Identical to a full recompute's assignment whenever the incremental
    edge set covers every true pair with a new side (module doc)."""
    seed = (
        state.assignments.filter(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("cluster_id").alias("a"), F.col("doc_id").alias("b"))
    )
    # one explicit exchange normalizes the two sides' partitioning: the
    # seed side is a stage-table scan (file-split partition count) and the
    # new edges carry the session's shuffle partitioning — localCheckpoint
    # inside union-find chokes on such mixed-partition unions at scale
    # (Spark "Can't zip RDDs with unequal numbers of partitions" under AQE)
    edges = seed.unionByName(new_edges.select("a", "b")).repartition("a")
    return assign_clusters(all_docs, edges).select("doc_id", "cluster_id")


def incremental_dedup(
    state: DedupState,
    new_docs: DataFrame,
    all_docs: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Convenience end-to-end increment: signatures for the new batch only,
    incremental edges, seeded assignment. ``all_docs`` = old + new (doc_id,
    text) — used for the substring pass and the assignment's doc universe.
    The batch signatures and the edge intermediates stay stored for the
    session."""
    from webcrawler_spark.operators.signatures import compute_signatures

    new_sigs = compute_signatures(new_docs, cfg).persist()
    edges = incremental_edges(state, new_sigs, cfg, docs=all_docs)
    return incremental_assign(state, all_docs, edges)


def advance_state(
    state: DedupState,
    new_sigs: DataFrame,
    new_assignments: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    persisted_out: list | None = None,
) -> DedupState:
    """Fold an absorbed batch INTO the state, so increments chain: the
    returned state equals ``build_dedup_state`` over the concatenated
    corpus (pytest-pinned through a chained double increment), but is
    derived from the batch's judged table only:

    - buckets: untouched keys keep their rows; touched keys take the
      judged ``keep`` rows (LSH: top-cap of state-top-cap ∪ news =
      global top-cap; anchors: combined-size drop);
    - dropped anchor keys: previous set ∪ touched keys pushed over the cap
      by the batch (a dropped key never returns — sizes only grow);
    - kept-anchor counts: previous counts minus touched-key rows lost to
      the re-decision, plus the batch's kept rows;
    - assignments: the increment's output (callers pass what
      ``incremental_assign``/``incremental_dedup`` returned).

    Calling this builds the batch's judged table (``_touched_recap``),
    running its Spark jobs, and registers its release handles in
    ``persisted_out``.
    """
    judged = _touched_recap(state, new_sigs, cfg, persisted_out)
    buckets_next = state.buckets.join(
        judged.select("gen", "key"), ["gen", "key"], "left_anti"
    ).unionByName(judged.filter(F.col("keep")).select("gen", "key", "doc_id"))

    newly_over = judged.filter(
        (F.col("gen") == "anchor") & (F.col("sz") > cfg.anchor_max_bucket)
    ).select("key")
    return DedupState(
        sigs=state.sigs.unionByName(new_sigs),
        buckets=buckets_next,
        assignments=new_assignments,
        dropped_anchor_keys=(
            state.dropped_anchor_keys.unionByName(newly_over).distinct()
        ),
        kept_anchor_counts=_kept_counts_next(state, judged),
    )
