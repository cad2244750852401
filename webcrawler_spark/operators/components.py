"""Distributed connected components (SURVEY.md B10). Pure DataFrame plus
one driver-side numpy pass — no GraphFrames.

The self-loop-free, deduplicated edge stream is lazily checkpointed; under
AQE defining that checkpoint runs the dedup exchange, so its coalesced
partition count is known without a job. Then:

- One partition (AQE coalesced a small stream): the edges are collected to
  the driver and resolved there by a numpy union-find
  (`_min_label_components`; cf. the local phase of BTS load-balanced
  union-find, PAPERS.md). A driver pass rather than a Python task: at this
  size a task's start-up costs more than the whole pass. Memory is
  O(edges in that one partition) on the driver; the result is a local
  relation, so callers broadcast-join it.
- Otherwise: alternating large-star / small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14 — see PAPERS.md)
  run until the edge set is a min-rooted star forest, O(log^2 n) rounds
  (O(log n) in practice). Each round is a lazy local checkpoint, which cuts
  the lineage (both star passes read their input twice, so the plan would
  grow ~4x per round) and which the round's convergence test materializes:
  one Spark job per round.

Node ids are int64; the final assignment maps every node to the minimum
doc_id of its component (the oracle's min-root convention).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# star rounds before connected_components gives up (O(log n) in practice)
MAX_STAR_ROUNDS = 50


def _min_label_components(
    u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Components of the edges (u[i], v[i]): every node (sorted ascending)
    and the minimum node of its component. Min-label hooking of both
    endpoints and of their current labels, then pointer jumping, repeated
    until no label changes. Labels only decrease and stay inside their
    component, so at the fixpoint each component carries its min."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u):]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        m = np.minimum(la, lb)
        hooked = lab.copy()
        for ends in (a, b, la, lb):
            np.minimum.at(hooked, ends, m)
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, lab):
            return nodes, nodes[lab]
        lab = hooked


def _symmetrize(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return edges.unionByName(rev)


def _large_star(edges: DataFrame) -> DataFrame:
    """For each u: m = min(N(u) + {u}); emit (v, m) for v in N(u), v > u."""
    nbrs = _symmetrize(edges)
    w = Window.partitionBy("u")
    # no distinct here: duplicates don't affect the min and the small-star
    # pass dedupes — saves one exchange per round
    return (
        nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges large->small; for each u: m = min(N(u) + {u});
    emit (v, m) for v in N(u) plus (u, m), dropping self-loops."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    with_min = oriented.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
    out_nbrs = with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
    out_self = with_min.select(F.col("u"), F.col("m").alias("v"))
    # single final distinct dedupes both branches
    return (
        out_nbrs.unionByName(out_self)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _is_min_rooted_star_forest(edges: DataFrame) -> bool:
    """True iff the (distinct) edge set is a min-rooted star forest — the
    exact fixpoint shape of the alternating star algorithm: (a) every u has
    exactly ONE outgoing edge, (b) no node is both a u and a v (leaves
    point at roots, roots have no out-edge), (c) every edge points DOWN
    (u > v), which for a star forest forces each root to be its component's
    minimum. One aggregation job over a (node, role) projection — 2|E|
    narrow rows, no sort; the job also materializes the caller's lazy
    checkpoint."""
    roles = edges.select(
        F.col("u").alias("n"),
        F.lit(1).alias("r"),
        (F.col("u") > F.col("v")).cast("int").alias("dn"),
    ).unionAll(
        edges.select(F.col("v").alias("n"), F.lit(0).alias("r"), F.lit(1).alias("dn"))
    )
    per = roles.groupBy("n").agg(
        F.sum("r").alias("cu"), F.count("*").alias("ct"), F.min("dn").alias("dn")
    )
    row = per.agg(
        F.coalesce(F.max("cu"), F.lit(0)).alias("max_cu"),
        F.coalesce(
            F.max(
                F.when((F.col("cu") > 0) & (F.col("ct") > F.col("cu")), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias("both_roles"),
        F.coalesce(F.min("dn"), F.lit(1)).alias("all_down"),
    ).collect()[0]
    return (
        int(row["max_cu"]) <= 1
        and int(row["both_roles"]) == 0
        and int(row["all_down"]) == 1
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) -> assignments(doc_id, cluster_id = component min) for
    every node that appears in an edge (isolated nodes are absent — callers
    coalesce).

    Defining the result runs the dedup exchange. When that stream has at
    most one partition (AQE coalesces it to one only for small edge sets),
    one more job collects it and the driver resolves it (module doc); the
    result is a local relation and holds no Spark work. Otherwise the star
    rounds run here, one job each, until `_is_min_rooted_star_forest` holds
    — the alternating algorithm's fixpoints are exactly those forests
    (Kiveris et al. §3) — and a graph that needs more than
    ``MAX_STAR_ROUNDS`` rounds raises RuntimeError; the members ∪ roots tail
    is left to the caller's first action."""
    cur = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if cur.rdd.getNumPartitions() <= 1:
        uv = cur.toArrow()
        nodes, roots = _min_label_components(
            uv.column("u").to_numpy(), uv.column("v").to_numpy()
        )
        return cur.sparkSession.createDataFrame(
            pa.table({"doc_id": nodes, "cluster_id": roots})
        )
    for _ in range(MAX_STAR_ROUNDS):
        # the test job materializes the checkpoint as a side effect
        if _is_min_rooted_star_forest(cur):
            break
        cur = _small_star(_large_star(cur)).localCheckpoint(eager=False)
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {MAX_STAR_ROUNDS} iterations"
        )

    # At the fixpoint every edge is (node, component-min). A node can also be
    # a root (appears only as v): roots map to themselves.
    #
    # No distinct over the union: the fixpoint is a min-rooted star forest,
    # so (a) each non-root node appears exactly once as u (its single
    # (u, component-min) edge; the edge multiset is distinct and v is
    # determined by u), (b) roots never appear as u (a root's star edge
    # would be the self-loop (min, min), which is never emitted), and
    # (c) `roots` is deduped by its own distinct. The branches are
    # therefore disjoint and internally duplicate-free.
    members = cur.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = cur.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.unionByName(roots)


def assign_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """B11: every doc_id -> cluster_id (min id in component; singletons map
    to themselves)."""
    comp = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )
