"""Dump formatted physical plans for registry queries — the plan-quality
evidence (pushdown, pruning, broadcast, codegen spans). With no query names
it dumps the SHOW list, which is PLANS.md.

Usage: python tools/explain_plans.py [sf_dir [query ...]] > PLANS.md
"""
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webcrawler_spark.plans.queries import QUERIES
from webcrawler_spark.session import get_spark

SHOW = [
    "lang_filter_en",        # pushed-down scan predicate + pruning
    "pricing_summary",       # filter pushdown + partial aggregation
    "region_rollup",         # broadcast dimension joins
    "minhash_dup_pairs",     # candidate gen + verify topology
    "dedup_clusters",        # full dedup DAG
    "embedding_topk",        # higher-order fns stay JVM-side
    "embedding_dup_pairs",   # hyperplane-LSH bucketed join (no crossJoin)
    "multimodal_dup_pairs",  # codec decode -> profile -> LSH (no crossJoin)
    "dedup_incremental",     # state join on touched keys + seeded union-find
]

NOTES = {
    "multimodal_dup_pairs": (
        "Note: `similarity.cosine_dup_pairs` over decoded-pixel profiles. "
        "Candidates come from the hyperplane-LSH (table, sig) bucket join; "
        "the only joins below are that bucket equi-join and the two profile "
        "fetches for exact rescoring, whose sides drop zero-norm profiles "
        "first — no cartesian product anywhere."
    ),
    "dedup_incremental": (
        "Note: the increment's candidate work is bounded by the bucket "
        "keys the new batch touches (inner join of the state bucket table "
        "with the batch's keys); old-vs-old pairs are filtered before any "
        "verify join, and the union-find runs over seed star edges plus "
        "the new edges only."
    ),
    "embedding_topk": (
        "Note: the BroadcastNestedLoopJoin below is the DELIBERATE plan for "
        "this query — 10 broadcast query vectors scored against the corpus "
        "(scan-side stays partitioned; nothing shuffles). The all-pairs "
        "scale path is `embedding_dup_pairs` below: hyperplane-LSH bucket "
        "join, no cross product anywhere."
    ),
}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plans", master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    print("# Physical plans (explain formatted)\n")
    for name in sys.argv[2:] or SHOW:
        df = QUERIES[name][0](spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        note = f"{NOTES[name]}\n\n" if name in NOTES else ""
        print(f"## {name}\n\n{note}```\n{buf.getvalue().strip()}\n```\n")


if __name__ == "__main__":
    main()
