"""Distributed engine vs sequential oracle: exact parity (SURVEY.md 5.2-3)
plus extraction byte-identity on Spark and union-find correctness."""

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.config import DedupConfig
from webcrawler_spark.operators.components import assign_clusters, connected_components
from webcrawler_spark.operators.lsh import (
    _kept_anchor_counts,
    _tier1_survivors,
    build_edges,
    unified_candidates,
    unified_capped_buckets,
)
from webcrawler_spark.operators.oracle import run_oracle
from webcrawler_spark.operators.signatures import compute_signatures
from webcrawler_spark.sources.corpus import english_docs, generate_corpus, write_parquet

CFG = DedupConfig()


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(300, seed=42)


@pytest.fixture(scope="module")
def corpus_dir(corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    write_parquet(corpus, str(d))
    return str(d)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_oracle(english_docs(corpus))


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    return spark.createDataFrame(
        english_docs(corpus), "doc_id long, text string"
    ).cache()


@pytest.fixture(scope="module")
def sigs(docs_df):
    return compute_signatures(docs_df, CFG).cache()


def _pairs(df):
    return {(r["a"], r["b"]) for r in df.collect()}


def test_signatures_match_oracle(sigs, oracle_result):
    rows = sigs.collect()
    assert len(rows) == len(oracle_result.signatures)
    import numpy as np

    for r in rows:
        want_sig = oracle_result.signatures[r["doc_id"]]
        got = np.array(r["minhash"], dtype=np.int64).view(np.uint64)
        assert (got == want_sig).all(), f"minhash mismatch doc {r['doc_id']}"
        want_fp = oracle_result.simhashes[r["doc_id"]]
        assert (r["simhash"] & 0xFFFFFFFFFFFFFFFF) == want_fp
        want_sh = oracle_result.shingle_sets[r["doc_id"]]
        got_sh = np.array(r["shingles"], dtype=np.int64).view(np.uint64)
        assert set(got_sh.tolist()) == set(want_sh.tolist())


def test_candidates_match_oracle(sigs, oracle_result):
    """The one candidate engine, per generator: lsh pairs as they come out
    of the bucket shuffle, anchor pairs after tier 1."""
    cand = unified_candidates(sigs, CFG)
    assert _pairs(cand.filter(F.col("gen") == "lsh")) == oracle_result.lsh_candidates
    tier1 = _tier1_survivors(
        cand,
        _kept_anchor_counts(unified_capped_buckets(sigs, CFG)),
        sigs,
        CFG,
        with_len=False,
    )
    assert _pairs(tier1) == oracle_result.anchor_candidates


def test_edges_match_oracle(sigs, docs_df, oracle_result):
    edges = build_edges(sigs, CFG, docs=docs_df).cache()
    got = _pairs(edges.select("a", "b").distinct())
    assert got == oracle_result.all_pairs
    by_kind = {
        r["kind"]: r["n"]
        for r in edges.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }
    assert by_kind.get("exact", 0) == len(oracle_result.exact_pairs)
    assert by_kind.get("near", 0) == len(oracle_result.near_dup_pairs)
    assert set(by_kind) <= {"exact", "near", "containment", "substring"}
    assert by_kind.get("containment", 0) == len(oracle_result.containment_pairs)
    assert by_kind.get("substring", 0) == len(oracle_result.substring_pairs)
    # the containment family plants verbatim-prefix docs — the substring
    # pass must actually fire on this corpus, not vacuously match
    assert len(oracle_result.substring_pairs) > 0


def test_clusters_match_oracle(spark, sigs, docs_df, oracle_result):
    edges = build_edges(sigs, CFG, docs=docs_df)
    assigned = assign_clusters(docs_df, edges)
    got = {r["doc_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got == oracle_result.clusters


def test_recall_gate_spark(sigs, docs_df, corpus):
    """BASELINE.md: dup-pair recall >= 0.99 against planted ground truth."""
    edges = build_edges(sigs, CFG, docs=docs_df)
    detected = _pairs(edges.select("a", "b").distinct())
    truth = {(a, b) for a, b, _ in corpus.truth_pairs}
    recall = len(truth & detected) / len(truth)
    assert recall >= 0.99, f"recall={recall}"


def test_extraction_byte_identity_on_spark(spark, corpus_dir, corpus):
    """The engine-extracted text must equal the corpus golden text
    byte-for-byte for every kept row (input_hint per-row invariant)."""
    from webcrawler_spark.extract.spark_extract import extract_pages, good_pages

    web = spark.read.parquet(f"{corpus_dir}/web_pages.parquet")
    pages = good_pages(extract_pages(web)).select("url", "text")
    golden = web.select("url", F.col("text").alias("golden"), "lang")
    joined = pages.join(golden, "url").cache()
    n_en = sum(1 for r in corpus.rows if r["lang"] == "en")
    assert joined.count() == n_en
    mism = joined.filter(F.col("text") != F.col("golden")).count()
    assert mism == 0


def test_signature_verify_mode_recall(corpus, docs_df):
    """verify_mode='signature' (the extreme-scale path: shingle arrays never
    leave the signature stage) must reproduce the planted-family recall gate
    with MinHash-estimated Jaccard/containment."""
    cfg = DedupConfig(verify_mode="signature")
    sigs = compute_signatures(docs_df, cfg).cache()
    assert "shingles" not in sigs.columns
    edges = build_edges(sigs, cfg, docs=docs_df)
    detected = _pairs(edges.select("a", "b").distinct())
    truth = {(a, b) for a, b, _ in corpus.truth_pairs}
    recall = len(truth & detected) / len(truth)
    assert recall >= 0.99, f"signature-mode recall={recall}"


def test_signature_mode_mismatch_fails_loudly(docs_df):
    """Exact-mode verify over signature-mode signatures must raise, never
    silently emit zero edges."""
    sigs = compute_signatures(docs_df, DedupConfig(verify_mode="signature"))
    with pytest.raises(ValueError, match="shingles"):
        build_edges(sigs, DedupConfig(verify_mode="exact"), docs=docs_df)
    with pytest.raises(ValueError, match="verify_mode"):
        build_edges(sigs, DedupConfig(verify_mode="bogus"), docs=docs_df)


def test_extraction_single_execution_in_plan(spark, corpus_dir):
    """The mega-domain-counts branch must NOT consume the extraction
    subtree: with stats_from=raw-urls the physical plan carries exactly one
    MapInPandas node (two would mean the Arrow UDF runs twice per pass)."""
    from webcrawler_spark.extract.spark_extract import extract_pages
    from webcrawler_spark.plans.pipeline import (
        salted_repartition_by_domain,
        with_doc_ids,
    )

    web = with_doc_ids(spark.read.parquet(f"{corpus_dir}/web_pages.parquet"))
    staged = salted_repartition_by_domain(
        extract_pages(web), stats_from=web.select("url")
    )
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1


def test_connected_components_vs_dsu(spark, monkeypatch):
    """Pathological graphs: long chain, star, two blobs + bridge, random.
    With AQE coalescing the edge stream to one partition the driver-side
    numpy pass must resolve them (no star round); with coalescing off the
    stream keeps its shuffle partitions and the star rounds must run."""
    import random

    rnd = random.Random(7)
    edges = []
    edges += [(i, i + 1) for i in range(100, 200)]  # chain
    edges += [(1000, v) for v in range(1001, 1050)]  # star
    blob_a = [(rnd.randrange(2000, 2050), rnd.randrange(2000, 2050)) for _ in range(200)]
    blob_b = [(rnd.randrange(3000, 3050), rnd.randrange(3000, 3050)) for _ in range(200)]
    edges += blob_a + blob_b + [(2049, 3000)]  # bridge merges the blobs
    edges += [(rnd.randrange(0, 5000), rnd.randrange(0, 5000)) for _ in range(300)]
    edges = [(a, b) for a, b in edges if a != b]

    # DSU ground truth
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for x in parent:
        want[x] = find(x)
    # normalize to min member
    from collections import defaultdict

    groups = defaultdict(list)
    for x, r in want.items():
        groups[r].append(x)
    for r, ids in groups.items():
        m = min(ids)
        for x in ids:
            want[x] = m

    from webcrawler_spark.operators import components

    tests = []
    star_forest = components._is_min_rooted_star_forest
    monkeypatch.setattr(
        components,
        "_is_min_rooted_star_forest",
        lambda e: tests.append(1) or star_forest(e),
    )
    df = spark.createDataFrame(edges, "a long, b long")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    try:
        for coalesce in ("true", "false"):
            spark.conf.set(key, coalesce)
            tests.clear()
            got = {
                r["doc_id"]: r["cluster_id"]
                for r in connected_components(df).collect()
            }
            assert got == want
            if coalesce == "true":
                assert not tests  # one partition: no convergence test
            else:
                assert tests  # several partitions: the star rounds ran
    finally:
        spark.conf.set(key, saved)


def test_pipeline_end_to_end_and_resume(spark, corpus_dir, corpus, tmp_path):
    from webcrawler_spark.plans.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    out = run_pipeline(spark, f"{corpus_dir}/web_pages.parquet", wh)
    got = {r["doc_id"]: r["cluster_id"] for r in out["clusters"].collect()}
    oracle = run_oracle(english_docs(corpus))
    assert got == oracle.clusters

    # resume: delete the clusters stage only; re-run must skip the earlier
    # stages (manifests intact) and rebuild identical clusters
    import shutil, os, json

    shutil.rmtree(os.path.join(wh, "_stages", "clusters"))
    sig_manifest = os.path.join(wh, "_stages", "signatures", "_MANIFEST.json")
    before = json.load(open(sig_manifest))
    out2 = run_pipeline(spark, f"{corpus_dir}/web_pages.parquet", wh)
    after = json.load(open(sig_manifest))
    assert before["committed_at"] == after["committed_at"], "signatures stage re-ran"
    got2 = {r["doc_id"]: r["cluster_id"] for r in out2["clusters"].collect()}
    assert got2 == got


def test_resolve_id_collisions(spark):
    """Colliding initial ids must be deterministically re-keyed (distinct
    urls get distinct ids) while repeated captures of the SAME url keep one
    shared id."""
    from webcrawler_spark.plans.pipeline import resolve_id_collisions

    rows = [
        ("https://a.example/1", 7),   # collides with /2 and /3
        ("https://a.example/2", 7),
        ("https://a.example/3", 7),
        ("https://a.example/2", 7),   # repeat capture of /2 — same identity
        ("https://b.example/x", 9),   # unique id, untouched
    ]
    df = spark.createDataFrame(rows, "url string, doc_id long")
    out = resolve_id_collisions(df)
    got = {(r["url"], r["doc_id"]) for r in out.collect()}
    ids_by_url = {}
    for url, i in got:
        ids_by_url.setdefault(url, set()).add(i)
    # every url maps to exactly one id, and distinct urls never share one
    assert all(len(v) == 1 for v in ids_by_url.values())
    assert len({next(iter(v)) for v in ids_by_url.values()}) == len(ids_by_url)
    # min-url claimant keeps the original id; unique ids untouched
    assert ids_by_url["https://a.example/1"] == {7}
    assert ids_by_url["https://b.example/x"] == {9}
    # repeated captures kept a single shared id AND both rows survive
    assert sum(1 for u, _ in got if u == "https://a.example/2") == 1
    assert out.count() == 5
    # deterministic: same input => same assignment
    got2 = {(r["url"], r["doc_id"]) for r in resolve_id_collisions(df).collect()}
    assert got2 == got


def test_tune_split_size_guard(spark):
    """Missing / non-local / manifest-only paths must fall back to the
    128 MB default instead of clamping every later scan to the 1 MB floor."""
    from webcrawler_spark.plans.pipeline import tune_split_size

    for path in ("/nonexistent/warehouse", "s3://bucket/stage", "hdfs://nn/x"):
        assert tune_split_size(spark, path) == 128 << 20
        assert (
            spark.conf.get("spark.sql.files.maxPartitionBytes")
            == str(128 << 20)
        )


def test_substring_equal_length_gated(spark):
    """Identical texts are exact-kind edges, never substring edges: the
    length gate drops an equal-length pair before any text moves, while a
    proper substring still verifies and a non-substring is dropped."""
    from webcrawler_spark.operators.suffix import gated_substring_edges

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "alpha beta gamma delta epsilon zeta",  # exact dup of 1
        3: "beta gamma delta",  # substring of 1
        4: "totally different words here entirely",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    tier1 = spark.createDataFrame(
        [(1, b, len(texts[1]), len(texts[b])) for b in (2, 3, 4)],
        "a long, b long, len_a long, len_b long",
    )
    got = {tuple(r) for r in gated_substring_edges(tier1, docs).collect()}
    assert got == {(1, 3, "substring")}


def test_build_edges_persisted_out_unpersists(sigs, docs_df):
    """The cleanup hook must hand back exactly the internally persisted
    intermediates, and unpersisting them must not break the edge result."""
    held = []
    edges = build_edges(sigs, CFG, docs=docs_df, persisted_out=held)
    n = edges.count()
    # capped buckets + candidate pairs + (substring pass on) tier-1 survivors
    assert len(held) == 3
    for df in held:
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        df.unpersist()
    assert edges.count() == n  # recomputable after unpersist


def test_dedup_filter_reuses_clusters_memo(spark):
    """One union-find execution per contract sweep: dedup_filter must reuse
    the exact DataFrame object q_dedup_clusters memoized for this session,
    and the filter result must be consistent with it."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    from webcrawler_spark.plans import queries as Q

    Q.clear_clusters_cache()
    clusters = Q.q_dedup_clusters(spark, sf)
    assert Q.q_dedup_clusters(spark, sf) is clusters  # memo hit
    kept = {r["doc_id"] for r in Q.q_dedup_filter(spark, sf).collect()}
    canon = {
        r["doc_id"] for r in clusters.collect()
        if r["doc_id"] == r["cluster_id"]
    }
    assert kept == canon
    Q.clear_clusters_cache()
    assert Q.q_dedup_clusters(spark, sf) is not clusters


def test_dedup_clusters_on_driver_testdata(spark):
    """Engine == oracle on the driver's REAL documents table (sf0.001), not
    just the synthetic corpus — guards tokenizer/hashing drift on foreign
    text distributions."""
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("driver testdata not present")
    docs_df = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    docs = [(r["doc_id"], r["text"]) for r in docs_df.collect()]
    oracle = run_oracle(docs)

    from webcrawler_spark.operators.signatures import compute_signatures

    sigs = compute_signatures(docs_df, CFG).cache()
    edges = build_edges(sigs, CFG, docs=docs_df)
    assigned = assign_clusters(docs_df, edges)
    got = {r["doc_id"]: r["cluster_id"] for r in assigned.collect()}
    assert got == oracle.clusters
    # sanity: the table contains actual near-dup structure to exercise
    n_nontrivial = sum(1 for d, c in got.items() if c != d)
    assert n_nontrivial > 0


def test_incremental_dedup_matches_full_recompute(spark, docs_df):
    """Increment + persisted state == batch recompute, doc for doc, on the
    planted-family corpus (old = doc_id % 4 != 3, increment = the rest)."""
    from webcrawler_spark.operators.incremental import (
        build_dedup_state,
        incremental_dedup,
    )

    old_docs = docs_df.filter(F.col("doc_id") % 4 != 3)
    new_docs = docs_df.filter(F.col("doc_id") % 4 == 3)
    state = build_dedup_state(old_docs, CFG)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_dedup(state, new_docs, docs_df, CFG).collect()
    }

    full_sigs = compute_signatures(docs_df, CFG).cache()
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters(
            docs_df, build_edges(full_sigs, CFG, docs=docs_df)
        ).collect()
    }
    assert got == full
    # the corpus must actually exercise the increment: some new doc joins
    # an existing (old-rooted) cluster
    assert any(d % 4 == 3 and c % 4 != 3 for d, c in got.items())


def test_incremental_bridge_merges_old_clusters(spark):
    """A new doc bridging two previously-separate old clusters must merge
    them (seeded union-find), and new-vs-new exact dups must link too."""
    from webcrawler_spark.operators.incremental import (
        build_dedup_state,
        incremental_dedup,
    )

    # vocab chosen so BOTH texts have non-empty kept-anchor sets (verified:
    # delta* -> 4 anchors, nova* -> 3 of 20 shingles) — a zero-anchor side
    # is a documented miss class of the batch engine too, not an
    # incremental-path property
    base_a = " ".join(f"delta{i} deltax{i}" for i in range(12))
    base_b = " ".join(f"nova{i} novax{i}" for i in range(12))
    old = [
        (1, base_a),
        (2, base_a),            # exact dup of 1 -> old cluster {1,2}
        (10, base_b),
        (11, base_b),           # old cluster {10,11}
    ]
    # bridge: container holding BOTH old texts verbatim (substring edges to
    # each side); plus a new-new exact dup pair
    new = [
        (20, base_a + " " + base_b),
        (30, "lone new document with some totally original words here"),
        (31, "lone new document with some totally original words here"),
    ]
    old_df = spark.createDataFrame(old, "doc_id long, text string")
    all_df = spark.createDataFrame(old + new, "doc_id long, text string")
    new_df = spark.createDataFrame(new, "doc_id long, text string")

    state = build_dedup_state(old_df, CFG)
    pre = {r["doc_id"]: r["cluster_id"] for r in state.assignments.collect()}
    assert pre[2] == 1 and pre[11] == 10 and pre[1] != pre[10]

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_dedup(state, new_df, all_df, CFG).collect()
    }
    # the bridge merges {1,2} and {10,11} (+ 20 itself) under min id 1
    assert got[1] == got[2] == got[10] == got[11] == got[20] == 1
    # new-new exact pair clusters under its own min
    assert got[30] == got[31] == 30


def test_incremental_exact_edges_star_per_hash(spark):
    """A new copy of a page that three old docs share adds ONE exact edge,
    to the group's smallest doc (lsh.exact_edges' star rule), not one per
    old copy; the assignment still equals a full recompute."""
    from webcrawler_spark.operators.incremental import (
        build_dedup_state,
        incremental_assign,
        incremental_edges,
    )

    page = " ".join(f"gamma{i} gammax{i}" for i in range(12))
    old = [
        (5, page),
        (7, page),
        (9, page),
        (11, "an unrelated old document with entirely different words in it"),
    ]
    new = [(20, page)]
    schema = "doc_id long, text string"
    all_df = spark.createDataFrame(old + new, schema)
    state = build_dedup_state(spark.createDataFrame(old, schema), CFG)
    new_sigs = compute_signatures(spark.createDataFrame(new, schema), CFG).cache()

    edges = incremental_edges(state, new_sigs, CFG, docs=all_df).cache()
    exact = edges.filter(F.col("kind") == "exact").collect()
    assert {(r["a"], r["b"]) for r in exact} == {(5, 20)} and len(exact) == 1
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_assign(state, all_df, edges).collect()
    }
    full_edges = build_edges(compute_signatures(all_df, CFG), CFG, docs=all_df)
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters(all_df, full_edges).collect()
    }
    assert got == full
    assert got[20] == 5 and got[11] == 11


def test_incremental_state_parquet_round_trip(spark, docs_df, tmp_path):
    """The incremental path must work from PERSISTED stage outputs (the
    production shape: buckets/sigs/assignments are tables, not in-memory
    lineage): write the state to parquet, reload, increment, and match the
    in-memory result exactly."""
    from webcrawler_spark.operators.incremental import (
        DedupState,
        build_dedup_state,
        incremental_dedup,
    )

    old_docs = docs_df.filter(F.col("doc_id") % 4 != 3)
    new_docs = docs_df.filter(F.col("doc_id") % 4 == 3)
    state = build_dedup_state(old_docs, CFG)

    base = str(tmp_path / "state")
    state.sigs.write.parquet(f"{base}/sigs")
    state.buckets.write.parquet(f"{base}/buckets")
    state.assignments.write.parquet(f"{base}/assignments")
    state.dropped_anchor_keys.write.parquet(f"{base}/dropped_anchor_keys")
    state.kept_anchor_counts.write.parquet(f"{base}/kept_anchor_counts")
    reloaded = DedupState(
        sigs=spark.read.parquet(f"{base}/sigs"),
        buckets=spark.read.parquet(f"{base}/buckets"),
        assignments=spark.read.parquet(f"{base}/assignments"),
        dropped_anchor_keys=spark.read.parquet(f"{base}/dropped_anchor_keys"),
        kept_anchor_counts=spark.read.parquet(f"{base}/kept_anchor_counts"),
    )

    got_mem = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_dedup(state, new_docs, docs_df, CFG).collect()
    }
    got_disk = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_dedup(reloaded, new_docs, docs_df, CFG).collect()
    }
    assert got_disk == got_mem


def test_advance_state_chains_increments(spark, docs_df):
    """States must CHAIN: advance_state(fold batch 1) then a second
    increment must equal the full recompute over everything — and the
    advanced state's tables must equal a from-scratch build over the
    concatenated corpus (buckets, dropped keys, kept counts)."""
    from webcrawler_spark.operators.incremental import (
        advance_state,
        build_dedup_state,
        incremental_assign,
        incremental_edges,
    )

    part0 = docs_df.filter(F.col("doc_id") % 4 <= 1)
    part1 = docs_df.filter(F.col("doc_id") % 4 == 2)
    part2 = docs_df.filter(F.col("doc_id") % 4 == 3)
    docs01 = docs_df.filter(F.col("doc_id") % 4 != 3)

    state0 = build_dedup_state(part0, CFG)
    sigs1 = compute_signatures(part1, CFG).cache()
    edges1 = incremental_edges(state0, sigs1, CFG, docs=docs01)
    assign1 = incremental_assign(state0, docs01, edges1)
    state1 = advance_state(state0, sigs1, assign1, CFG)

    # the advanced state is table-for-table the from-scratch state
    fresh1 = build_dedup_state(docs01, CFG)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(state1.buckets, "gen", "key", "doc_id") == rows(
        fresh1.buckets, "gen", "key", "doc_id"
    )
    assert rows(state1.dropped_anchor_keys, "key") == rows(
        fresh1.dropped_anchor_keys, "key"
    )
    assert rows(state1.kept_anchor_counts, "doc_id", "n_kept") == rows(
        fresh1.kept_anchor_counts, "doc_id", "n_kept"
    )

    # second increment over the advanced state == full recompute over all
    sigs2 = compute_signatures(part2, CFG).cache()
    edges2 = incremental_edges(state1, sigs2, CFG, docs=docs_df)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in incremental_assign(state1, docs_df, edges2).collect()
    }
    full_sigs = compute_signatures(docs_df, CFG).cache()
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters(
            docs_df, build_edges(full_sigs, CFG, docs=docs_df)
        ).collect()
    }
    assert got == full


def test_advance_state_shared_recap_equivalent(spark, docs_df):
    """incremental_edges then advance_state, each building its own judged
    table, yield exactly the state tables and assignment of a from-scratch
    build over the concatenated corpus. Also pins the persisted_out
    unpersist hooks: every block the increment stores is released."""
    from webcrawler_spark.operators.incremental import (
        advance_state,
        build_dedup_state,
        incremental_assign,
        incremental_edges,
    )

    part0 = docs_df.filter(F.col("doc_id") % 4 <= 1)
    part1 = docs_df.filter(F.col("doc_id") % 4 == 2)
    docs01 = docs_df.filter(F.col("doc_id") % 4 != 3)
    jsc = spark.sparkContext._jsc

    def stored():
        return {info.id() for info in jsc.sc().getRDDStorageInfo()}

    def registered():
        return set(jsc.getPersistentRDDs().keys())

    state0 = build_dedup_state(part0, CFG)
    sigs1 = compute_signatures(part1, CFG).cache()
    fresh1 = build_dedup_state(docs01, CFG)
    # the test's own cached inputs hold blocks before the increment starts
    for df in (docs_df, state0.sigs, sigs1, fresh1.sigs):
        df.count()
    before = stored()
    held: list = []
    edges1 = incremental_edges(state0, sigs1, CFG, docs=docs01, persisted_out=held)
    # union-find's own checkpoints are not the increment's blocks: they are
    # the RDDs registered while incremental_assign runs
    pre_assign = registered()
    assign1 = incremental_assign(state0, docs01, edges1)
    union_find = registered() - pre_assign
    state1 = advance_state(state0, sigs1, assign1, CFG, persisted_out=held)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(state1.buckets, "gen", "key", "doc_id") == rows(
        fresh1.buckets, "gen", "key", "doc_id"
    )
    assert rows(state1.dropped_anchor_keys, "key") == rows(
        fresh1.dropped_anchor_keys, "key"
    )
    assert rows(state1.kept_anchor_counts, "doc_id", "n_kept") == rows(
        fresh1.kept_anchor_counts, "doc_id", "n_kept"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in assign1.collect()}
    want = {
        r["doc_id"]: r["cluster_id"] for r in fresh1.assignments.collect()
    }
    assert got == want

    # the unpersist hooks collected every checkpoint: incremental_edges'
    # batch rows, judged table, candidate pairs and tier-1 survivors, and
    # advance_state's own batch rows and judged table
    assert len(held) == 6
    assert stored() - before - union_find  # the increment did store blocks
    for df in held:
        df.unpersist()
    # ... and running the hooks frees every block the increment stored
    assert not stored() - before - union_find


def test_incremental_edges_match_batch_edges(docs_df, sigs):
    """The edge set before union-find: every near / containment /
    substring edge with a new side that incremental_edges emits equals
    build_edges' over the whole corpus, for two old/new splits. Cluster
    equality alone would hide a broken new-side pair filter whenever
    another path links the same two docs."""
    from webcrawler_spark.operators.incremental import (
        build_dedup_state,
        incremental_edges,
    )

    kinds = ["near", "containment", "substring"]

    def edge_set(edges):
        return {
            (r["a"], r["b"], r["kind"])
            for r in edges.filter(F.col("kind").isin(kinds)).collect()
        }

    full = build_edges(sigs, CFG, docs=docs_df)
    for new_mod in (3, 0):
        is_new = F.col("doc_id") % 4 == new_mod
        state = build_dedup_state(docs_df.filter(~is_new), CFG)
        new_sigs = compute_signatures(docs_df.filter(is_new), CFG).cache()
        held: list = []
        got = edge_set(
            incremental_edges(
                state, new_sigs, CFG, docs=docs_df, persisted_out=held
            )
        )
        want = edge_set(
            full.filter((F.col("a") % 4 == new_mod) | (F.col("b") % 4 == new_mod))
        )
        assert {k for _, _, k in want} == set(kinds)
        assert got == want
        for df in held:
            df.unpersist()
