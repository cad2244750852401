"""Sequential golden oracle for the dedup pipeline (SURVEY.md section 5.2-3).

A single-process NumPy implementation of B1-B11 at the same config. The
distributed Spark engine must reproduce this oracle's candidate pairs,
verified edges, and cluster assignments EXACTLY (both use
``operators.hashing`` => same bits; both apply the same bucket caps and
anchor sampling => same candidate sets). Used in tests and the recall gate —
never at scale.

Pipeline mirrored here:
  B1  exact sha256 pre-pass            -> exact_pairs
  B2/B3/B7 tokenize/shingle/minhash/simhash signatures
  B4/B5 LSH banding + bucket cap       -> lsh_candidates
  B7  SimHash pigeonhole blocks + cap  -> simhash candidates -> hamming verify
  B8  anchor-sampled shingles + cap    -> containment candidates
  B6  verify: shared-shingle counts => Jaccard >= tau (near-dup edges) and
      containment >= containment_tau (containment edges)
  B9/B10/B11 union + connected components, cluster id = min doc_id
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from webcrawler_spark.config import DEFAULT_CONFIG, DedupConfig
from webcrawler_spark.functions.textnorm import tokenize
from webcrawler_spark.operators import hashing as H


def _capped_pairs(ids: list[int], cap: int) -> set[tuple[int, int]]:
    """Bucket -> candidate pairs, with the deterministic oversize cap the
    engine applies (first `cap` ids in sorted order)."""
    ids = sorted(set(ids))
    if len(ids) > cap:
        ids = ids[:cap]
    out: set[tuple[int, int]] = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            out.add((ids[i], ids[j]))
    return out


@dataclass
class OracleResult:
    exact_pairs: set[tuple[int, int]] = field(default_factory=set)
    lsh_candidates: set[tuple[int, int]] = field(default_factory=set)
    anchor_candidates: set[tuple[int, int]] = field(default_factory=set)
    simhash_candidates: set[tuple[int, int]] = field(default_factory=set)
    near_dup_pairs: set[tuple[int, int]] = field(default_factory=set)
    simhash_pairs: set[tuple[int, int]] = field(default_factory=set)
    containment_pairs: set[tuple[int, int]] = field(default_factory=set)
    substring_pairs: set[tuple[int, int]] = field(default_factory=set)
    all_pairs: set[tuple[int, int]] = field(default_factory=set)
    clusters: dict[int, int] = field(default_factory=dict)  # doc_id -> cluster
    jaccard: dict[tuple[int, int], float] = field(default_factory=dict)
    signatures: dict[int, np.ndarray] = field(default_factory=dict)
    simhashes: dict[int, int] = field(default_factory=dict)
    shingle_sets: dict[int, np.ndarray] = field(default_factory=dict)


class DisjointSet:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        root = self.parent.setdefault(x, x)
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:  # path compression
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo  # min-root convention


def run_oracle(
    docs: list[tuple[int, str]], cfg: DedupConfig = DEFAULT_CONFIG
) -> OracleResult:
    """docs: [(doc_id, text)] with unique ids."""
    res = OracleResult()
    seeds = H.perm_seeds(cfg.minhash_k, cfg.seed)
    cache: dict[str, int] = {}

    tok_counts: dict[int, int] = {}

    # B1 exact pre-pass
    by_sha: dict[str, list[int]] = defaultdict(list)
    for doc_id, text in docs:
        by_sha[hashlib.sha256(text.encode("utf-8")).hexdigest()].append(doc_id)
    for ids in by_sha.values():
        ids.sort()
        for other in ids[1:]:
            res.exact_pairs.add((ids[0], other))

    # B2/B3/B7 signatures
    for doc_id, text in docs:
        toks = tokenize(text)
        th = H.token_hashes(toks, cache)
        tok_counts[doc_id] = len(toks)
        sh = H.shingle_hashes(th, cfg.shingle_w)
        res.shingle_sets[doc_id] = sh
        res.signatures[doc_id] = H.minhash_signature(sh, seeds)
        res.simhashes[doc_id] = H.simhash64(sh)

    # B4/B5 LSH banding (docs with empty shingle sets excluded — their
    # sentinel signatures would otherwise bucket together; the exact
    # pre-pass already handles empty/equal texts)
    buckets: dict[int, list[int]] = defaultdict(list)
    for doc_id, _ in docs:
        if len(res.shingle_sets[doc_id]) == 0:
            continue
        for bh in H.band_hashes(
            res.signatures[doc_id], cfg.lsh_bands, cfg.lsh_rows, cfg.seed
        ):
            buckets[int(bh)].append(doc_id)
    for ids in buckets.values():
        if len(ids) > 1:
            res.lsh_candidates |= _capped_pairs(ids, cfg.max_bucket_size)

    # B8 anchor-sampled containment candidates (two-tier, mirrors lsh.py):
    # kept buckets (<= anchor_max_bucket) -> shared-anchor counts per pair ->
    # tier-1 estimate shared/min(n_anchors) >= tau - margin
    anchor_buckets: dict[int, list[int]] = defaultdict(list)
    n_anchors: dict[int, int] = {}
    mod = np.uint64(cfg.anchor_mod)
    for doc_id, _ in docs:
        sh = res.shingle_sets[doc_id]
        if len(sh) == 0:
            n_anchors[doc_id] = 0
            continue
        anchors = sh[sh % mod == np.uint64(0)]
        n_anchors[doc_id] = len(anchors)
        for a in anchors:
            anchor_buckets[int(a)].append(doc_id)
    shared: dict[tuple[int, int], int] = defaultdict(int)
    kept_anchors: dict[int, int] = defaultdict(int)
    for ids in anchor_buckets.values():
        # drop oversized (boilerplate) buckets outright — see lsh.py
        if len(set(ids)) <= cfg.anchor_max_bucket:
            for d in ids:
                kept_anchors[d] += 1
            if len(set(ids)) > 1:
                for p in _capped_pairs(ids, cfg.max_bucket_size):
                    shared[p] += 1
    thresh = cfg.containment_tau - cfg.anchor_est_margin
    for (a, b), n_sh in shared.items():
        # denominator = KEPT anchors only (unbiased under bucket dropping)
        denom = min(kept_anchors[a], kept_anchors[b])
        if denom and n_sh / denom >= thresh:
            res.anchor_candidates.add((a, b))

    # B7 SimHash pigeonhole tables (Manku-style multi-block keys; shingle-
    # bearing docs only) — same key fn as the engine (hashing.simhash_block_keys)
    sim_buckets: dict[int, list[int]] = defaultdict(list)
    for doc_id, _ in docs:
        if len(res.shingle_sets[doc_id]) == 0:
            continue
        fp = res.simhashes[doc_id]
        for key in H.simhash_block_keys(
            fp, cfg.simhash_blocks, cfg.simhash_hamming, cfg.simhash_bits
        ):
            sim_buckets[key].append(doc_id)
    for ids in sim_buckets.values():
        if len(ids) > 1:
            res.simhash_candidates |= _capped_pairs(ids, cfg.max_bucket_size)
    for a, b in res.simhash_candidates:
        if H.hamming64(res.simhashes[a], res.simhashes[b]) <= cfg.simhash_hamming:
            res.simhash_pairs.add((a, b))

    # B6 verify: one pass over (lsh | anchor) candidates computing shared
    # shingle counts => Jaccard edges and containment edges
    for a, b in sorted(res.lsh_candidates | res.anchor_candidates):
        sa, sb = res.shingle_sets[a], res.shingle_sets[b]
        if len(sa) == 0 or len(sb) == 0:
            continue
        inter = len(np.intersect1d(sa, sb, assume_unique=True))
        union = len(sa) + len(sb) - inter
        jac = inter / union if union else 0.0
        res.jaccard[(a, b)] = jac
        if jac >= cfg.jaccard_tau:
            res.near_dup_pairs.add((a, b))
        if inter / min(len(sa), len(sb)) >= cfg.containment_tau:
            res.containment_pairs.add((a, b))

    # B8 exact-substring pass: anchor tier-1 survivors verified for verbatim
    # smaller-text-in-larger-text containment (mirrors build_edges' reuse of
    # the anchor candidate stream). Equal-length pairs are gated out before
    # any text is compared — a PROPER substring needs differing lengths, and
    # identical texts are already exact edges (suffix.substring_length_gate).
    if cfg.substring_pass:
        texts = dict(docs)
        for a, b in sorted(res.anchor_candidates):
            x, y = texts[a] or "", texts[b] or ""
            if len(x) == len(y):
                continue
            small, big = (x, y) if len(x) <= len(y) else (y, x)
            if small and small in big:
                res.substring_pairs.add((a, b))

    # B9/B10/B11 (simhash edges join the union only when configured —
    # config.simhash_edges rationale)
    res.all_pairs = (
        res.exact_pairs
        | res.near_dup_pairs
        | res.containment_pairs
        | res.substring_pairs
    )
    if cfg.simhash_edges:
        res.all_pairs = res.all_pairs | res.simhash_pairs
    dsu = DisjointSet()
    for doc_id, _ in docs:
        dsu.find(doc_id)
    for a, b in res.all_pairs:
        dsu.union(a, b)
    members: dict[int, list[int]] = defaultdict(list)
    for doc_id, _ in docs:
        members[dsu.find(doc_id)].append(doc_id)
    for ids in members.values():
        cid = min(ids)
        for doc_id in ids:
            res.clusters[doc_id] = cid
    return res


def true_pairs_bruteforce(
    docs: list[tuple[int, str]], cfg: DedupConfig = DEFAULT_CONFIG
) -> tuple[set[tuple[int, int]], set[tuple[int, int]]]:
    """Ground truth for recall measurement (O(n^2), tests only): all pairs
    with true shingle Jaccard >= tau, and all containment pairs."""
    cache: dict[str, int] = {}
    sets: dict[int, np.ndarray] = {}
    for doc_id, text in docs:
        sets[doc_id] = H.shingle_hashes(
            H.token_hashes(tokenize(text), cache), cfg.shingle_w
        )
    ids = sorted(sets)
    jac_pairs: set[tuple[int, int]] = set()
    cont_pairs: set[tuple[int, int]] = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            sa, sb = sets[ids[i]], sets[ids[j]]
            if len(sa) == 0 or len(sb) == 0:
                continue
            inter = len(np.intersect1d(sa, sb, assume_unique=True))
            union = len(sa) + len(sb) - inter
            if union and inter / union >= cfg.jaccard_tau:
                jac_pairs.add((ids[i], ids[j]))
            if inter / min(len(sa), len(sb)) >= cfg.containment_tau:
                cont_pairs.add((ids[i], ids[j]))
    return jac_pairs, cont_pairs
