"""Dedup core tests: hashing determinism + oracle recall/precision gates
(SURVEY.md section 5.2-2/3; BASELINE.md recall >= 0.99)."""

import numpy as np
import pytest

from webcrawler_spark.config import DedupConfig
from webcrawler_spark.operators import hashing as H
from webcrawler_spark.operators.oracle import run_oracle, true_pairs_bruteforce
from webcrawler_spark.sources.corpus import english_docs, generate_corpus

CFG = DedupConfig()


def test_splitmix64_known_values():
    # reference values from the public splitmix64 algorithm, seed 0 stream
    out = H.splitmix64(np.array([0, 1, 2], dtype=np.uint64))
    assert out[0] == np.uint64(0xE220A8397B1DCDAF)
    # determinism across calls
    assert (H.splitmix64(np.arange(10, dtype=np.uint64))
            == H.splitmix64(np.arange(10, dtype=np.uint64))).all()


def test_token_hash_stable():
    assert H.token_hash("hello") == H.token_hash("hello")
    assert H.token_hash("hello") != H.token_hash("hellp")
    th = H.token_hashes(["a", "b", "a"], {})
    assert th[0] == th[2] and th[0] != th[1]


def test_shingles_order_sensitive_and_distinct():
    a = H.token_hashes("one two three four five six".split(), {})
    s1 = H.shingle_hashes(a, 5)
    s2 = H.shingle_hashes(a[::-1].copy(), 5)
    assert len(s1) == 2  # 6 tokens, w=5 => 2 shingles
    assert set(map(int, s1)) != set(map(int, s2))  # order matters
    # short doc => single fallback shingle
    assert len(H.shingle_hashes(a[:3], 5)) == 1
    assert len(H.shingle_hashes(np.empty(0, dtype=np.uint64), 5)) == 0


def test_minhash_identical_and_similar():
    seeds = H.perm_seeds(128, 42)
    rng = np.random.default_rng(7)
    x = rng.integers(0, 2**63, 1000).astype(np.uint64)
    assert (H.minhash_signature(x, seeds) == H.minhash_signature(x, seeds)).all()
    # ~90% overlapping set: expected signature agreement ~ Jaccard
    y = np.unique(np.concatenate([x[:900], rng.integers(0, 2**63, 100).astype(np.uint64)]))
    agree = (H.minhash_signature(x, seeds) == H.minhash_signature(y, seeds)).mean()
    true_j = len(np.intersect1d(x, y)) / len(np.union1d(x, y))
    assert abs(agree - true_j) < 0.15


def test_simhash_hamming_behavior():
    rng = np.random.default_rng(3)
    x = np.unique(rng.integers(0, 2**63, 2000).astype(np.uint64))
    fx = H.simhash64(x)
    # tiny perturbation (99.5% shared features) => within the <=3 gate
    y = np.unique(np.concatenate([x[:1990], rng.integers(0, 2**63, 10).astype(np.uint64)]))
    assert bin((fx ^ H.simhash64(y)) & (2**64 - 1)).count("1") <= 3
    # moderate perturbation => still small
    w = np.unique(np.concatenate([x[:1900], rng.integers(0, 2**63, 100).astype(np.uint64)]))
    assert bin((fx ^ H.simhash64(w)) & (2**64 - 1)).count("1") <= 10
    # unrelated set => large hamming
    z = np.unique(rng.integers(0, 2**63, 2000).astype(np.uint64))
    assert bin((fx ^ H.simhash64(z)) & (2**64 - 1)).count("1") > 10


def test_band_hashes_collide_iff_band_equal():
    seeds = H.perm_seeds(128, 42)
    sig = H.minhash_signature(np.arange(100, dtype=np.uint64), seeds)
    b1 = H.band_hashes(sig, 16, 8, 42)
    assert len(b1) == 16
    sig2 = sig.copy()
    sig2[0] ^= np.uint64(1)  # perturb band 0 only
    b2 = H.band_hashes(sig2, 16, 8, 42)
    assert b1[0] != b2[0]
    assert (b1[1:] == b2[1:]).all()


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(400, seed=42)


@pytest.fixture(scope="module")
def oracle_result(corpus):
    return run_oracle(english_docs(corpus))


def test_oracle_recall_vs_planted_truth(corpus, oracle_result):
    truth = {(a, b) for a, b, _ in corpus.truth_pairs}
    detected = oracle_result.all_pairs
    recall = len(truth & detected) / len(truth)
    assert recall >= 0.99, f"recall {recall}: missed {sorted(truth - detected)[:5]}"


def test_oracle_no_false_family_merges(corpus, oracle_result):
    """Boilerplate negatives (shared header/footer, distinct bodies) must
    not produce verified edges."""
    truth = {(a, b) for a, b, _ in corpus.truth_pairs}
    for extra in oracle_result.all_pairs - truth:
        j = oracle_result.jaccard.get(extra, 1.0)
        assert (
            j >= CFG.jaccard_tau
            or extra in oracle_result.containment_pairs
            or extra in oracle_result.substring_pairs
        ), f"unexplained edge {extra}"


def test_oracle_clusters_match_planted(corpus, oracle_result):
    fam_ids = set()
    for a, b, _ in corpus.truth_pairs:
        fam_ids |= {a, b}
    mismatches = [
        d for d in fam_ids
        if oracle_result.clusters[d] != corpus.truth_clusters[d]
    ]
    assert not mismatches, mismatches[:10]


def test_oracle_matches_bruteforce(corpus, oracle_result):
    """Candidate generation loses nothing on this corpus: every brute-force
    Jaccard-over-tau pair and containment pair is detected."""
    jp, cp = true_pairs_bruteforce(english_docs(corpus))
    assert jp <= oracle_result.all_pairs
    assert cp <= oracle_result.all_pairs


def test_non_english_rows_excluded(corpus):
    en_ids = {d for d, _ in english_docs(corpus)}
    for a, b, _ in corpus.truth_pairs:
        assert a in en_ids and b in en_ids


def test_corpus_deterministic():
    c1 = generate_corpus(100, seed=42)
    c2 = generate_corpus(100, seed=42)
    assert [r["text"] for r in c1.rows] == [r["text"] for r in c2.rows]
    assert c1.truth_pairs == c2.truth_pairs
    assert [r["url"] for r in c1.rows] == [r["url"] for r in c2.rows]


def test_corpus_mega_domain_skew():
    c = generate_corpus(500, seed=42)
    from collections import Counter
    doms = Counter(r["url"].split("/")[2] for r in c.rows)
    mega = sum(v for k, v in doms.items() if k.startswith("mega"))
    assert 0.2 <= mega / len(c.rows) <= 0.45
