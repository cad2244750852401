"""Vectorized hashing primitives for the dedup core (SURVEY.md section 2B).

These replace the reference's URL-level bloom filter (filter/bloomfilter.go:
85-109) with content-level signatures. Everything here is pure numpy on
uint64 lattices so the SAME code runs inside Arrow-batched Spark UDFs and in
the sequential golden oracle — bit-identical by construction.

Determinism: no Python ``hash()`` (PYTHONHASHSEED), no RNG at query time;
token hashes come from blake2b(digest_size=8), mixing from splitmix64.
"""

from __future__ import annotations

import hashlib

import numpy as np

_U64 = np.uint64
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

# splitmix64 constants (public domain, Steele et al.)
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    z = (x + _SM_GAMMA) & _MASK
    z = ((z ^ (z >> np.uint64(30))) * _SM_M1) & _MASK
    z = ((z ^ (z >> np.uint64(27))) * _SM_M2) & _MASK
    return z ^ (z >> np.uint64(31))


def perm_seeds(k: int, seed: int) -> np.ndarray:
    """(2, k) multiply-add permutation constants derived from the config
    seed: row 0 = odd multipliers, row 1 = offsets. MinHash permutation j is
    h_j(x) = (a_j * x + b_j) mod 2^64 — pairwise-independent-style linear
    hashing over already-splitmix-mixed shingle hashes (uniform inputs), at
    1 multiply + 1 add per matrix cell instead of a full splitmix finalizer
    (~4x faster over the (m, k) signature matrix, the single hottest loop in
    the engine)."""
    idx = np.arange(k, dtype=_U64) + _U64(seed)
    a = splitmix64(splitmix64(idx)) | _U64(1)  # odd => bijective mod 2^64
    b = splitmix64(idx + _U64(0xA5A5_A5A5))
    return np.stack([a, b])


def token_hash(token: str) -> int:
    """Stable 64-bit token hash (blake2b-8). Memoize per batch for speed."""
    return int.from_bytes(
        hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "little"
    )


def token_hashes(tokens: list[str], cache: dict[str, int] | None = None) -> np.ndarray:
    """uint64 hash per token, memoized (web text vocab is zipf — the cache
    hit rate is very high within an Arrow batch)."""
    if cache is None:
        cache = {}
    out = np.empty(len(tokens), dtype=_U64)
    th = token_hash
    for i, tok in enumerate(tokens):
        h = cache.get(tok)
        if h is None:
            h = th(tok)
            cache[tok] = h
        out[i] = h
    return out


def shingle_hashes(tok_h: np.ndarray, w: int) -> np.ndarray:
    """Order-sensitive w-gram shingle hashes over the token-hash sequence.

    Positional mix: s_i = splitmix64( XOR_j splitmix64(t_{i+j} + C_j) )
    where C_j distinguishes positions (so 'a b' != 'b a'). Returns the
    DISTINCT shingle set (np.unique) — MinHash operates on sets.
    """
    n = len(tok_h)
    if n < w:
        # reference-shaped fallback: a document shorter than one shingle
        # contributes its whole token sequence as a single shingle
        if n == 0:
            return np.empty(0, dtype=_U64)
        acc = np.zeros(1, dtype=_U64)
        for j in range(n):
            acc ^= splitmix64(tok_h[j : j + 1] + _U64(0x9E37 + j))
        return splitmix64(acc)
    m = n - w + 1
    acc = np.zeros(m, dtype=_U64)
    for j in range(w):
        acc ^= splitmix64((tok_h[j : j + m] + _U64(0x9E37 + j)) & _MASK)
    return np.unique(splitmix64(acc))


def minhash_signature(shingles: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """k-permutation MinHash: sig[j] = min_x (a_j * x + b_j) mod 2^64 with
    (a, b) = perm_seeds rows (linear permutations, Broder-style).

    Empty shingle set => all-ones sentinel (matches nothing).
    """
    a, b = seeds[0], seeds[1]
    k = seeds.shape[1]
    if len(shingles) == 0:
        return np.full(k, _MASK, dtype=_U64)
    # (m, k) matrix; m*k*8 bytes transient (m ~ 1e3 => ~1 MB) — Arrow batch
    # sizing keeps this bounded (config.arrow_batch_rows)
    mat = (shingles[:, None] * a[None, :] + b[None, :]) & _MASK
    return mat.min(axis=0)


def simhash64(features: np.ndarray) -> int:
    """64-bit SimHash over a feature-hash set (unit weights).

    Features are the DISTINCT shingle hashes, not unigram tokens: unigram
    bag-of-words SimHash converges to the corpus-wide mean for long
    documents drawn from one distribution (no IDF), collapsing unrelated
    pages to Hamming ~0. Shingle features keep unrelated docs near
    Hamming ~32 while near-dups stay within the <=3 gate.

    Bit j of the fingerprint is 1 iff sum over features of
    (+1 if bit j of the feature is set else -1) is positive.
    """
    m = len(features)
    if m == 0:
        return 0
    # one C-level unpack to an (m, 64) bit matrix (little-endian bit j =
    # fingerprint bit j); bit j of the output is 1 iff its column popcount
    # exceeds m/2 (same sign rule as the +-1 sum, exact in integers)
    bits = np.unpackbits(
        features.view(np.uint8).reshape(m, 8), axis=1, bitorder="little"
    )
    counts = bits.sum(axis=0, dtype=np.int64)
    return int(
        np.packbits((2 * counts > m).astype(np.uint8), bitorder="little")
        .view(np.uint64)[0]
    )


def band_hashes(sig: np.ndarray, bands: int, rows: int, seed: int) -> np.ndarray:
    """LSH banding: chain-hash each band of r signature values.

    h_b = fold(splitmix64(h ^ v)) starting from splitmix64(seed + b), so
    equal bands collide and band index is baked in (no cross-band collisions
    on the join key beyond the 64-bit space).
    """
    mat = sig.reshape(bands, rows)
    h = splitmix64(np.arange(bands, dtype=_U64) + _U64(seed + 0xB1D5))
    for r in range(rows):
        h = splitmix64(h ^ mat[:, r])
    return h


def signed(a: np.ndarray) -> np.ndarray:
    """uint64 -> int64 bit-cast for storage in Spark LongType columns."""
    return a.view(np.int64)


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def simhash_block_keys(fp: int, n_blocks: int, hamming: int, bits: int = 64) -> list[int]:
    """Pigeonhole table keys (Manku et al., WWW'07): split the fingerprint
    into n_blocks near-equal blocks; for every (n_blocks - hamming)-block
    combination emit one key packing (table index, those blocks' bits).
    Any pair within the hamming budget shares at least one full key.

    Deterministic combination order (itertools.combinations over ascending
    block indices) — shared by engine and oracle.
    """
    from itertools import combinations

    fp &= (1 << bits) - 1
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    blocks = []
    off = 0
    for w in widths:
        blocks.append((fp >> off) & ((1 << w) - 1))
        off += w
    keys = []
    keep = n_blocks - hamming
    for t, combo in enumerate(combinations(range(n_blocks), keep)):
        key = t
        for b in combo:
            key = (key << widths[b]) | blocks[b]
        keys.append(key)
    return keys
