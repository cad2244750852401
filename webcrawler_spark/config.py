"""Engine configuration (frozen) — the canonical shingle/signature config.

``DedupConfig`` holds the dedup parameters the recall >= 0.99 gate runs at
(BASELINE.md section B), shared by the engine and the numpy oracle. The
flagship edge union is exact + MinHash-verified near/containment +
substring. The 64-bit shingle SimHash is a stored fingerprint, checked on
its own by ``queries.q_simhash_consistency``, not an edge kind. The
module-level constants below mirror the reference's hard-coded extractor
constants (cited).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling / signatures (BASELINE.md section B canonical config) ---
    shingle_w: int = 5          # word-shingle width
    minhash_k: int = 128        # number of MinHash permutations
    lsh_bands: int = 16         # b
    lsh_rows: int = 8           # r  (b*r must == minhash_k)
    jaccard_tau: float = 0.8    # verification threshold
    seed: int = 42

    # --- containment (anchor-sampled substring pass, SURVEY B8) ---
    # a shingle is an "anchor" iff hash % anchor_mod == 0; both docs of a
    # containment pair sample the same anchors deterministically, so any
    # shared-shingle mass >= tau implies shared anchors w.h.p.
    anchor_mod: int = 8
    # anchor buckets LARGER than this are dropped outright (not truncated):
    # a shingle shared by that many docs is boilerplate and carries no
    # containment signal, while true containment pairs also share rare
    # anchors; truncation would keep O(cap^2) garbage pairs per stop-shingle
    # (=8: ~10x candidate reduction vs 64 at 20k docs with recall still 1.0
    # on the planted-family corpus — containment pairs share many anchors,
    # so one globally-rare shared anchor suffices)
    anchor_max_bucket: int = 8
    containment_tau: float = 0.8  # fraction of the smaller doc's shingles in the larger
    # two-tier verify: anchor candidate pairs are pre-filtered on the
    # containment ESTIMATE shared_kept_anchors/min(n_anchors) >= tau - margin
    # (scalar join; no shingle arrays move) before the exact shingle-set
    # verify. margin ~ 6 sigma of the 1/anchor_mod sampling estimator for
    # typical docs (~75 anchors) — false-negative odds ~1e-7 per true pair.
    anchor_est_margin: float = 0.28

    # --- skew / scale guards ---
    max_bucket_size: int = 200   # LSH bucket cap: larger buckets are salted/cut
    mega_domain_threshold: int = 10_000  # per-domain row count before salting
    mega_domain_salts: int = 32

    # --- execution ---
    # candidate verification:
    #   "exact"     — join the distinct-shingle arrays and compute exact
    #                 Jaccard/containment (bit-identical to the oracle).
    #   "signature" — the extreme-scale path: shingle arrays are NOT carried
    #                 past the signature stage (they are text-sized);
    #                 Jaccard is estimated as the fraction of equal MinHash
    #                 components (unbiased, sd = sqrt(J(1-J)/k) ~ 0.035 at
    #                 J=0.8, k=128) and containment is derived from it via
    #                 inter = J*(na+nb)/(1+J). Thresholds are lowered by
    #                 signature_tau_margin (~3 sigma) so estimator variance
    #                 costs recall odds ~1e-3 per true pair, trading a little
    #                 precision (acceptable: dedup edges over-merge slightly
    #                 rather than miss).
    verify_mode: str = "exact"
    signature_tau_margin: float = 0.10

    def config_hash(self) -> str:
        """Stable hash used by the stage-resume logic (skip-if-committed)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def __post_init__(self) -> None:
        if self.lsh_bands * self.lsh_rows != self.minhash_k:
            raise ValueError(
                f"lsh_bands*lsh_rows ({self.lsh_bands}x{self.lsh_rows}) "
                f"must equal minhash_k ({self.minhash_k})"
            )


DEFAULT_CONFIG = DedupConfig()

# Title filter terms — extractor.go:23
FILTER_TERMS = ("xxx", "porn", "sex", "onlyfans", "gore", "hentai")

# Social domain allowlist — extractor.go:16-22
SOCIAL_DOMAINS = frozenset(
    {"facebook.com", "twitter.com", "x.com", "instagram.com", "linkedin.com"}
)
