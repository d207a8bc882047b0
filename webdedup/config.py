"""Pinned shingle/signature configuration (the "same shingle/signature config"
the north rule requires recall >= 0.99 against).

The reference has no such config object -- its equivalents are scattered
constants: ES top-k ``size`` (suricate/dbconnectors/esconnector.py:49),
vectorizer ``ngram_range`` (suricate/dftransformers/vectorizer.py:20-24),
pruning threshold 15 (tutorial/main/stepbystep/e2e.py:184-191).  Here every
knob that changes pair semantics lives in one frozen dataclass whose hash is
stamped into checkpoint manifests so a resumed run can prove it is resuming
the *same* pipeline.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    # ---- shingling ----
    shingle_k: int = 2          # token shingle width
    min_tokens: int = 1         # docs with fewer tokens get a whole-doc shingle

    # ---- MinHash ----
    # r=3, b=42 -> LSH s-curve threshold (1/42)^(1/3) ~= 0.29 and detection
    # probability 1-(1-J^3)^42 >= 0.996 at J = jaccard_threshold = 0.5 —
    # sized so the blocking layer loses < 1% of the pairs the decision rule
    # would accept (the north rule's recall >= 0.99 at the pinned config).
    num_perm: int = 126         # signature length
    bands: int = 42             # LSH bands
    rows_per_band: int = 3      # num_perm == bands * rows_per_band
    minhash_seed: int = 97531   # seeds the (a, b) permutation params

    # ---- SimHash ----
    simhash_bits: int = 64
    simhash_blocks: int = 4     # prefix blocking: 4 x 16-bit blocks
    simhash_max_hamming: int = 3

    # ---- substring (suffix-anchor) pass ----
    # anchor width 40 (not 24): blocking only needs ONE selected window
    # inside a shared span (miss P = (7/8)^(L-39) ~ 2e-5 at L=120), but the
    # candidate junk rate is driven by random anchor collisions across
    # unrelated docs, which fall combinatorially with width.  Measured at a
    # 150k-page corpus: 24-char anchors produced 21.7M candidate pairs of
    # which 18.7M shared exactly one anchor (boilerplate/chance collisions),
    # flooding the gram-verify join with ~500 GB of array traffic; 40-char
    # anchors kill that tail at the source.
    anchor_len: int = 40        # char-gram anchor width
    anchor_stride: int = 8      # sample an anchor every `stride` chars
    anchor_max_docs: int = 64   # anchors shared by more docs are boilerplate -> dropped
    min_overlap_chars: int = 200  # planted-substring detection threshold
    # verification gram-bucket cap (see substring.verify_overlaps): a
    # >=200-char span shared by more docs than this is web boilerplate whose
    # quadratic self-join fan-out would dominate; 4x anchor_max_docs keeps
    # the gate strictly looser than the candidate-side cap, so it never
    # drops a pair the anchor pass let through via a same-hotness span.
    verify_max_docs: int = 256

    # ---- candidate generation ----
    max_bucket_size: int = 256  # LSH buckets larger than this are capped (logged, not silent)
    # in-join mini-sketch gate: the band self-join carries a byte-packed
    # mini_perms-permutation sketch (mini_perms/8 longs, signatures.
    # mini_sketch) per side and drops a pair in the join stage unless the
    # total BIT hamming of the packed words (features.packed_minhash_hamming
    # — 2 codegen ops per word) is <= mini_max_hamming.  The gate is the
    # ONLY junk filter (it replaced a 32-perm interpreted zip_with gate + a
    # separate 126-perm 1 KB/pair prefilter join), so it carries the
    # statistical power of both.  Calibration: an agreeing position
    # contributes 0 bits, a disagreeing one Binom(8,1/2), so
    # E[ham] = 4*120*(1-J_eff) = 480(1-J_eff), J_eff = J + (1-J)/256.
    # At the 395 threshold (J_est >= ~0.18):
    #   - boilerplate J~0.09 pair:  E=436, sd~15  -> passes P ~ 0.002
    #     (the measured-good junk rate; a looser 64-perm gate at 0.16
    #     junk-pass flooded the union with 5.4M pairs where 547k is right)
    #   - mixed-zone J=0.2 pair:    E=382, sd~14  -> kept P ~ 0.83
    #     (old two-stage: 0.75)
    #   - decision J=0.5 pair:      E=239, sd~11  -> lost at 14 sigma, ~0.
    # The 1/256 byte-collision bias only ever LOWERS hamming (passes extra
    # junk, never drops a true pair).  15 packed longs = 120 B/row on the
    # exploded key table — less than the old 32-int array's 144 B.
    mini_perms: int = 120
    mini_max_hamming: int = 395
    # bottom-k shingle sketch stored in the signature table: per-doc state
    # is CONSTANT-SIZE regardless of document length, so the per-pair
    # verification join hauls <= 2 KB of shingle data per side instead of
    # O(doc_len) (measured 29 KB/side at Common-Crawl-sized pages).  For
    # docs with < k shingles the sketch IS the full set and the jaccard is
    # exact (all pytest corpora and the sf0.01 oracle scale); above k it is
    # the standard unbiased bottom-k estimator, sigma <= 0.5/sqrt(k) ~ 0.031.
    shingle_sketch_k: int = 256

    # ---- verification / classification thresholds ----
    jaccard_threshold: float = 0.5   # exact (hashed-shingle) Jaccard to call a pair dup
    sure_threshold: float = 0.85     # triage: >= -> sure match (2)
    nomatch_threshold: float = 0.2   # triage: <  -> no match (0); between -> mixed (1)

    # ---- triage clustering (maps suricate KBinsCluster n_clusters=10/25) ----
    triage_bins: int = 10

    navalue_score: float = 0.0  # suricate/metrics/metrics.py:34

    def __post_init__(self) -> None:
        if self.num_perm != self.bands * self.rows_per_band:
            raise ValueError(
                f"num_perm ({self.num_perm}) must equal bands*rows_per_band "
                f"({self.bands}*{self.rows_per_band})"
            )
        # mini_sketch reads minhash[0:mini_perms]: a mini_perms > num_perm
        # would silently pack NULL words, making the in-join hamming gate
        # NULL and dropping EVERY minhash candidate pair (total blocking-
        # recall loss with no error) — reject the config up front.
        if self.mini_max_hamming > 0 and self.mini_perms > self.num_perm:
            raise ValueError(
                f"mini_perms ({self.mini_perms}) must be <= num_perm "
                f"({self.num_perm}): the mini sketch is a prefix of the "
                "minhash signature"
            )

    def config_hash(self) -> str:
        """Stable hash of every semantic knob; stamped into stage manifests."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


# String sentinels canonicalized to NULL before any scoring.
# Verbatim semantics of suricate/preutils/preprocessing.py:208-212 (navalues).
NAVALUES = [
    "#", "None", "-", "nan", "n.a.", " ", "", "#REF!", "#N/A",
    "#NAME?", "#DIV/0!", "#NUM!", "NaT", "NULL",
]
