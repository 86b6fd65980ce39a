"""Pipeline configuration.

ONE frozen dataclass; its hash is baked into every checkpoint path so a
resume with a different config never silently reuses stale stage output
(SURVEY.md §7.0). All randomness anywhere in the engine derives from
``seed`` — no wall clock, no PYTHONHASHSEED-dependent ``hash()``.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class GDConfig:
    """Canonical config (FIXTURES.md F3 golden config)."""

    # --- generalized-dedup transform (chunk -> base/deviation) ---
    chunk_size: int = 64          # bytes per segment (reference analog: Chunk::DEFAULT_SIZE, chunk.hpp:53)
    gd_mode: str = "lowbits"      # "lowbits": base = bytes & ~mask, deviation = packed low bits
                                  # "prefix":  base = first chunk_size-dev_bytes bytes (SQL-expressible oracle)
    dev_bits: int = 2             # low bits per byte that go to the deviation (lowbits mode)
    dev_bytes: int = 8            # trailing bytes that go to the deviation (prefix mode)

    # --- MinHash / LSH ---
    shingle_k: int = 8            # k-shingle width (bytes) over base payloads / document text
    num_hashes: int = 128         # minhash signature length
    bands: int = 32               # LSH bands; rows_per_band = num_hashes // bands
    jaccard_threshold: float = 0.7

    # --- SimHash (64-bit fingerprints, dedup/simhash.py SIMHASH_BITS) ---
    simhash_hamming_max: int = 3
    simhash_blocks: int = 4       # hamming<=3 guaranteed found by 4-block keying

    # --- suffix-array substring pass ---
    suffix_min_len: int = 256     # minimum shared-substring length to flag
    suffix_max_cluster: int = 256 # hard cap on cluster size for the partition-local pass

    # --- skew handling ---
    # band-bucket size above which candidate generation switches from the
    # all-pairs clique (O(m^2)) to star edges (O(m)). Star edges are kept
    # through verification under a distinct source ('lsh_star') so the
    # hot bucket stays one connected component; the approximation (a star
    # edge is a band collision, not a verified pair, so a hot bucket may
    # over-merge members a full clique verification would have split) is
    # visible in the edges table rather than silent. 256^2/2 = 32k pairs
    # is the max per-bucket join output.
    hot_band_threshold: int = 256
    # Star edges get a RELAXED verification floor (fraction of the
    # jaccard threshold) instead of bypassing verification entirely: a
    # lone doc that collides on a single band with a vendored-library
    # bucket would otherwise be merged into the cluster regardless of
    # similarity (silent over-merge). Members of a genuinely-duplicated
    # hot family estimate ~1.0 vs the bucket min and sail through;
    # mutually-similar members dissimilar to the min still reach each
    # other via their cold-bucket collisions on other bands. Kept and
    # dropped star counts are surfaced in the pipeline summary.
    star_floor_frac: float = 0.5

    # --- content normalization for the near-dup path (code payload) ---
    # "raw":    shingle the stored bytes (default; bit-compatible with
    #           every prior round's outputs)
    # "format": formatting-invariant (functions/code.normalize_code —
    #           comments stripped, whitespace collapsed): reformatted
    #           copies cluster together
    # "type2":  rename-invariant (functions/code.normalize_tokens —
    #           identifiers -> id, literals abstracted, keywords kept):
    #           alpha-renamed forks cluster together
    # Applies to MinHash/SimHash signatures and the suffix substring
    # pass. The GD transform and the sha256 round-trip invariant always
    # use raw content — normalization changes what counts as a NEAR
    # duplicate, never what bytes are stored or restored.
    normalizer: str = "raw"

    seed: int = 42

    def __post_init__(self) -> None:
        if self.num_hashes % self.bands != 0:
            raise ValueError("num_hashes must be divisible by bands")
        if not (0 <= self.dev_bits <= 7):
            raise ValueError("dev_bits must be in [0,7]")
        if self.gd_mode not in ("lowbits", "prefix"):
            raise ValueError(f"unknown gd_mode {self.gd_mode!r}")
        if self.gd_mode == "prefix" and self.dev_bytes >= self.chunk_size:
            raise ValueError("dev_bytes must be < chunk_size")
        if self.normalizer not in ("raw", "format", "type2"):
            raise ValueError(f"unknown normalizer {self.normalizer!r}")

    @property
    def rows_per_band(self) -> int:
        return self.num_hashes // self.bands

    def config_hash(self) -> str:
        """Deterministic 12-hex-digit hash of the full config (checkpoint key)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:12]


DEFAULT_CONFIG = GDConfig()
