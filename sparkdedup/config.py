"""Pipeline configuration.

The signature config mirrors the reference defaults so that our signatures
have datasketches semantics:
  - seed 9001            (reference: theta/constants.go:52 DefaultSeed)
  - murmur3-128 .h1 >> 1 (reference: theta/hashtable.go:104-158 screening)
  - k = 128 minimum values (KMV / theta with lgK=7 nominal)
  - 128 permutations MinHash, 16 bands x 8 rows LSH
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


# reference: theta/constants.go:39-52
MAX_THETA = (1 << 63) - 1  # math.MaxInt64, Java compatibility
DEFAULT_SEED = 9001


@dataclass(frozen=True)
class DedupConfig:
    """Configuration for the near-duplicate detection pipeline."""

    seed: int = DEFAULT_SEED
    shingle_size: int = 5            # 5-gram token shingles
    num_perms: int = 128             # MinHash permutations
    num_bands: int = 16              # LSH bands
    rows_per_band: int = 8           # rows per band (16*8 = 128)
    kmv_k: int = 128                 # k-minimum-values signature size
    jaccard_threshold: float = 0.70  # near-dup verification tau
    containment_posting_cap: int = 32  # drop boilerplate-hot anchor postings
    # winnowed-anchor containment (the pipeline path; MOSS-style guarantee
    # on the positional shingle stream — see operators/containment.py)
    containment_anchor_window: int = 128  # w: window size over shingle stream
    containment_probe_blocks: int = 4     # probes per doc (first P w-blocks)
    bucket_cap: int = 64             # LSH bucket size cap (mega-bucket guard)
    neighbor_window: int = 4         # pairs window inside capped mega-buckets
    max_cc_iters: int = 50           # connected-components iteration bound

    def config_hash(self) -> str:
        """Stable hash identifying this config (keys checkpoint dirs)."""
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def __post_init__(self) -> None:
        if self.num_bands * self.rows_per_band != self.num_perms:
            raise ValueError("num_bands * rows_per_band must equal num_perms")
