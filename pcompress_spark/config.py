"""Engine configuration.

Analog of pcompress's level-based auto-configuration
(/root/reference/pcompress.c:3658-3691, 3635-3642): one frozen config object
parameterizes the whole fixed pipeline — shingle size (the rabin-block-size
analog, /root/reference/rabin/rabin_dedup.h:83-86), signature widths (the
K-min-values sketch parameters, /root/reference/rabin/rabin_dedup.c:975-994),
LSH band geometry (the segmented-similarity-index probe,
/root/reference/rabin/global/index.c:184-196), and skew caps (the index
eviction limit, /root/reference/rabin/global/index.c:539-547).

Every hash in the engine is derived from ``seed`` through pure functions —
never Python ``hash()`` — so results are bit-reproducible across runs,
partitionings, and process boundaries.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    """Judged default config (see FIXTURES.md §4): k=5 token shingles,
    num_perm=128, bands=32 x rows=4, 64-bit SimHash, verify Jaccard >= 0.5,
    seed 42. The oracle imports this same object.
    """

    # --- shingling (rabin-chunking analog, C1) ---
    shingle_k: int = 5            # tokens per shingle
    max_token_chars: int = 64     # tokens truncated to this many chars before hashing

    # --- signatures (H3/H4 analogs) ---
    num_perm: int = 128           # MinHash signature width
    # "oph": one-permutation hashing with rotation densification — O(set)
    #   work per doc, the faithful analog of the reference's one-hash
    #   K-min-values sketch (/root/reference/rabin/rabin_dedup.c:975-994)
    #   and the only scheme that is affordable at 10^12-turn scale.
    # "perm": num_perm independent (a*x+b) permutations — O(set * num_perm),
    #   kept for the config matrix / textbook comparison.
    minhash_scheme: str = "oph"
    simhash_bits: int = 64
    simhash_sample: int = 512     # bottom-k shingle sample voting in SimHash

    # --- LSH banding (J4 analog: segmented similarity index) ---
    bands: int = 32
    rows: int = 4                 # bands * rows must equal num_perm

    # --- candidate/verify thresholds (A2 early-abort analog) ---
    minhash_prefilter: float = 0.30   # est-Jaccard floor before exact verify
    jaccard_threshold: float = 0.50   # verified near-dup threshold
    substring_enabled: bool = True
    substring_window: int = 30        # tokens per substring fingerprint window
    #                                   (must be a multiple of shingle_k)
    substring_stride: int = 16        # content-defined selection rate (1/stride)
    substring_min_windows: int = 1    # windows that must match to flag a pair
    # LCS verify scheme: "rolling" (rolling-hash binary search — vectorized,
    # the default, and the math the DuckDB oracle twin reproduces) or
    # "suffix_array" (the reference-literal qsufsort structure,
    # bsdiff.c:142-254). Parity-tested bit-identical outputs.
    substring_verify: str = "rolling"

    # --- skew handling (J6 eviction analog, but explicit + logged) ---
    bucket_cap: int = 256         # max conv_ids kept per LSH bucket (drops logged)
    hot_bucket_threshold: int = 64  # buckets larger than this are counted as "hot"

    # --- determinism ---
    seed: int = 42

    # --- execution tuning (session sizing lives in session.get_spark) ---
    cc_max_iters: int = 50        # connected-components fixpoint guard
    # The driver budget of two two-path operators. (1) Connected
    # components: edge sets at or below this ride a driver union-find
    # (16 B/edge -> 32 MB at the default, the same order as what a
    # broadcast join ships through the driver); larger sets take the
    # distributed large-star/small-star loop. (2) Transcript admission
    # (functions/incremental.py): a delta is admitted on the driver when,
    # on narrow columns, its rows x ``bands``, the touched corpus bucket
    # memberships, the candidate pair rows, the pair list and the touched
    # label rows each fit this budget, and the shingles and minhash of the
    # candidate endpoints (sized from n_tokens before they are fetched)
    # fit 16 B x this budget; otherwise the distributed plan runs. A batch
    # pipeline run is one delta admitted against an empty index, so the
    # same budget also picks the path of the pipeline's candidates, pairs
    # and clusters stages. No crossover between the paths was measured:
    # the budget is reused, not tuned. Output is bit-identical either way
    # — a physical-strategy knob like autoBroadcastJoinThreshold; 0 forces
    # every distributed path. The chosen path is logged (metrics.json;
    # the ``stats`` dicts).
    cc_local_edges: int = 2_000_000

    def __post_init__(self) -> None:
        if self.bands * self.rows != self.num_perm:
            raise ValueError(
                f"bands*rows ({self.bands}*{self.rows}) must equal num_perm ({self.num_perm})"
            )
        if self.shingle_k < 1 or self.num_perm < 1:
            raise ValueError("shingle_k and num_perm must be >= 1")
        if self.minhash_scheme not in ("oph", "perm"):
            raise ValueError(f"unknown minhash_scheme {self.minhash_scheme!r}")
        if self.simhash_bits != 64:
            # the nibble-lane kernel, the uint64 column, the C(8,2)
            # segment-pair banding, and the oracle twins are all 64-wide;
            # accepting another width here would silently mis-configure
            # every downstream geometry
            raise ValueError("simhash_bits must be 64 (only width implemented)")
        if self.substring_enabled and self.substring_window % self.shingle_k:
            raise ValueError("substring_window must be a multiple of shingle_k")
        if self.substring_verify not in ("rolling", "suffix_array"):
            raise ValueError(
                f"unknown substring_verify {self.substring_verify!r}")

    def config_hash(self) -> str:
        """Stable hash of the config — keyed into checkpoint manifests so a
        resume only reuses stage outputs produced under an identical config
        (north_rule idempotent-resume requirement)."""
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
