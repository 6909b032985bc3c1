"""Engine configuration.

The reference keeps its knobs as loose constants (``deduplipy/config.py:1-9``:
ROW_ID / DEDUPLICATION_ID names, 999 max active-learning queries, SoftImpute
convergence 0.01, cluster/score thresholds as method kwargs,
``deduplipy/deduplicator/deduplicator.py:167``). Ours is a frozen dataclass so
that a single config hash keys every checkpoint manifest — the "identical
shingle/signature config" knob that the recall target is defined against.
Values that only ever run at one setting stay module constants beside the
code that uses them, as in the reference (SoftImpute convergence, CC round
limit, SimHash widths); the driver-CC cutoff is derived from the driver heap
at run time (``operators/components.auto_driver_max_edges``).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

# Kernel/format version folded into config_hash (ADVICE r4 #3): bump when a
# code change alters STAGE OUTPUTS for unchanged config values, so stage
# manifests written by older kernels stop resuming as 'done' with stale data.
#   v2: minhash_seed actually mixed into the OPH kernel (round 4) — seeded
#       'oph' signatures differ from every pre-round-4 checkpoint.
KERNEL_VERSION = 2


@dataclass(frozen=True)
class EngineConfig:
    # --- identity / input ---
    id_cols: tuple[str, ...] = ("repo", "path", "commit")
    content_col: str = "content"

    # --- shingling / MinHash / LSH (replaces learned blocking rules) ---
    # 16 bands x 8 rows -> LSH threshold (1/16)^(1/8) ~= 0.71: tuned for
    # code near-dup (structural boilerplate gives unrelated code files a
    # background Jaccard of ~0.15, which a looser 32x4 scheme lets through
    # at quadratic pair volume — measured: 3.1M spurious vs 59k real pairs
    # on the 100k synthetic corpus)
    shingle_k: int = 7              # char-shingle width
    bands: int = 16
    rows_per_band: int = 8
    minhash_seed: int = 42

    # --- pair generation / skew ---
    band_cap: int = 200             # max rows in a band's all-pairs expansion;
                                    # overflow members get one star edge to
                                    # the band min id (operators/pairs.py)
    pair_strategy: str = "capped"   # or "exact": salted split, every band
                                    # pair (read by pairs.candidate_pairs)

    # --- scoring / clustering (mirrors deduplicator.py:167 defaults) ---
    score_threshold: float = 0.1
    cluster_threshold: float = 0.5
    fill_missing: bool = True
    max_hac_size: int = 2000        # above this: PACk split on strong edges;
                                    # sub-components still above it: 1 cluster

    # --- checkpointing ---
    checkpoint_dir: str | None = None
    # debug-dump mode (reference blocking.py:132-133): without a
    # checkpoint_dir, write every stage table fresh to
    # ./deduplipy_intermediate_steps — inspection dumps, no resume skip
    save_intermediate_steps: bool = False

    def __post_init__(self) -> None:
        # a 0 or negative size is never a smaller setting, only a broken one
        # (shingle_k < 1 gives every non-empty text the same signature)
        for f in ("shingle_k", "bands", "rows_per_band", "band_cap",
                  "max_hac_size"):
            if getattr(self, f) < 1:
                raise ValueError(f"{f} must be >= 1, got {getattr(self, f)!r}")
        if self.pair_strategy not in ("capped", "exact"):
            raise ValueError(f"pair_strategy must be 'capped' or 'exact', "
                             f"got {self.pair_strategy!r}")
        if self.num_perm & (self.num_perm - 1):
            import warnings

            # the OPH kernel bins by the top bits of the shingle hash, so a
            # non-power-of-two num_perm leaves the slots above the largest
            # power of two permanently empty — always densified duplicates
            # of lower bins, inflating false-positive band collisions
            warnings.warn(
                f"num_perm = bands*rows_per_band = {self.num_perm} is not a "
                f"power of two: the one-permutation kernel's slots above "
                f"{1 << (self.num_perm.bit_length() - 1)} carry no independent "
                f"information; use a power-of-two bands*rows_per_band",
                stacklevel=2,
            )

    @property
    def num_perm(self) -> int:
        """MinHash signature width: one slot per (band, row)."""
        return self.bands * self.rows_per_band

    def config_hash(self) -> str:
        """Stable hash over semantic fields (checkpoint manifests key on this)."""
        d = asdict(self)
        d.pop("checkpoint_dir", None)       # location doesn't change semantics
        d.pop("save_intermediate_steps", None)
        # num_perm was a field until it became derived; hashing it keeps
        # every checkpoint written before that change resumable
        d["num_perm"] = self.num_perm
        d["_kernel_version"] = KERNEL_VERSION
        blob = json.dumps(d, sort_keys=True, default=str).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = EngineConfig()
