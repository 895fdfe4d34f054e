"""Engine configuration.

Semantics anchors from the reference (cited so parity is checkable):
- exact dedup keeps the FIRST occurrence in input order
  (/root/reference/samples.cpp:476-493) → here: min ``doc_id``.
- near-dup threshold is a strict ``<`` on fingerprint distance
  (/root/reference/samples.cpp:616-621); thresholds 60/512 bits (dhash)
  and 50/256 bits (phash) (/root/reference/samples.h:62-63). The text
  analogues below keep the same *relative* looseness: SimHash Hamming
  < ~12% of bits, MinHash verified at Jaccard >= 0.7.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class DedupConfig:
    # --- shingling -------------------------------------------------------
    shingle_width: int = 8          # bytes per char shingle (packs into u64)
    max_text_bytes: int = 262_144   # cap per-doc bytes fed to fingerprints
    max_shingles_per_doc: int = 4096  # bottom-k sketch cap for exact verify

    # --- MinHash / LSH ---------------------------------------------------
    num_hashes: int = 128           # k: signature length
    lsh_bands: int = 32             # b
    lsh_rows: int = 4               # r  (k = b*r); J* ~ (1/b)^(1/r) ~ 0.42
    jaccard_threshold: float = 0.7  # verify threshold (>=, exact Jaccard)
    minhash_seed: int = 0x5EED_0001
    # Signature component width: each component stores the HIGH
    # `minhash_bits` bits of its 64-bit multiply-shift minimum (min
    # first, then truncate — a deterministic post-map of the min, so
    # the MinHash collision property is preserved exactly). 16 halves
    # the fingerprint table and the verify join's candidate×signature
    # shuffle vs 32; the cost is a per-component false-equality rate of
    # 2^-16, i.e. an estimate-mode score bias of (1-J)·2^-16 ≈ 1.5e-5 —
    # two orders of magnitude below the 1/num_hashes score granularity
    # the threshold is quantized to. Band keys keep lsh_rows×16 = 64
    # bits of slice entropy, so false band collisions stay negligible
    # and recall is unchanged (the recall gate + driver oracles verify).
    # Lineage: int64→int32 was measured at ~3.8× on the 1.5M bench
    # (round 2); 32→16 was A/B'd in BENCH/ANALYSIS_r4.md §9 and is
    # shipped here AT WRITE TIME, the form that section prescribes.
    minhash_bits: int = 16
    # Hybrid verify (verify_pairs mode='hybrid'): candidates whose
    # signature-agreement estimate falls below jaccard_threshold -
    # hybrid_delta are rejected WITHOUT touching sketches; the rest get
    # the exact sketch verify. Miss probability for a true pair
    # (J >= threshold) is Hoeffding-bounded by exp(-2·delta²·num_hashes)
    # — 0.2 with k=128 gives 3.6e-5, far below the 0.99 recall target's
    # slack — while the wide sketch join's input shrinks from ALL
    # candidates to near-and-above-threshold candidates only.
    hybrid_delta: float = 0.2

    # --- SimHash ---------------------------------------------------------
    simhash_bits: int = 256         # 4 x 64-bit words (array<long>)
    # 32 bands of 8 bits: since simhash_threshold (30) < simhash_bands (32),
    # the pigeonhole principle GUARANTEES every pair under the Hamming
    # threshold agrees on >= 1 band — deterministic recall 1.0. The price
    # is denser buckets (8-bit band values); the bucket-cap star fallback
    # bounds that at scale.
    simhash_bands: int = 32
    # strict '<' like the reference (samples.cpp:618-621); 30/256 ~ 11.7%,
    # matching the reference's dhash ratio 60/512.
    simhash_threshold: int = 30
    simhash_seed: int = 0x5EED_0002

    # --- skew handling ---------------------------------------------------
    # buckets <= bucket_cap pair all-vs-all; over-cap buckets emit a star
    # to the bucket min (connectivity) plus all-vs-all inside salt_factor
    # salted sub-buckets while affordable (lsh._salt_affordable):
    # expected sub-bucket <= bucket_cap AND expected salted pairs
    # <= max_pairs_per_bucket. Beyond that, star-only with the forgone
    # pairs counted in lsh.bucket_stats.
    bucket_cap: int = 256           # max docs per all-vs-all LSH bucket
    salt_factor: int = 8            # sub-bucket fan-out for over-cap buckets
    max_pairs_per_bucket: int = 65536  # salted-pair budget per bucket

    # --- quality filter (text analogue of image_filter.cpp:13-82) --------
    min_text_chars: int = 32        # analogue of min-side 128 px
    max_text_chars: int = 1_000_000  # analogue of max-side 2048 px
    lang_whitelist: tuple[str, ...] = ("en", "de", "fr", "es", "zh")
    min_text_html_ratio: float = 0.05  # analogue of aspect-ratio bound

    # --- substring (content-defined chunking) mode ------------------------
    cdc_min_span: int = 128         # emit shared spans >= this many bytes
    cdc_mask_bits: int = 6          # anchor density ~ 1/2^bits
    cdc_window: int = 16            # rolling q-gram width for anchors

    # --- connected components --------------------------------------------
    cc_max_iterations: int = 50
    # greedy (reference-compat) survivor mode: components with more
    # edges than this skip the single-task pandas greedy pass and fall
    # back to keep-first (min doc_id) — bounds per-task memory against
    # pathological mega-components
    greedy_max_component: int = 2_000_000


DEFAULT = DedupConfig()
