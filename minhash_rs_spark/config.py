"""Pipeline configuration.

Mirrors the reference's YAML config surface so configs translate 1:1
(reference: /root/reference/src/main.rs:254-289 `Config`), plus the
Spark-native knobs called for by the north rule (jaccard verification,
checkpointing, alternative dedup methods).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
from typing import Optional


@dataclass(frozen=True)
class MinHashConfig:
    """Configuration for the fuzzy-dedup pipeline.

    Reference-key mapping (/root/reference/src/main.rs:254-289 and
    examples/simple_exact/config.yaml):
        num_bands      -> num_bands
        band_size      -> band_size
        ngram_size     -> ngram_size
        tokenizer_str  -> tokenizer ("uniseg" = faithful word AND
                          whitespace segments, ref split_word_bounds
                          src/main.rs:352-358; "words" = word segments
                          only, the engine's default; "bytes" ~ default
                          byte tokens; "p50k"/"cl100k" gated on
                          tiktoken availability)
        hash_seed      -> hash_seed (band-seed expansion root,
                          ref src/main.rs:441-444)
        content_key    -> text_col
        concat_key     -> conv_col + order_col (grouped lines ==
                          conversation turns, ref src/main.rs:506-516)
        annotate_only  -> annotate_only
        exact_override -> exact_override (one doc-level hash replicated
                          to all perms, ref src/main.rs:522-533; NOTE
                          the reference's boolean is inverted relative
                          to its name — see from_reference_dict)
    New (Spark-native / north rule):
        jaccard_threshold  exact-Jaccard verification of LSH candidate
                           pairs before union (promotes the reference's
                           offline true-jacc, src/main.rs:1573-1677,
                           into the pipeline). None disables
                           verification = reference-parity clustering.
        checkpoint_dir     per-stage checkpoint tables + manifest
                           (Spark analog of the reference's phase files,
                           src/main.rs:411-429 + python/orchestration.py).
        max_shingles_per_doc  cap on the shingle-set size used for
                           exact-verification joins (scale guard;
                           None = all). Applies ONLY to verification:
                           MinHash signatures are always computed over
                           the full shingle multiset, so clustering is
                           cap-invariant and identical across tokenizer
                           paths.
    """

    num_bands: int = 14
    band_size: int = 8
    ngram_size: int = 5
    tokenizer: str = "words"
    hash_seed: int = 0
    exact_override: bool = False
    annotate_only: bool = True

    # table binding (input_hint schema)
    conv_col: str = "conv_id"
    order_col: str = "turn_idx"
    text_col: str = "text"

    # Spark-native additions
    jaccard_threshold: Optional[float] = None
    checkpoint_dir: Optional[str] = None
    max_shingles_per_doc: Optional[int] = None
    # verified path only: buckets up to this size get all within-bucket
    # candidate pairs (exact within-bucket recall); bigger buckets fall
    # back to star + salted sub-star + chain edges
    # (operators/lsh.bucket_pair_edges)
    verify_pair_cap: int = 32

    # dup-aware subsample (ref: src/dup_aware_subsample.rs:142-160)
    subsample_rate: float = 1.0
    max_cc_size: Optional[int] = None
    subsample_seed: int = 0

    @property
    def num_perms(self) -> int:
        return self.num_bands * self.band_size

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_yaml(cls, path: str) -> "MinHashConfig":
        """Load a reference-style YAML config (best-effort key mapping)."""
        import yaml  # stdlib-adjacent; gated — see except below

        with open(path) as f:
            raw = yaml.safe_load(f)
        return cls.from_reference_dict(raw)

    @classmethod
    def from_reference_dict(cls, raw: dict) -> "MinHashConfig":
        """Translate a reference YAML config.

        BOOLEAN SENSE of exact_override: in the reference the flag is
        INVERTED relative to its name — `exact_override: false` (the
        serde default, and what examples/simple_exact/config.yaml
        relies on) takes the `else` branch of src/main.rs:522-533,
        i.e. ONE doc-level hash_object replicated to every permutation
        (exact dedup); `exact_override: true` runs the tokenized ngram
        MinHash. Our field uses the plain reading (True = exact
        doc-hash mode), so the translation must negate."""
        tok = raw.get("tokenizer_str", "words")
        # "uniseg" maps to the engine's faithful uniseg mode (word AND
        # whitespace segments, ref src/main.rs:352-358)
        tok_map = {"": "bytes"}
        return cls(
            num_bands=raw.get("num_bands", 14),
            band_size=raw.get("band_size", 8),
            ngram_size=raw.get("ngram_size", 5),
            tokenizer=tok_map.get(tok, tok),
            hash_seed=raw.get("hash_seed", 0),
            exact_override=not raw.get("exact_override", False),
            annotate_only=raw.get("annotate_only", True),
        )
