"""Pipeline configuration.

Mirrors the reference's ``Config{maxWidth, maxLength, modelType}``
(/root/reference/include/GLiNER/gliner_config.hpp:9-13) plus the
Model-level inference defaults ``flatNer=true, threshold=0.5,
multiLabel=false`` (/root/reference/include/GLiNER/model.hpp:44-47).

``max_length`` is carried for parity but is dead config in the reference
(stored, never read — SURVEY.md §1.4); chunking of oversized pages is an
explicit extension controlled by ``chunk_words``/``chunk_overlap`` and is
OFF by default so parity tests see the reference's no-truncation behavior.
"""

from __future__ import annotations

from dataclasses import dataclass, field


SPAN_LEVEL = "span_level"
TOKEN_LEVEL = "token_level"


@dataclass(frozen=True)
class GlinerConfig:
    max_width: int = 12          # reference canonical: tests/test.cpp:86
    max_length: int = 512        # dead in reference; kept for parity
    model_type: str = SPAN_LEVEL

    # Model::inference defaults (model.hpp:44-47)
    flat_ner: bool = True
    threshold: float = 0.5
    multi_label: bool = False

    # web-scale extension (off by default → reference parity)
    chunk_words: int = 0         # 0 = no chunking (reference behavior)
    chunk_overlap: int = 16      # words of overlap between chunks


@dataclass(frozen=True)
class PipelineConfig:
    """Knobs for the distributed stages (no reference counterpart)."""

    gliner: GlinerConfig = field(default_factory=GlinerConfig)

    # relation extraction: co-occurrence window in word positions
    relation_window: int = 24

    # MinHash-LSH linking
    minhash_perms: int = 64
    lsh_bands: int = 16          # 16 bands × 4 rows
    shingle_k: int = 3           # char shingles

    # skew handling: the salted surface aggregation perfbench times
    salt_buckets: int = 8
    hot_key_threshold: int = 10_000  # rows per key before salting kicks in

    # connected components
    cc_max_iters: int = 20
