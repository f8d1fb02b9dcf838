from .vector import cosine_similarity, dot_product, euclidean_distance, l2_norm
from .text import (
    whitespace_tokens,
    word_tokens,
    token_count_bpeish,
    quality_score_cols,
)
from .hashing import content_fingerprint

__all__ = [
    "cosine_similarity",
    "dot_product",
    "euclidean_distance",
    "l2_norm",
    "whitespace_tokens",
    "word_tokens",
    "token_count_bpeish",
    "quality_score_cols",
    "content_fingerprint",
]
