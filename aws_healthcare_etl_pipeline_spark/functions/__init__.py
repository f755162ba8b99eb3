from .vectors import cosine, dot, dot_literal_sql, l2_norm, with_norm
from .text import (
    fingerprint_md5,
    normalize_text,
    token_count,
    tokens,
    word_shingles,
)

__all__ = [
    "cosine",
    "dot",
    "dot_literal_sql",
    "l2_norm",
    "with_norm",
    "fingerprint_md5",
    "normalize_text",
    "token_count",
    "tokens",
    "word_shingles",
]
