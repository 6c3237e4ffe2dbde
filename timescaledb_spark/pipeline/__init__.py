"""Training-data pipeline operators: text analysis, quality filters and
dedup (BASELINE north-star items beyond the TimescaleDB reference
surface)."""

from .core import cosine, h60, minhash_signature, tokens, word_shingles
from .curate import curate_corpus
from .dedup import (
    embedding_dup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)
from .textproc import (
    bpe_token_count,
    gopher_quality,
    line_filter,
    doc_fingerprint,
    lang_id,
    quality_score,
    text_features,
    token_count,
)

__all__ = [
    "bpe_token_count",
    "cosine",
    "curate_corpus",
    "doc_fingerprint",
    "embedding_dup_pairs",
    "exact_dedup",
    "gopher_quality",
    "h60",
    "lang_id",
    "line_filter",
    "minhash_lsh_pairs",
    "minhash_signature",
    "ngram_jaccard_pairs",
    "quality_score",
    "simhash64",
    "simhash_pairs",
    "text_features",
    "token_count",
    "tokens",
    "word_shingles",
]
