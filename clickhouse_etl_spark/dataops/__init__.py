"""dataops — large-scale training-data pipeline operators.

Beyond the reference's ETL surface: deduplication (exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine), similarity search (brute
cosine top-k + LSH-bucketed scale path), text analysis (language-ID,
quality scoring, token stats, fingerprinting), and multimodal binary
column plumbing.

Every cross-wave seen-set probe (``*_against_path``) reads its tier —
exact digests or a Bloom bitmap — from the artifact's own columns, and
every loaded artifact sits in one path-keyed cache that
``release_artifact_cache(path)`` frees.

Design rules: all hot-path math is Catalyst expressions (fold-based
deterministic hashing, integer arithmetic) so results are reproducible
across engines and the DuckDB oracle can replay them exactly; pairwise
work is always bucketed (shared-shingle / LSH band / block id) before
any O(n^2) comparison so the candidate set, not the corpus, is
quadratic.
"""

from .bpe import apply_bpe, learn_bpe
from .sketches import cms_estimate, cms_table, kmv_distinct
from .dedup import (
    decontaminate_against_path,
    dedup_against,
    ngram_containment_pairs,
    dedup_against_path,
    exact_dedup,
    write_ngram_bloom_table,
    write_ngram_digest_table,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    line_dedup,
    line_dedup_against_path,
    sentence_span_dedup,
    simhash,
    snapshot_diff,
    span_dedup,
    span_dedup_against_path,
    write_digest_table,
    write_span_bloom_table,
    write_span_digest_table,
    write_line_bloom_table,
    write_line_digest_table,
)
from .similarity import (
    cosine_topk,
    sample_centroids,
    sample_codebooks,
    embedding_near_dup_pairs,
    mean_center,
    pq_index_append,
    pq_index_build,
    pq_index_query,
    truncate_renorm,
)
from .util import release_artifact_cache
from .text import (
    bigram_pmi,
    doc_fingerprint,
    hash_embedding,
    normalize_text,
    percentile_threshold_gate,
    kgram_novelty,
    language_id,
    lm_familiarity,
    quality_score,
    token_stats,
)

__all__ = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_lsh_pairs",
    "simhash",
    "span_dedup",
    "dedup_against",
    "dedup_against_path",
    "decontaminate_against_path",
    "write_ngram_bloom_table",
    "write_ngram_digest_table",
    "line_dedup",
    "line_dedup_against_path",
    "sentence_span_dedup",
    "span_dedup_against_path",
    "write_span_bloom_table",
    "write_span_digest_table",
    "write_digest_table",
    "write_line_bloom_table",
    "write_line_digest_table",
    "snapshot_diff",
    "release_artifact_cache",
    "cosine_topk",
    "embedding_near_dup_pairs",
    "pq_index_build",
    "pq_index_append",
    "pq_index_query",
    "mean_center",
    "truncate_renorm",
    "language_id",
    "quality_score",
    "token_stats",
    "doc_fingerprint",
    "bigram_pmi",
    "lm_familiarity",
    "kgram_novelty",
    "learn_bpe",
    "apply_bpe",
    "hash_embedding",
    "normalize_text",
    "percentile_threshold_gate",
    "sample_centroids",
    "sample_codebooks",
    "cms_table",
    "cms_estimate",
    "kmv_distinct",
]
