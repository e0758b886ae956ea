"""Large-scale training-data pipeline operators (BASELINE.json
north-star extensions): deduplication (exact, MinHash-LSH, SimHash,
n-gram Jaccard, embedding cosine), similarity search (brute-force and
LSH-bucketed ANN), text analysis (token stats, quality, language ID,
fingerprinting), and multimodal column plumbing.

Design: everything is built-in Spark SQL (codegen'd, shuffle-aware);
hashing is md5-based so the DuckDB oracle can replicate signatures
bit-for-bit.  Python appears only in the multimodal decode stubs
(mapInPandas) where a binary-decoding library would run.
"""

from transcriptomics_data_integration_spark.llmdata.dedup import edit_distance_pairs
from transcriptomics_data_integration_spark.llmdata.urls import canonical_url, domain_stats, url_domain
from transcriptomics_data_integration_spark.llmdata.bpe import bpe_encode, bpe_train_fixed
from transcriptomics_data_integration_spark.llmdata.text import (
    dedup_lines,
    doc_fingerprint,
    doc_logprob,
    language_id,
    scrub_pii,
    text_quality,
    token_stats,
)
from transcriptomics_data_integration_spark.llmdata.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from transcriptomics_data_integration_spark.llmdata.similarity import (
    cosine_topk,
    ivf_fixed_topk,
    ivf_topk,
    pq_encode,
    pq_fixed_topk,
    pq_topk,
    pq_train,
)

__all__ = [
    "dedup_lines",
    "canonical_url",
    "domain_stats",
    "url_domain",
    "edit_distance_pairs",
    "bpe_encode",
    "bpe_train_fixed",
    "pq_fixed_topk",
    "ivf_fixed_topk",
    "doc_logprob",
    "cosine_topk",
    "ivf_topk",
    "pq_encode",
    "pq_topk",
    "pq_train",
    "scrub_pii",
    "doc_fingerprint",
    "exact_dedup",
    "language_id",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash",
    "text_quality",
    "token_stats",
]
