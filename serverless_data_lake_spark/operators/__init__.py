"""Engine operators.

- ``dedup``      — pipeline PK window-dedup (reference R12) plus the
  large-scale training-data dedup family: exact, MinHash+LSH,
  SimHash, n-gram Jaccard, embedding-cosine near-dup.
- ``similarity`` — similarity search over embedding columns:
  brute-force cosine top-k and an LSH-bucketed ANN variant.
- ``text``       — text analysis: language ID, quality scoring,
  token counting, chunking, repetition signals, PII redaction.
- ``multimodal`` — binary-column plumbing for image payloads (real
  codec-less decode and features via ``media_codecs``) plus
  metadata-only media stats.
- ``skew``       — two-phase salted aggregation for hot-key
  shuffles AQE can't fix.
- ``profile``    — single-pass per-column table profiling (count,
  nulls, exact or HLL distinct, min/max).
- ``sampling``   — deterministic hash sampling and leakage-safe
  train/val/test splits.
- ``lm``         — bigram-LM perplexity scoring (CCNet-style filter
  signal; Witten-Bell-weighted interpolation).
- ``mixing``     — skew-resilient per-origin caps, corpus
  rebalancing to a max origin share.
- ``classifier`` — trainable quality classifier (hashed
  token+bigram features → logistic regression, JVM-side via
  pyspark.ml).
- ``packing``    — GPT-style sequence packing via distributed
  prefix sum; sequence assembly and ordered training export.
- ``bpe``        — byte-level BPE tokenization against a frozen
  shipped vocabulary (real subword token budgets for packing,
  chunking, and the LM; Arrow-batched where Python is required).

All operators are Column-expression / DataFrame compositions (JVM
whole-stage-codegen path); Python appears only inside Arrow-batched
Pandas UDFs where Spark has no built-in equivalent.
"""

from serverless_data_lake_spark.operators.bpe import (
    BpeTokenizer,
    default_tokenizer,
    train_bpe,
)
from serverless_data_lake_spark.operators.dedup import (
    build_lsh_index,
    contamination_pairs,
    contamination_report,
    dedup_exact,
    decontaminate,
    lsh_pairs_index_vs_index,
    lsh_self_pairs,
    keep_one_per_key,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_prefix,
    reference_span_grams,
    remove_duplicate_spans,
    remove_reference_spans,
    simhash_near_duplicates,
    simhash_signatures,
)
from serverless_data_lake_spark.operators.similarity import (
    cosine_topk,
    embedding_all_pairs_numpy,
    embedding_near_duplicates,
    euclidean_topk,
    ivf_topk,
    train_ivf_centroids,
    lsh_bucketed_topk,
    pq_encode,
    pq_topk,
    semantic_dedup,
    train_pq_codebooks,
)
from serverless_data_lake_spark.operators.lm import (
    LocalNGramLM,
    NGramLM,
    perplexity_score,
    perplexity_score_inrow,
    train_bigram_lm,
    train_bigram_lm_local,
)
from serverless_data_lake_spark.operators.mixing import (
    cap_per_group,
    rebalance_sources,
    source_mix_report,
)
from serverless_data_lake_spark.operators.profile import profile_table
from serverless_data_lake_spark.operators.sampling import (
    assign_splits,
    deterministic_sample,
    hash_unit,
    importance_sample,
    stratified_sample,
)
from serverless_data_lake_spark.operators.skew import salted_aggregate
from serverless_data_lake_spark.operators.text import (
    chunk_documents,
    detect_language,
    quality_score,
    token_count,
    tokenize,
)
from serverless_data_lake_spark.operators.packing import (
    assemble_sequences,
    export_packed,
    pack_sequences,
)
from serverless_data_lake_spark.operators.components import (
    connected_components,
    dedup_corpus,
)

__all__ = [
    "assemble_sequences",
    "assign_splits",
    "BpeTokenizer",
    "build_lsh_index",
    "chunk_documents",
    "connected_components",
    "contamination_pairs",
    "contamination_report",
    "dedup_corpus",
    "default_tokenizer",
    "export_packed",
    "importance_sample",
    "lsh_pairs_index_vs_index",
    "lsh_self_pairs",
    "pack_sequences",
    "pq_encode",
    "pq_topk",
    "semantic_dedup",
    "stratified_sample",
    "train_bpe",
    "train_pq_codebooks",
    "cosine_topk",
    "decontaminate",
    "dedup_exact",
    "deterministic_sample",
    "embedding_all_pairs_numpy",
    "detect_language",
    "embedding_near_duplicates",
    "euclidean_topk",
    "hash_unit",
    "ivf_topk",
    "train_ivf_centroids",
    "keep_one_per_key",
    "lsh_bucketed_topk",
    "minhash_lsh_pairs",
    "LocalNGramLM",
    "NGramLM",
    "cap_per_group",
    "rebalance_sources",
    "source_mix_report",
    "perplexity_score",
    "perplexity_score_inrow",
    "train_bigram_lm",
    "train_bigram_lm_local",
    "ngram_jaccard_pairs",
    "ngram_jaccard_prefix",
    "reference_span_grams",
    "remove_duplicate_spans",
    "remove_reference_spans",
    "profile_table",
    "quality_score",
    "salted_aggregate",
    "simhash_near_duplicates",
    "simhash_signatures",
    "token_count",
    "tokenize",
]
