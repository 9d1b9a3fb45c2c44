"""faiss_spark — a PySpark-native batch vector analytics engine.

Re-expresses the query/data-processing capabilities of faiss (reference:
myscale fork, v1.7.3) as idiomatic Spark DataFrame programs: brute-force
and IVF k-NN / range search, k-means clustering, vector transforms,
quantizer codecs, plus LLM-training-data pipeline operators
(deduplication, similarity join, text analysis) designed for 100 TB scale.

Design (see SURVEY.md):
- An "index" is a partitioned Parquet table + a small broadcastable model
  artifact (centroids / codebooks / transform matrices) — never a server
  object.
- Distances are declared with built-in SQL expressions where exactness vs
  a SQL oracle matters, and computed with numpy GEMM inside
  ``mapInArrow`` on the hot path (mirrors faiss's BLAS brute-force path,
  reference faiss/utils/distances.cpp:271-354).
- Top-k is per-partition bounded selection + a small global merge
  (reference faiss/python/extra_wrappers.py:136-174 ResultHeap semantics).
"""

from faiss_spark.operators.binary import (
    BinaryHashIndex,
    BinaryIVFIndex,
    BinaryMultiHashIndex,
    binarize,
    binary_range_search_preassigned,
    binary_search_preassigned,
    hamming_knn,
    jaccard_knn,
)
from faiss_spark.operators.cluster import KMeans, kmeans_1d
from faiss_spark.operators.codecs import (
    LSCoarseQuantizer,
    PolysemousTraining,
    ProductQuantizer,
    ResidualCoarseQuantizer,
    ResidualQuantizer,
    ScalarQuantizer,
)
from faiss_spark.operators.dedup import (
    decontaminate,
    decontaminate_spans,
    dedup_against,
    dedup_components,
    dedup_keep_best,
    duplicated_spans,
    embedding_neardup_pairs,
    exact_dedup,
    line_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    remove_duplicated_spans,
    simhash64_neardup_pairs,
    simhash_neardup_pairs,
    span_dedup_stats,
)
from faiss_spark.functions.bpe import bpe_encode, bpe_train, bpe_word_counts
from faiss_spark.functions.corpus import (
    assign_splits,
    chunk_documents,
    importance_filter,
    pack_sequences,
    repeat_corpus,
    shuffle_corpus,
    temperature_sample,
    token_budget_sample,
)
from faiss_spark.functions.quality import (
    QualityClassifierModel,
    train_quality_classifier,
)
from faiss_spark.functions.text import (
    bigram_frequencies,
    dup_ngram_char_frac,
    gopher_quality_flags,
    perplexity_buckets,
    term_frequencies,
    top_ngram_char_frac,
)
from faiss_spark.operators.graph import knn_graph_bucketed, nn_descent
from faiss_spark.operators.ivf import (
    IMIIVFIndex,
    IMIPQIndex,
    MIQ2IVFIndex,
    IVFAQIndex,
    IVFIndex,
    IVFPQIndex,
    IVFPQRIndex,
    IVFRCQIndex,
    IVFSpectralHash,
    IVFSQIndex,
    aq_search_preassigned,
    ivf_range_search,
    pq_search_preassigned,
    pqr_search_preassigned,
    range_search_preassigned,
    range_search_with_parameters,
    search_preassigned,
    sq_search_preassigned,
    search_with_parameters,
)
from faiss_spark.operators.fastscan import (
    IVFAQFastScanIndex,
    IVFPQFastScanIndex,
    aq_fastscan_encode,
    aq_fastscan_search,
    aq_fastscan_search_preassigned,
    fastscan_search_preassigned,
    pq_fastscan_search,
    train_aq_fastscan,
    train_ivf_paq_fastscan,
    train_paq_fastscan,
)
from faiss_spark.operators.knn import knn, knn_join, range_search
from faiss_spark.operators.lattice import LatticeIndex, ZnSphereCodec
from faiss_spark.operators.nsg import (
    NSGIndex,
    binary_nsg_build,
    binary_nsg_search,
)
from faiss_spark.operators.refine import dedup_flat, knn_1d, refine_search
from faiss_spark.operators.transforms import (
    ITQTransform,
    OPQMatrix,
    PCAMatrix,
    Pipeline,
    RandomRotation,
)
from faiss_spark.plans.factory import (
    index_binary_factory,
    index_factory,
    reverse_index_binary_factory,
    reverse_index_factory,
)
from faiss_spark.sources.datasets import SyntheticDataset
from faiss_spark.sources.persist import read_index, write_index

__version__ = "0.1.0"

__all__ = [
    "knn",
    "knn_join",
    "range_search",
    "knn_1d",
    "refine_search",
    "dedup_flat",
    "KMeans",
    "kmeans_1d",
    "IVFIndex",
    "IVFPQIndex",
    "IVFPQRIndex",
    "IVFAQIndex",
    "IVFSQIndex",
    "aq_fastscan_search_preassigned",
    "aq_search_preassigned",
    "fastscan_search_preassigned",
    "pq_search_preassigned",
    "pqr_search_preassigned",
    "range_search_preassigned",
    "search_preassigned",
    "sq_search_preassigned",
    "IVFRCQIndex",
    "ResidualCoarseQuantizer",
    "LSCoarseQuantizer",
    "BinaryIVFIndex",
    "BinaryHashIndex",
    "index_binary_factory",
    "reverse_index_binary_factory",
    "ScalarQuantizer",
    "ProductQuantizer",
    "ResidualQuantizer",
    "PCAMatrix",
    "RandomRotation",
    "OPQMatrix",
    "ITQTransform",
    "Pipeline",
    "binarize",
    "binary_range_search_preassigned",
    "binary_search_preassigned",
    "hamming_knn",
    "jaccard_knn",
    "dedup_against",
    "dedup_components",
    "dedup_keep_best",
    "exact_dedup",
    "line_dedup",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_neardup_pairs",
    "embedding_neardup_pairs",
    "knn_graph_bucketed",
    "nn_descent",
    "simhash64_neardup_pairs",
    "term_frequencies",
    "bigram_frequencies",
    "gopher_quality_flags",
    "perplexity_buckets",
    "train_quality_classifier",
    "QualityClassifierModel",
    "top_ngram_char_frac",
    "dup_ngram_char_frac",
    "pack_sequences",
    "temperature_sample",
    "assign_splits",
    "chunk_documents",
    "importance_filter",
    "repeat_corpus",
    "shuffle_corpus",
    "token_budget_sample",
    "bpe_train",
    "bpe_encode",
    "bpe_word_counts",
    "index_factory",
    "reverse_index_factory",
    "write_index",
    "read_index",
    "SyntheticDataset",
    "IMIIVFIndex",
    "IMIPQIndex",
    "MIQ2IVFIndex",
    "IVFSpectralHash",
    "ivf_range_search",
    "search_with_parameters",
    "range_search_with_parameters",
    "BinaryMultiHashIndex",
    "PolysemousTraining",
    "decontaminate",
    "decontaminate_spans",
    "LatticeIndex",
    "ZnSphereCodec",
    "NSGIndex",
    "pq_fastscan_search",
    "IVFPQFastScanIndex",
    "IVFAQFastScanIndex",
    "train_aq_fastscan",
    "train_paq_fastscan",
    "train_ivf_paq_fastscan",
    "aq_fastscan_encode",
    "aq_fastscan_search",
    "duplicated_spans",
    "span_dedup_stats",
    "remove_duplicated_spans",
    "binary_nsg_build",
    "binary_nsg_search",
    "__version__",
]
