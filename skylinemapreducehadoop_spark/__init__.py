"""PySpark-native skyline analytics engine.

A from-scratch re-expression of the capabilities of
``masruba/SkylineMapReduceHadoop`` (a Hadoop MapReduce implementation of
"Parallel computation of skyline and reverse skyline queries using
MapReduce", PVLDB 2013) as an idiomatic PySpark DataFrame library, plus
the large-scale training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) such an engine needs at
100 TB scale.

Everything here is DataFrame-first: logical plans are declared with the
PySpark DataFrame/SQL API so Catalyst/Tungsten pick the physical
strategy; only the dominance kernel itself (which Catalyst cannot
express) drops to Arrow-batch NumPy via ``mapInArrow`` /
``applyInArrow``.

Importing the package first installs ``_worker.install_zipimport_hook``,
so every Python worker that unpickles an engine function stops
re-reading ``pyspark.zip`` at the start of each later task.
"""

from skylinemapreducehadoop_spark._worker import install_zipimport_hook

install_zipimport_hook()

from skylinemapreducehadoop_spark.operators.skyline import (
    skyline,
    skyline_by,
    skyline_kband,
    skyline_layers,
)
from skylinemapreducehadoop_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup,
)
from skylinemapreducehadoop_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup,
    ivf_build,
    ivf_probe,
    ivf_read,
    ivf_topk,
    ivf_write,
)
from skylinemapreducehadoop_spark.operators.temporal import (
    asof_join,
    event_transitions,
    range_join,
)
from skylinemapreducehadoop_spark.operators.skew import salted_agg, salted_join
from skylinemapreducehadoop_spark.operators.sampling import (
    hash_sample,
    reservoir_sample,
    stratified_hash_sample,
)
from skylinemapreducehadoop_spark.operators.dedup import (
    contamination_check,
    contamination_check_fuzzy,
    dedup_clusters,
    segment_dedup,
)
from skylinemapreducehadoop_spark.operators.fuzzy import fuzzy_join_ed1
from skylinemapreducehadoop_spark.operators.graph import (
    clustering_coefficient,
    pagerank,
    triangle_count,
)
from skylinemapreducehadoop_spark.operators.sketches import heavy_hitters
from skylinemapreducehadoop_spark.operators.similarity import (
    kmeans_lloyd,
    knn_graph,
)
from skylinemapreducehadoop_spark.operators.multimodal import (
    decode_media,
    image_header_meta,
)
from skylinemapreducehadoop_spark.functions.profile import profile
from skylinemapreducehadoop_spark.functions.expect import expectations
from skylinemapreducehadoop_spark.functions.text import (
    bpe_train,
    pmi_collocations,
    bigram_logprob,
    build_vocab,
    encode_tokens,
    language_id,
    quality_flags,
    text_stats,
    unigram_logprob,
)
from skylinemapreducehadoop_spark.sources.tables import load_table, load_tables
from skylinemapreducehadoop_spark.sources.gsod import read_gsod
from skylinemapreducehadoop_spark.sources.merge import (
    delete_partitioned,
    upsert_partitioned,
)
from skylinemapreducehadoop_spark.operators.diff import table_diff, table_diff_summary
from skylinemapreducehadoop_spark.session import get_session
from skylinemapreducehadoop_spark.sql import skyline_sql
from skylinemapreducehadoop_spark.operators.stats import (
    corr_matrix,
    frequent_pairs,
    linear_fit,
    zscore_outliers,
)
from skylinemapreducehadoop_spark.operators.retrieval import (
    bm25_probe,
    bm25_topk,
    build_text_index,
    retrieval_ndcg,
)

__all__ = [
    "skyline",
    "skyline_by",
    "skyline_kband",
    "skyline_layers",
    "exact_dedup",
    "minhash_near_dup",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_dup",
    "cosine_topk",
    "ann_lsh_topk",
    "ivf_build",
    "ivf_probe",
    "ivf_read",
    "ivf_topk",
    "ivf_write",
    "embedding_near_dup",
    "asof_join",
    "range_join",
    "hash_sample",
    "reservoir_sample",
    "stratified_hash_sample",
    "salted_agg",
    "salted_join",
    "profile",
    "text_stats",
    "quality_flags",
    "language_id",
    "load_table",
    "load_tables",
    "read_gsod",
    "get_session",
    "skyline_sql",
    "segment_dedup",
    "dedup_clusters",
    "contamination_check",
    "contamination_check_fuzzy",
    "fuzzy_join_ed1",
    "pagerank",
    "triangle_count",
    "clustering_coefficient",
    "frequent_pairs",
    "table_diff",
    "table_diff_summary",
    "delete_partitioned",
    "event_transitions",
    "linear_fit",
    "corr_matrix",
    "zscore_outliers",
    "bm25_topk",
    "build_text_index",
    "bm25_probe",
    "pmi_collocations",
    "bpe_train",
    "heavy_hitters",
    "knn_graph",
    "kmeans_lloyd",
    "decode_media",
    "image_header_meta",
    "expectations",
    "unigram_logprob",
    "bigram_logprob",
    "build_vocab",
    "encode_tokens",
    "upsert_partitioned",
    "benford_digits",
    "calibration_bins",
    "chi2_independence",
    "gini_by",
    "global_prefix_sum",
    "ks_test",
    "l_diversity",
    "mutual_info_scan",
    "ntile_global",
    "roc_auc",
    "survival_km",
    "trimmed_mean",
    "wilson_ci",
    "winsorized_mean",
    "ewma_smooth",
    "interarrival_stats",
    "interpolate_missing",
    "leadlag_corr",
    "not_followed_by",
    "position_attribution",
    "rolling_active_users",
    "seasonality_index",
    "theil_sen_trend",
    "transition_entropy",
    "boilerplate_segments",
    "strip_boilerplate",
    "balanced_shards",
    "mix_diversity",
    "pca_components",
    "pca_project",
    "sorted_neighborhood_pairs",
    "image_dhash",
    "image_pixel_stats",
    "make_jpeg_pixels",
    "ascii_lower",
    "ascii_upper",
    "referential_integrity",
    "normalize_nfc",
    "encoding_artifacts",
    "fix_mojibake",
    "script_mix",
    "line_stats",
    "corpus_budget_stats",
    "hard_negatives",
    "hard_positives",
    "dedup_threshold_sweep",
    "retrieval_ndcg",
    "vocab_budget",
]

from skylinemapreducehadoop_spark.operators.stats import (
    benford_digits,
    calibration_bins,
    chi2_independence,
    gini_by,
    global_prefix_sum,
    ks_test,
    l_diversity,
    mutual_info_scan,
    ntile_global,
    roc_auc,
    survival_km,
    trimmed_mean,
    wilson_ci,
    winsorized_mean,
)
from skylinemapreducehadoop_spark.operators.temporal import (
    ewma_smooth,
    interarrival_stats,
    interpolate_missing,
    leadlag_corr,
    not_followed_by,
    position_attribution,
    rolling_active_users,
    seasonality_index,
    theil_sen_trend,
    transition_entropy,
)
from skylinemapreducehadoop_spark.operators.dedup import (
    boilerplate_segments,
    dedup_threshold_sweep,
    strip_boilerplate,
)
from skylinemapreducehadoop_spark.operators.sampling import (
    balanced_shards,
    mix_diversity,
)
from skylinemapreducehadoop_spark.operators.similarity import (
    pca_components,
    pca_project,
)
from skylinemapreducehadoop_spark.operators.fuzzy import (
    sorted_neighborhood_pairs,
)
from skylinemapreducehadoop_spark.operators.multimodal import (
    image_dhash,
    image_pixel_stats,
    make_jpeg_pixels,
)
from skylinemapreducehadoop_spark.functions.expect import (
    referential_integrity,
)
from skylinemapreducehadoop_spark.functions.text import (
    ascii_lower,
    ascii_upper,
    corpus_budget_stats,
    encoding_artifacts,
    fix_mojibake,
    line_stats,
    script_mix,
    normalize_nfc,
    vocab_budget,
)
from skylinemapreducehadoop_spark.operators.similarity import (
    hard_negatives,
    hard_positives,
)

__version__ = "0.3.0"
