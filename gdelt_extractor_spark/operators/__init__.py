"""Operator namespace — every operator is a DataFrame→DataFrame
function; import from here for the public API."""

from types import ModuleType as _ModuleType

from .curation import (
    balance_classes,
    blocklist_filter,
    budget_select,
    c4_line_filter,
    corpus_report,
    source_quality_filter,
    corpus_stats,
    decontaminate,
    dedup_lines_global,
    mix_sources,
    normalize_url,
    prefix_clusters,
    sample_split,
    source_overlap,
    stratified_sample,
    url_filter,
    weighted_sample,
)
from .dedup import (
    connected_components,
    cut_duplicate_spans,
    dedup_containment,
    dedup_embedding,
    dedup_exact,
    dedup_incremental,
    dedup_incremental_minhash,
    dedup_keep_first,
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_semantic,
    dedup_simhash,
    duplicate_spans,
    keep_canonical,
    minhash_band_index,
    span_dup_fraction,
    minhash_signatures,
    simhash,
    updated_band_index,
    updated_index,
)
from .enrich import enrich_articles, enrich_articles_fetch
from .geo import geo_project, grid_join, haversine_km, nearest_join
from .affinity import association_rules
from .decomposition import pca, pca_fit, pca_project, random_projection
from .graph import k_core, label_propagation, pagerank, triangle_count
from .keywords import keyword_freq
from .linkage import golden_record, linkage_score
from .packing import pack_bins_bfd, chunk_documents, pack_sequences
from .pii import k_anonymity, l_diversity, luhn_valid, redact_pii, scan_pii
from .features import quantile_normalize, target_encode
from .profiling import (
    bootstrap_ci,
    calibration_table,
    join_cardinality,
    ks_test,
    key_skew_profile,
    auc_score,
    benford_audit,
    chi_square,
    gini,
    mutual_information,
    pr_curve,
    profile_table,
)
from .ranking import global_ntile, global_row_number, global_running_sum
from .multimodal import (
    dedup_videos,
    image_phash,
    video_fingerprint,
    attach_fake_media,
    audio_features,
    frame_sample,
    image_features,
    resize_images,
)
from .clustering import (
    cluster_profile,
    cluster_prune,
    contrastive_triplets,
    kmeans_cluster,
    kmeans_fit,
)
from .similarity import (
    source_similarity,
    ann_bruteforce,
    ann_ivf,
    ann_lsh,
    fuzzy_join,
    ivf_fit_centroids,
    quantize_embeddings,
)
from .sketches import approx_topk, hll_rollup, hll_sketch_table
from .skew import salted_agg, salted_join
from .temporal import (
    seasonal_decompose,
    asof_join,
    autocorrelation,
    cusum_changepoint,
    fill_gaps,
    kaplan_meier,
    range_join,
    scd2_apply,
)
from .textstats import (
    class_tfidf,
    bpe_pair_counts,
    byte_stats,
    fingerprint,
    hapax_stats,
    hashed_embedding,
    lang_id,
    lang_id_ngram,
    ngram_repetition,
    quality_score,
    token_stats,
    vocab_divergence,
)

# Derived, not hand-kept: every public name imported above.
__all__ = sorted(
    name
    for name, value in globals().items()
    if not name.startswith("_") and not isinstance(value, _ModuleType)
)
