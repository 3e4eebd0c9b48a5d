"""Relational + extension operators (SURVEY §2.3–2.8 and north-star ops)."""

from .aggregates import (  # noqa: F401
    distinct_sketch,
    finalize_avg,
    finalize_distinct,
    merge_distinct_sketches,
    merge_partial_aggregates,
    partial_aggregate,
)
from .arrays import array_head, positional_unnest  # noqa: F401
from .asof import asof_join  # noqa: F401
from .dedup import (  # noqa: F401
    band_assignments,
    embedding_cosine_pairs,
    exact_dedup,
    incremental_lsh_pairs,
    prefix_filter_jaccard_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from .joins import anti_join, cdc_split, left_join, merge_upsert, semi_join  # noqa: F401
from .layout import normalize_to_bits, write_zordered, zorder_key  # noqa: F401
from .range_join import band_join, bucketed_range_join  # noqa: F401
from .sessionize import sessionize, tumbling_window  # noqa: F401
from .similarity import (  # noqa: F401
    cosine_rerank,
    cosine_topk,
    ivf_assign,
    ivf_topk,
    ivf_topk_from_index,
    kmeans_centroids,
    lsh_buckets,
    lsh_topk,
    standardize_embeddings,
)
from .skew import key_skew_profile, salted_aggregate, salted_join  # noqa: F401
from .expectations import (  # noqa: F401
    combine_reports,
    referential_check,
    row_checks,
    unique_check,
)
from .text import (  # noqa: F401
    chunk_documents,
    doc_fingerprints,
    language_id,
    oov_rate,
    pii_stats,
    redact_pii,
    remove_boilerplate_lines,
    text_quality,
    token_counts,
    url_domains,
    zipf_fit,
)
from .dedup import contamination_overlap, source_pair_jaccard  # noqa: F401
from .graph import pagerank  # noqa: F401
from .sessionize import touch_attribution  # noqa: F401
from .timeseries import (  # noqa: F401
    ewma_halflife,
    linear_interpolate_gaps,
    scd2_compact,
)
