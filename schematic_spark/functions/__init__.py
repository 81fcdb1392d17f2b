from .dedup import (  # noqa: F401
    drop_exact_duplicates,
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    minhash_signature,
    ngram_contamination,
    ngram_jaccard_pairs,
    drop_near_duplicates,
    near_duplicate_components,
    shingles_from_tokens,
    tokens_column,
    simhash_catalyst,
    simhash_catalyst_from_tokens,
    simhash_near_duplicates,
)
from .media import (  # noqa: F401
    DECODERS,
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_features,
    media_from_documents,
    resize_media,
    sample_frames,
    synthetic_media,
)
from .asof import asof_join  # noqa: F401
from .chunking import chunk_spans, chunk_stats  # noqa: F401
from .interval import bucketed_interval_join  # noqa: F401
from .sampling import (  # noqa: F401
    cap_per_group,
    pack_documents,
    weighted_sample,
)
from .split import assign_split, split_bucket  # noqa: F401
from .similarity import (  # noqa: F401
    cosine_similarity,
    cosine_to_query,
    cosine_topk,
    dot,
    hyperplane_signature,
    ivf_assign,
    ivf_topk,
    l2_norm,
    lsh_topk,
    train_centroids,
)
from .text import (  # noqa: F401
    bpe_ish_token_count,
    char_entropy,
    doc_fingerprint,
    lang_id,
    lang_scores,
    normalized_text,
    quality_features,
    quality_score,
    repetition_features,
    shared_passage_pairs,
    tfidf_top_terms,
    whitespace_token_count,
    winnow_fingerprints,
    with_text_analysis,
)
