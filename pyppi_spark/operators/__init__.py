from .sessionize import with_session_id, session_bounds
from .lag_lead import with_lag_lead, with_gaps
from .backfill import ffill, bfill
from .asof import asof_join, asof_join_union, asof_join_merge
from .range_join import range_join
from .dedup import (
    simhash_near_dup_pairs,
    simhash_pairs_from_hashes,
    winnow_candidate_pairs,
    winnow_candidate_pairs_incremental,
    exact_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    simhash64,
    ngram_jaccard_pairs,
    near_dedup_representatives,
    winnow_fingerprints,
    winnow_fingerprints_kernel,
    content_keys,
    exact_dedup_incremental,
    near_dedup_incremental,
    minhash_bands,
    simhash_keys,
    simhash_near_dup_incremental,
)
from .decontaminate import decontaminate, repetition_report
from .align import align_conversations
from .sampling import dataset_split, stratified_sample
from .similarity import (
    brute_force_topk,
    pit_topk,
    ivf_topk,
    semantic_dedup_pairs,
    threshold_pairs_exact,
    ivf_pq_encode,
    ivf_pq_topk,
    train_ivf_pq_from_file,
    write_ivf_pq_index,
    read_ivf_pq_index,
)
from .dsir import dsir_scores, gumbel_topk, hashed_gram_occurrences, bucket_counts
from .heavy_hitters import frequent_tokens
from .packing import pack_sequences
from .salted_agg import salted_agg
from .window_extras import (
    with_table_driven_offsets,
    bounded_lookahead,
    with_group_normalized,
)

__all__ = [
    "with_session_id",
    "session_bounds",
    "with_lag_lead",
    "with_gaps",
    "ffill",
    "bfill",
    "asof_join",
    "asof_join_union",
    "asof_join_merge",
    "range_join",
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash64",
    "simhash_near_dup_pairs",
    "simhash_pairs_from_hashes",
    "winnow_candidate_pairs",
    "winnow_candidate_pairs_incremental",
    "ngram_jaccard_pairs",
    "near_dedup_representatives",
    "winnow_fingerprints",
    "winnow_fingerprints_kernel",
    "content_keys",
    "exact_dedup_incremental",
    "near_dedup_incremental",
    "minhash_bands",
    "simhash_keys",
    "simhash_near_dup_incremental",
    "decontaminate",
    "repetition_report",
    "brute_force_topk",
    "pit_topk",
    "ivf_topk",
    "semantic_dedup_pairs",
    "threshold_pairs_exact",
    "ivf_pq_encode",
    "ivf_pq_topk",
    "train_ivf_pq_from_file",
    "write_ivf_pq_index",
    "read_ivf_pq_index",
    "dsir_scores",
    "frequent_tokens",
    "gumbel_topk",
    "hashed_gram_occurrences",
    "bucket_counts",
    "pack_sequences",
    "align_conversations",
    "dataset_split",
    "stratified_sample",
    "salted_agg",
    "with_table_driven_offsets",
    "bounded_lookahead",
    "with_group_normalized",
]
