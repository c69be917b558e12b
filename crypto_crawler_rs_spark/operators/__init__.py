from .rank import global_rank
from .pop import pop_per_host
from .packing import pack_commands
from .dedup import (
    compact_band_index,
    compact_digest_index,
    incremental_lsh_pairs,
    write_band_index,
    exact_dedup,
    filter_new_digests,
    shingle_rows,
    write_digest_index,
    ngram_jaccard_pairs,
    minhash_lsh_pairs,
    simhash_fingerprints,
    simhash_pairs,
)
from .similarity import (
    cosine_topk_bruteforce,
    cosine_topk_ivf,
    cosine_topk_lsh,
    learn_ivf_centroids,
    cosine_neardup_pairs,
    lsh_bucket_signatures,
    with_unit_vectors,
)
from .multimodal import extract_media_features, gen_media_fixture, sniff_format
from .seenjoin import filter_unseen_bucket_pruned
from .dedup import chunk_dedup
from .graphrank import (
    host_edges,
    pagerank,
    pagerank_oracle_sql,
    ranks_to_policy,
    refresh_host_rank,
)
from .politeness import ewma_policy, host_ewma_delay
from .prep import prep_corpus
from .lmscore import train_unigram_logprobs, unigram_surprisal_score
from .components import (
    connected_components,
    dedup_keep_list,
    incremental_components,
)
from .traps import host_of, mask_pattern, suppress_traps, trap_patterns
from .decontaminate import contamination_report, decontaminate
from .sampling import stratified_budgets, stratified_sample
from .winnow import winnow_fingerprints, winnow_passage_pairs

__all__ = [
    "global_rank",
    "pop_per_host",
    "pack_commands",
    "compact_digest_index",
    "exact_dedup",
    "filter_new_digests",
    "compact_band_index",
    "incremental_lsh_pairs",
    "write_band_index",
    "shingle_rows",
    "write_digest_index",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_fingerprints",
    "simhash_pairs",
    "cosine_topk_bruteforce",
    "cosine_topk_ivf",
    "cosine_topk_lsh",
    "learn_ivf_centroids",
    "cosine_neardup_pairs",
    "lsh_bucket_signatures",
    "with_unit_vectors",
    "extract_media_features",
    "gen_media_fixture",
    "sniff_format",
    "filter_unseen_bucket_pruned",
    "chunk_dedup",
    "pagerank",
    "pagerank_oracle_sql",
    "ranks_to_policy",
    "host_edges",
    "refresh_host_rank",
    "ewma_policy",
    "host_ewma_delay",
    "prep_corpus",
    "train_unigram_logprobs",
    "unigram_surprisal_score",
    "connected_components",
    "dedup_keep_list",
    "incremental_components",
    "suppress_traps",
    "host_of",
    "mask_pattern",
    "trap_patterns",
    "contamination_report",
    "decontaminate",
    "stratified_budgets",
    "stratified_sample",
    "winnow_fingerprints",
    "winnow_passage_pairs",
]
