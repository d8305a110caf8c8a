"""Composite operators (SURVEY.md §2.2-2.7, 2.9 + LLM-pipeline extensions)."""

from .relational import (
    top_k_per_group,
    argmax_per_group,
    melt,
    dedup_keep_first,
    train_dev_split,
    deterministic_sample,
    skip_processed,
)
from .dedup import (
    exact_dedup,
    minhash_signatures,
    lsh_candidate_pairs,
    minhash_dedup_pairs,
    simhash,
    simhash_dedup_pairs,
    ngram_jaccard_pairs,
)
from .similarity import (
    cosine_topk,
    lsh_ann_topk,
    embedding_lsh_candidates,
    embedding_near_dup_pairs,
    recommended_lsh_params,
    train_ivf_quantizer,
)
from .fuzzy import fuzzy_best_match_join, jaccard_best_match_join
from .reshape import explode_paragraphs, nest_to_squad, gather_table_text
from .inference import (
    score_pairs,
    rank_answers,
    stub_relevance_scores,
    stub_qa_answers,
    relevance_pipeline,
    qa_pipeline,
)

__all__ = [
    "top_k_per_group",
    "argmax_per_group",
    "melt",
    "dedup_keep_first",
    "train_dev_split",
    "deterministic_sample",
    "skip_processed",
    "exact_dedup",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "minhash_dedup_pairs",
    "simhash",
    "simhash_dedup_pairs",
    "ngram_jaccard_pairs",
    "cosine_topk",
    "lsh_ann_topk",
    "embedding_lsh_candidates",
    "embedding_near_dup_pairs",
    "recommended_lsh_params",
    "train_ivf_quantizer",
    "fuzzy_best_match_join",
    "jaccard_best_match_join",
    "explode_paragraphs",
    "nest_to_squad",
    "gather_table_text",
    "score_pairs",
    "rank_answers",
    "stub_relevance_scores",
    "stub_qa_answers",
    "relevance_pipeline",
    "qa_pipeline",
]
