from french_admin_etl_spark.operators.dedup import dedup_max_seq, dedup_max_seq_window
from french_admin_etl_spark.operators.dim_join import assert_fk, fk_orphans, fk_validate
from french_admin_etl_spark.operators.filters import allow_list_filter, allow_list_predicate
from french_admin_etl_spark.operators.validate import validate_split
from french_admin_etl_spark.operators.pivot import pivot_last_write_wins
from french_admin_etl_spark.operators.salting import add_salt, hot_keys
from french_admin_etl_spark.operators.textdedup import (
    exact_dedup,
    simhash_near_dup_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    simhash32,
)
from french_admin_etl_spark.operators.similarity import (
    cosine_topk,
    ivf_ann,
    ivf_assign,
    ivf_train,
    near_dup_pairs_cosine,
    sign_bucket,
    signature_bucket_ann,
)
from french_admin_etl_spark.operators.multimodal import media_metadata

__all__ = [
    "exact_dedup", "jaccard_pairs", "lsh_candidate_pairs", "minhash_signature",
    "simhash32", "simhash_near_dup_pairs", "cosine_topk", "near_dup_pairs_cosine", "sign_bucket",
    "signature_bucket_ann", "ivf_ann", "ivf_assign", "ivf_train", "media_metadata",
    "dedup_max_seq",
    "dedup_max_seq_window",
    "allow_list_filter",
    "allow_list_predicate",
    "validate_split",
    "pivot_last_write_wins",
    "add_salt",
    "hot_keys",
    "fk_validate",
    "fk_orphans",
    "assert_fk",
]
