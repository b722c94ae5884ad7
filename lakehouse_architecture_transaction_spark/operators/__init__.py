from lakehouse_architecture_transaction_spark.operators.dedup import (  # noqa: F401
    dedup_exact,
    exact_text_dedup,
    fingerprint,
    minhash_signature,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    shingle_expr,
    tokens_expr,
)
from lakehouse_architecture_transaction_spark.operators.asof import asof_join  # noqa: F401
from lakehouse_architecture_transaction_spark.operators.dedup import release_persisted  # noqa: F401
from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert  # noqa: F401
from lakehouse_architecture_transaction_spark.operators.scd2 import scd2_build  # noqa: F401
from lakehouse_architecture_transaction_spark.operators.skew import salted_join  # noqa: F401
from lakehouse_architecture_transaction_spark.operators.similarity import (  # noqa: F401
    cosine_dup_pairs,
    cosine_topk,
)
from lakehouse_architecture_transaction_spark.operators.text import (  # noqa: F401
    lang_id,
    quality_score,
    rolling_hash,
    token_stats,
)
