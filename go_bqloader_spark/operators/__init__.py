from go_bqloader_spark.operators.merge import (  # noqa: F401
    lww_dedup,
    salted_lww_dedup,
)
from go_bqloader_spark.operators.textpipeline import (  # noqa: F401
    chunk_documents,
    pack_sequences,
    paragraph_dedup,
    pii_scrub,
    repetition_stats,
    stratified_sample,
    tfidf_topk,
)
from go_bqloader_spark.operators.similarity import (  # noqa: F401
    cosine_topk,
    hyperplane_lsh_buckets,
    ivf_assign,
    ivf_cells,
    ivf_topk,
    lsh_topk,
)
