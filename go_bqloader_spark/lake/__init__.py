from go_bqloader_spark.lake.table import (  # noqa: F401
    CommitConflict,
    LakeTable,
    MergeStats,
)
