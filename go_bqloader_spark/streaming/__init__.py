from go_bqloader_spark.streaming.pipeline import (  # noqa: F401
    compose_projectors,
    run_cdc_stream,
    start_cdc_stream,
)
