"""Structured-Streaming CDC pipeline: binlog tail → exactly-once MERGE.

The reference is architecturally a stream (one storage event per file,
at-least-once from Cloud Functions — SURVEY.md §2.4) with an append-only,
NON-idempotent sink (``/root/reference/loader.go:33-60``). This module is
the upgrade the north-star demands:

- ``readStream`` tails the binlog directory (a file-source WAL: each
  parquet file is a log segment; ``maxFilesPerTrigger`` bounds batch size);
- an optional vectorized projector (the Handler's transform bundle) runs
  per micro-batch;
- ``foreachBatch`` applies the batch through ``LakeTable.merge`` keyed by
  ``(query_name, batch_id)``. Spark's checkpoint gives at-least-once batch
  REPLAY; the table's manifest ledger makes the apply idempotent, so the
  composition is exactly-once (kill -9 between merge-commit and checkpoint
  advance ⇒ the redelivered batch is a no-op);
- no watermark: the MERGE never drops late rows — LWW by ``seq`` makes
  late arrivals converge instead (tombstones guard deletes).

Lineage/metrics per batch land in the table manifest (resume_watermarks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.sources.datagen import CHANGE_SCHEMA


def start_cdc_stream(
    spark: SparkSession,
    binlog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    query_name: str = "cdc_apply",
    max_files_per_trigger: int = 8,
    projector: Callable[[DataFrame], DataFrame] | None = None,
    compact_every: int = 16,
    expire_keep: int | None = 64,
    schema: str = CHANGE_SCHEMA,
) -> StreamingQuery:
    """Start the streaming apply; returns the StreamingQuery handle.

    ``projector`` runs per micro-batch inside ``foreachBatch``, before the
    merge (the reference's per-table Projector analog; chain several with
    :func:`compose_projectors`). Every ``compact_every`` batches the same
    thread compacts the table and expires snapshots beyond
    ``expire_keep``."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(binlog_dir)
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if projector is not None:
            batch_df = projector(batch_df)
        table.merge(batch_df, batch_key=(query_name, batch_id))
        # MoR maintenance, same single-writer thread as the merges: fold
        # delta entries periodically so read amplification stays bounded,
        # and expire old snapshots so manifests + dead files don't
        # accumulate forever during an endless tail (metrics spill keeps
        # lineage complete)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            table.compact(min_entries=4)
            if expire_keep:
                table.expire_snapshots(keep_n=expire_keep)

    return (
        stream.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(apply_batch)
        .start()
    )


def run_cdc_stream(
    spark: SparkSession,
    binlog_dir: str,
    table: LakeTable,
    checkpoint_dir: str,
    timeout_sec: int = 600,
    **kwargs,
) -> None:
    """Run the stream to exhaustion of currently-available input
    (``availableNow`` trigger) and block until done — the replay entry
    point; restart-safe from the same checkpoint."""
    q = start_cdc_stream(spark, binlog_dir, table, checkpoint_dir, **kwargs)
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(f"stream did not drain in {timeout_sec}s")
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")


def compose_projectors(
    *projectors: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame], DataFrame]:
    """Chain per-batch projectors left-to-right into one
    ``start_cdc_stream(projector=...)`` hook, e.g.::

        compose_projectors(
            canonicalize_projector(),  # key normalization FIRST
            project_page_batch,        # re-extract text, token stats
        )

    Order matters and is the caller's contract: canonicalization must
    precede anything keyed by url. Each stage is itself a lazy
    DataFrame→DataFrame map, so composition adds no extra evaluation —
    the batch plan fuses across stages."""

    def project(batch: DataFrame) -> DataFrame:
        for p in projectors:
            batch = p(batch)
        return batch

    return project
