"""go_bqloader_spark — a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of ``nownabe/go-bqloader``
(reference snapshot at /root/reference, studied read-only) as an idiomatic
Spark engine:

- the reference's storage-event → extract → decode → parse → project → load
  pipeline (``/root/reference/handler.go:100-131``) becomes a Structured
  Streaming change-event feed applied as key-partitioned MERGE upserts into a
  snapshot-versioned lake table (Iceberg-style; parquet-backed shim when the
  Iceberg runtime jar is unavailable);
- the per-row Go ``Projector`` (``/root/reference/handler.go:51``) becomes a
  bundle of vectorized Spark column expressions / Arrow-batched pandas UDFs
  (never per-row Python);
- the append-only BigQuery load job (``/root/reference/loader.go:33-60``)
  becomes an idempotent exactly-once MERGE driven by atomic snapshot commits
  plus a checkpointed offset ledger.

Layout:
- ``session``     tuned SparkSession builders (local[N] test / cluster prod)
- ``functions``   vectorized transform library (reference-parity T1-T10,
                  text analysis, html→text extraction)
- ``sources``     CSV-variant parsers (P1-P3), binlog/change-feed readers,
                  deterministic synthetic data generator
- ``lake``        snapshot-versioned table format: atomic manifest commits,
                  bucket-partitioned merge-on-read MERGE, schema evolution,
                  exactly-once offset ledger, time travel
- ``operators``   the query registry's operators: LWW and salted two-phase
                  dedup, near-dup clustering, LSH/IVF similarity search,
                  corpus-prep passes
- ``streaming``   Structured Streaming pipeline: binlog tail → foreachBatch
                  MERGE with checkpointed exactly-once and lineage metrics
- ``plans``       handler registry (event fan-out O1) and the oracle-backed
                  query registry
"""

__version__ = "0.1.0"

from go_bqloader_spark.notifier import SlackNotifier  # noqa: F401,E402  (root-level like bqloader.SlackNotifier)
