"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship CDC pipeline end-to-end: the sf0.001 ``events``
table is treated as a binlog/WAL change feed, applied as an idempotent
key-partitioned MERGE into a snapshot-versioned lake table in a tempdir,
and the converged state is returned. ``queries``/``oracle_sql`` expose every
implemented operator (SURVEY.md §2 + training-data ops) with DuckDB
oracles — see go_bqloader_spark/plans/queries.py.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.plans import ORACLE_SQL, QUERIES, load


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay the sf0.001 events table as a change log through
    the MERGE engine (3 out-of-order batches, exactly-once ledger) and
    return the converged table state."""
    e = load(spark, "/root/testdata/sf0.001", "events")
    changes = e.select(
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
        F.col("event_id").alias("seq"),
        F.col("user_id").cast("string").alias("url"),
        F.col("ts").alias("warc_ts"),
        F.col("event_type"),
        F.col("value"),
    )
    # key = user only (url-analog); warc_ts is payload here
    tmp = tempfile.mkdtemp(prefix="entry_lake_")
    table = LakeTable.create(
        spark,
        f"{tmp}/state",
        [
            ("url", "string"),
            ("warc_ts", "timestamp"),
            ("event_type", "string"),
            ("value", "double"),
        ],
        key=["url"],
        n_buckets=8,
    )
    for i in range(3):
        table.merge(
            changes.filter(F.pmod(F.col("seq"), 3) == i), batch_key=("entry", i)
        )
    return table.read()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ training-data
    pipeline ops). Each callable takes (spark, sf_dir) → DataFrame."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query."""
    return dict(ORACLE_SQL)
