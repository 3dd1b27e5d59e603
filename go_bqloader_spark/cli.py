"""spark-submit entrypoint: ``spark-submit --py-files gbs.zip -m`` style.

Subcommands (argv[1]):

- ``create   <table_path> [n_buckets]`` — create the pages table
- ``replay   <table_path> <binlog_glob> <checkpoint_dir>`` — drain the
  currently-available binlog through the exactly-once streaming apply
  (availableNow trigger); safe to re-run, resumes from checkpoint
- ``merge    <table_path> <batch_parquet> <query_id> <batch_id>`` — apply
  one batch (idempotent by ledger key)
- ``compact  <table_path> [--expire-tombstones]`` — fold MoR deltas
- ``expire   <table_path> [keep_n]`` — truncate snapshot history + GC
  unreferenced data files (expired snapshots' lineage metrics spill to
  ``_lineage/`` as JSON lines, written on the driver)
- ``status   <table_path>`` — version, history, watermarks, entry counts
- ``gen      <out_dir> <n_events> [n_batches]`` — stage a deterministic
  synthetic change feed (seed 42)

Usage on a cluster:
    zip -r gbs.zip go_bqloader_spark
    spark-submit --py-files gbs.zip go_bqloader_spark/cli.py replay \
        /lake/pages '/wal/segments/*' /ckpt/pages
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
    ("n_tokens", "int"),
    ("stop_ratio", "double"),
]


def main(argv: list[str]) -> int:
    from go_bqloader_spark.functions.webtext import project_page_batch
    from go_bqloader_spark.lake import LakeTable
    from go_bqloader_spark.sources.datagen import CHANGE_SCHEMA, gen_changes
    from go_bqloader_spark.streaming import run_cdc_stream

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    cmd, args = argv[1], argv[2:]

    if cmd == "create":
        path = args[0]
        n_buckets = int(args[1]) if len(args) > 1 else 256
        LakeTable.create(spark, path, PAGE_COLS, key=["url", "warc_ts"],
                         n_buckets=n_buckets)
        print(json.dumps({"created": path, "n_buckets": n_buckets}))
    elif cmd == "replay":
        path, binlog, ckpt = args[:3]
        t = LakeTable(spark, path)
        run_cdc_stream(spark, binlog, t, ckpt, projector=project_page_batch,
                       timeout_sec=24 * 3600)
        print(json.dumps({"version": t.current_version(),
                          "rows": t.read().count()}))
    elif cmd == "merge":
        path, batch, qid, bid = args[:4]
        t = LakeTable(spark, path)
        batch_df = spark.read.schema(CHANGE_SCHEMA).parquet(batch)
        s = t.merge(project_page_batch(batch_df), batch_key=(qid, int(bid)))
        print(json.dumps({"version": s.version, "skipped": s.skipped,
                          "upserted": s.rows_upserted, "deleted": s.rows_deleted}))
    elif cmd == "compact":
        t = LakeTable(spark, args[0])
        n = t.compact(expire_tombstones="--expire-tombstones" in args)
        print(json.dumps({"compacted_buckets": n, "version": t.current_version()}))
    elif cmd == "expire":
        t = LakeTable(spark, args[0])
        keep_n = int(args[1]) if len(args) > 1 else 16
        out = t.expire_snapshots(keep_n=keep_n)
        print(json.dumps({**out, "version": t.current_version()}))
    elif cmd == "status":
        t = LakeTable(spark, args[0])
        wm = t.resume_watermarks()
        print(json.dumps({
            "version": t.current_version(),
            "history": t.history()[-5:],
            "entries_per_bucket_max": max(t.entries_per_bucket().values(), default=0),
            "watermark_max": max(wm.values(), default=None),
            "schema": [f["name"] for f in t.schema_fields()],
        }, default=str))
    elif cmd == "gen":
        out, n = args[0], int(args[1])
        n_batches = int(args[2]) if len(args) > 2 else 16
        from pyspark.sql import functions as F
        (gen_changes(spark, n, partitions=spark.sparkContext.defaultParallelism * 4)
         .withColumn("batch", F.pmod(F.col("seq"), n_batches))
         .write.partitionBy("batch").mode("overwrite").parquet(out))
        print(json.dumps({"staged": out, "events": n, "batches": n_batches}))
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
