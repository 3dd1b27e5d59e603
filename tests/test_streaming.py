"""Streaming pipeline tests: drain-to-convergence, kill/resume from
checkpoint, exactly-once under batch redelivery, mid-stream compaction, and
composed per-batch projectors.
"""

import os

import pytest
from pyspark.sql import functions as F

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.sources import expected_final_state, gen_changes
from go_bqloader_spark.streaming import run_cdc_stream, start_cdc_stream

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


@pytest.fixture(scope="module")
def binlog(spark, tmp_path_factory):
    """A binlog directory of many small segment files (the WAL shape)."""
    d = str(tmp_path_factory.mktemp("binlog"))
    changes = gen_changes(spark, n_events=6000, n_urls=900, n_hosts=20, seed=11)
    # 12 segments, written in seq order so maxFilesPerTrigger batches are
    # roughly time-ordered (with gen's built-in late/duplicate events)
    changes.withColumn("seg", F.pmod(F.col("seq"), 12)).repartition(
        1
    ).write.partitionBy("seg").mode("overwrite").parquet(d)
    return d, changes


def _mk_table(spark, tmp_path):
    return LakeTable.create(
        spark, str(tmp_path / "pages"), PAGE_COLS, key=["url", "warc_ts"], n_buckets=8
    )


def _state(df):
    return sorted(
        (r["url"], str(r["warc_ts"]), r["text"], r["_seq"])
        for r in df.select("url", "warc_ts", "text", "_seq").collect()
    )


def test_stream_drains_and_converges(spark, tmp_path, binlog):
    d, changes = binlog
    t = _mk_table(spark, tmp_path)
    run_cdc_stream(
        spark,
        f"{d}/seg=*",
        t,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=3,
        timeout_sec=300,
    )
    assert _state(t.read()) == _state(expected_final_state(changes))
    # multiple micro-batches were committed exactly once
    ops = [h["summary"]["operation"] for h in t.history()]
    assert ops.count("merge") >= 3


def test_stream_resume_from_checkpoint(spark, tmp_path, binlog):
    """Stop after partial progress; restart must complete WITHOUT
    re-applying committed batches (ledger) and converge."""
    d, changes = binlog
    t = _mk_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    q = start_cdc_stream(
        spark, f"{d}/seg=*", t, ckpt, max_files_per_trigger=2, query_name="resume"
    )
    # let at least one micro-batch commit, then kill mid-stream
    while not t.history() or t.current_version() < 1:
        pass
    q.stop()
    q.awaitTermination(60)
    v_mid = t.current_version()
    assert v_mid >= 1

    run_cdc_stream(
        spark,
        f"{d}/seg=*",
        t,
        ckpt,
        max_files_per_trigger=2,
        query_name="resume",
        timeout_sec=300,
    )
    assert _state(t.read()) == _state(expected_final_state(changes))
    # ledger holds each batch id exactly once
    ledger = t.manifest()["ledger"]["resume"]
    assert len(ledger) == len(set(ledger))


def test_stream_exactly_once_on_checkpoint_loss(spark, tmp_path, binlog):
    """Worst-case redelivery: wipe the checkpoint so Spark replays the
    WHOLE binlog as new batch ids. The merge ledger can't dedupe new ids —
    but LWW + tombstones still converge to the same state (idempotent
    apply), and a verbatim re-run with the SAME checkpoint is a no-op."""
    d, changes = binlog
    t = _mk_table(spark, tmp_path)
    ckpt1 = str(tmp_path / "ckpt1")
    run_cdc_stream(spark, f"{d}/seg=*", t, ckpt1, timeout_sec=300)
    state = _state(t.read())
    v1 = t.current_version()

    # same checkpoint again: no new input → no commits
    run_cdc_stream(spark, f"{d}/seg=*", t, ckpt1, timeout_sec=300)
    assert t.current_version() == v1

    # fresh checkpoint: full replay, different batch ids → state unchanged
    run_cdc_stream(spark, f"{d}/seg=*", t, str(tmp_path / "ckpt2"), timeout_sec=300)
    assert _state(t.read()) == state


def test_stream_with_projector_and_compaction(spark, tmp_path, binlog):
    d, changes = binlog
    from go_bqloader_spark.functions.webtext import project_page_batch

    t = LakeTable.create(
        spark,
        str(tmp_path / "pages"),
        PAGE_COLS + [("n_tokens", "int"), ("stop_ratio", "double")],
        key=["url", "warc_ts"],
        n_buckets=8,
    )
    run_cdc_stream(
        spark,
        f"{d}/seg=*",
        t,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        compact_every=4,
        projector=project_page_batch,
        timeout_sec=600,
    )
    final = t.read()
    exp = expected_final_state(changes)
    assert final.count() == exp.count()
    assert final.filter(F.col("n_tokens").isNull()).count() == 0
    ops = [h["summary"]["operation"] for h in t.history()]
    assert "compact" in ops
    # lineage watermark reflects the full replay
    assert max(t.resume_watermarks().values()) == 5999


def test_checkpoint_dir_created(spark, tmp_path, binlog):
    d, _ = binlog
    t = _mk_table(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    run_cdc_stream(spark, f"{d}/seg=*", t, ckpt, timeout_sec=300)
    assert os.path.exists(os.path.join(ckpt, "offsets"))


def test_cdc_stream_with_composed_projectors(spark, tmp_path):
    """compose_projectors chains canonicalize_projector and
    project_page_batch through one projector hook: two tracking-parameter
    variants of a page collapse onto one LWW key (the later seq wins),
    and the stored text is re-extracted from the html."""
    from go_bqloader_spark.functions.urlnorm import canonicalize_projector
    from go_bqloader_spark.functions.webtext import extract_text, project_page_batch
    from go_bqloader_spark.streaming import compose_projectors

    src = str(tmp_path / "feed")
    spark.createDataFrame(
        [("U", 1, "https://a.ex/p?utm_source=x", "v1 body"),
         ("U", 2, "https://A.ex/p?utm_source=y", "v2 body"),
         ("U", 3, "https://b.ex/q", "other page")],
        "op string, seq bigint, url string, body string",
    ).select(
        "op", "seq", "url",
        F.to_timestamp(F.lit("2024-01-01 00:00:01")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<p>"), "body", F.lit("</p>")), "UTF-8").alias("html"),
        F.lit("stale").alias("text"),
        F.lit("en").alias("lang"),
    ).repartition(1).write.parquet(src)

    t = LakeTable.create(
        spark, str(tmp_path / "pages"),
        PAGE_COLS + [("n_tokens", "int"), ("stop_ratio", "double")],
        key=["url", "warc_ts"], n_buckets=8,
    )
    run_cdc_stream(
        spark, src, t, str(tmp_path / "ck"),
        projector=compose_projectors(canonicalize_projector(), project_page_batch),
        timeout_sec=180,
    )
    out = {r["url"]: r for r in t.read().collect()}
    assert sorted(out) == ["https://a.ex/p", "https://b.ex/q"]
    assert out["https://a.ex/p"]["text"] == "v2 body"
    assert out["https://a.ex/p"]["n_tokens"] == 2
    bad = t.read().where(F.col("text") != extract_text(F.col("html"))).count()
    assert bad == 0
