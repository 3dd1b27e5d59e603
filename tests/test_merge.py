"""CDC merge engine tests: LWW dedup equivalence, replay convergence,
idempotence (exactly-once ledger), delete semantics, byte-identical text,
schema evolution, time travel. These are the engine analog of the
reference's fake-boundary golden E2E tests
(``/root/reference/bqloader_test.go:13-77``).
"""

import datetime as dt
import sys
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from go_bqloader_spark.functions.webtext import extract_text, extract_text_py
from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.operators import lww_dedup, salted_lww_dedup
from go_bqloader_spark.sources import expected_final_state, gen_changes

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def _sorted_state(df):
    return [
        (r["url"], str(r["warc_ts"]), r["text"], r["lang"], r["_seq"])
        for r in df.select("url", "warc_ts", "text", "lang", "_seq")
        .orderBy("url", "warc_ts")
        .collect()
    ]


@pytest.fixture(scope="module")
def changes(spark):
    return gen_changes(spark, n_events=4000, n_urls=600, n_hosts=20, seed=42).cache()


def test_generator_deterministic(spark, changes):
    again = gen_changes(spark, n_events=4000, n_urls=600, n_hosts=20, seed=42)
    a = changes.orderBy("seq", "op").collect()
    b = again.orderBy("seq", "op").collect()
    assert a == b


def test_generator_has_duplicates_and_ops(spark, changes):
    n = changes.count()
    d = changes.distinct().count()
    assert d < n  # verbatim redeliveries exist
    ops = {r["op"] for r in changes.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}


def test_salted_dedup_equals_plain(spark, changes):
    plain = lww_dedup(changes)
    salted = salted_lww_dedup(changes, n_salts=8)
    a = sorted(map(tuple, plain.select("url", "warc_ts", "seq").collect()))
    b = sorted(map(tuple, salted.select("url", "warc_ts", "seq").collect()))
    assert a == b
    # a key column whose name holds a dot is one column, not a nested field
    dotted = changes.withColumnRenamed("url", "u.rl")
    key = ["u.rl", "warc_ts"]
    for dedup in (lww_dedup(dotted, key), salted_lww_dedup(dotted, key, n_salts=8)):
        assert dedup.columns == dotted.columns
        assert sorted(map(tuple, dedup.selectExpr("`u.rl`", "warc_ts", "seq").collect())) == a


def _make_table(spark, tmp_path, **kw):
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), PAGE_COLS, key=["url", "warc_ts"], **kw
    )


# Tables merge on read, by one merge path; the one-value parameter keeps
# these tests' ids stable.
MERGE_MODES = ["mor"]


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_single_batch_merge_converges(spark, tmp_path, changes, mode):
    t = _make_table(spark, tmp_path, n_buckets=8)
    t.merge(changes, batch_key=("q", 0))
    got = _sorted_state(t.read())
    exp = _sorted_state(expected_final_state(changes))
    assert got == exp


@pytest.mark.parametrize("n_batches", [3, 7])
@pytest.mark.parametrize("mode", MERGE_MODES)
def test_multi_batch_replay_converges(spark, tmp_path, changes, n_batches, mode):
    """Any batch split of the log converges to the same final state."""
    t = _make_table(spark, tmp_path, n_buckets=8)
    for i in range(n_batches):
        batch = changes.filter(F.pmod(F.col("seq"), n_batches) == i)
        t.merge(batch, batch_key=("q", i))
    # NOTE: splitting by seq%n means later batches can carry EARLIER seqs
    # (out-of-order replay) — convergence must still hold.
    got = _sorted_state(t.read())
    exp = _sorted_state(expected_final_state(changes))
    assert got == exp


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_idempotent_redelivery(spark, tmp_path, changes, mode):
    """Re-merging an already-committed batch key is a no-op (exactly-once)."""
    t = _make_table(spark, tmp_path, n_buckets=8)
    b0 = changes.filter(F.col("seq") < 2000)
    b1 = changes.filter(F.col("seq") >= 2000)
    t.merge(b0, batch_key=("q", 0))
    t.merge(b1, batch_key=("q", 1))
    v = t.current_version()
    state = _sorted_state(t.read())
    s = t.merge(b0, batch_key=("q", 0))  # redelivery
    assert s.skipped
    assert t.current_version() == v
    assert _sorted_state(t.read()) == state


def test_reapplying_older_changes_is_noop(spark, tmp_path, changes):
    """Replaying old events WITHOUT the ledger still converges (LWW by seq)."""
    t = _make_table(spark, tmp_path, n_buckets=8)
    t.merge(changes, batch_key=("q", 0))
    state = _sorted_state(t.read())
    t.merge(changes.filter(F.col("seq") < 1000), batch_key=("q", 99))
    assert _sorted_state(t.read()) == state


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_delete_semantics(spark, tmp_path, mode):
    rows = [
        ("I", 1, "2024-01-01 00:00:01", "https://a/x", "2024-01-01 00:00:00", b"<p>v1</p>", "v1", "en"),
        ("U", 2, "2024-01-01 00:00:02", "https://a/x", "2024-01-01 00:00:00", b"<p>v2</p>", "v2", "en"),
        ("D", 3, "2024-01-01 00:00:03", "https://a/x", "2024-01-01 00:00:00", None, None, None),
        ("I", 4, "2024-01-01 00:00:04", "https://a/y", "2024-01-01 00:00:00", b"<p>y</p>", "y", "en"),
    ]
    df = spark.createDataFrame(
        rows,
        "op string, seq bigint, commit_ts string, url string, warc_ts string, html binary, text string, lang string",
    ).select(
        "op", "seq",
        F.to_timestamp("commit_ts").alias("commit_ts"),
        "url",
        F.to_timestamp("warc_ts").alias("warc_ts"),
        "html", "text", "lang",
    )
    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(df, batch_key=("q", 0))
    got = _sorted_state(t.read())
    assert got == [("https://a/y", "2024-01-01 00:00:00", "y", "en", 4)]
    # late redelivery of seq 2 must NOT resurrect the deleted key
    t.merge(df.filter(F.col("seq") == 2), batch_key=("q", 1))
    assert _sorted_state(t.read()) == got


def test_byte_identical_text_invariant(spark, tmp_path, changes):
    """BASELINE.json input_hint: byte-identical extracted text per url."""
    t = _make_table(spark, tmp_path, n_buckets=8)
    t.merge(changes, batch_key=("q", 0))
    final = t.read()
    mismatch = final.filter(
        F.col("text") != extract_text(F.col("html"))
    ).count()
    assert mismatch == 0
    # cross-check one row against the Python mirror of the extractor
    row = final.orderBy("url", "warc_ts").first()
    assert row["text"] == extract_text_py(bytes(row["html"]))


def test_schema_evolution_mid_replay(spark, tmp_path, changes):
    """Add + rename columns between batches; old files reconcile on read."""
    t = LakeTable.create(
        spark,
        str(tmp_path / "tbl"),
        [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"), ("text", "string")],
        key=["url", "warc_ts"],
        n_buckets=8,
    )
    early = changes.filter(F.col("seq") < 2000).drop("lang")
    t.merge(early, batch_key=("q", 0))
    t.add_column("lang", "string")
    t.rename_column("text", "body_text")
    late = changes.filter(F.col("seq") >= 2000).withColumnRenamed("text", "body_text")
    t.merge(late, batch_key=("q", 1))

    final = t.read()
    assert set(final.columns) == {"url", "warc_ts", "html", "body_text", "lang", "_seq"}
    exp = expected_final_state(changes)
    got = sorted(
        (r["url"], str(r["warc_ts"]), r["body_text"], r["_seq"])
        for r in final.collect()
    )
    want = sorted(
        (r["url"], str(r["warc_ts"]), r["text"], r["_seq"]) for r in exp.collect()
    )
    assert got == want
    # lang is NULL for rows last touched before evolution, set after
    assert final.filter(F.col("lang").isNotNull()).count() > 0


def test_time_travel_and_history(spark, tmp_path, changes):
    t = _make_table(spark, tmp_path, n_buckets=8)
    b0 = changes.filter(F.col("seq") < 2000)
    t.merge(b0, batch_key=("q", 0))
    v1 = t.current_version()
    state_v1 = _sorted_state(t.read())
    t.merge(changes.filter(F.col("seq") >= 2000), batch_key=("q", 1))
    assert _sorted_state(t.read(version=v1)) == state_v1
    ops = [h["summary"]["operation"] for h in t.history()]
    assert ops == ["create", "merge", "merge"]


def test_lineage_metrics_and_watermarks(spark, tmp_path, changes):
    t = _make_table(spark, tmp_path, n_buckets=8)
    t.merge(changes.filter(F.col("seq") < 2000), batch_key=("q", 0))
    t.merge(changes.filter(F.col("seq") >= 2000), batch_key=("q", 1))
    m = t.metrics()
    assert m.count() > 0
    wm = t.resume_watermarks()
    assert max(wm.values()) == 3999


def test_mor_compaction_preserves_state(spark, tmp_path, changes):
    """MoR: deltas accumulate per bucket; compact() folds them to one base
    entry without changing the visible state; expire_tombstones drops the
    hidden delete markers."""
    t = _make_table(spark, tmp_path, n_buckets=8, )
    for i in range(4):
        t.merge(changes.filter(F.pmod(F.col("seq"), 4) == i), batch_key=("q", i))
    assert max(t.entries_per_bucket().values()) > 1
    state = _sorted_state(t.read())
    n_with_tombstones = t.read(include_deleted=True).count()

    n = t.compact()
    assert n > 0
    assert max(t.entries_per_bucket().values()) == 1
    assert _sorted_state(t.read()) == state
    assert t.read(include_deleted=True).count() == n_with_tombstones

    # a further merge then tombstone-expiring compaction
    t.merge(changes.filter(F.col("seq") < 100), batch_key=("q", 99))
    t.compact(expire_tombstones=True, min_entries=1)
    assert _sorted_state(t.read()) == state
    assert t.read(include_deleted=True).count() == len(state)
    ops = [h["summary"]["operation"] for h in t.history()]
    assert ops.count("compact") == 2


def test_compaction_key_sorts_bucket_files(spark, tmp_path, changes):
    """r5: compact() is the read-optimized rewrite — rows inside each
    bucket file come out key-sorted so parquet row-group min/max on the
    key columns are tight (zone reads push predicates into the scan and
    skip row groups, not just buckets). Verified on the raw files with
    pyarrow, no Spark ordering involved."""
    import glob

    import pyarrow.parquet as pq

    t = _make_table(spark, tmp_path, n_buckets=4, )
    for i in range(3):
        t.merge(changes.filter(F.pmod(F.col("seq"), 3) == i), batch_key=("q", i))
    assert t.compact() > 0

    files = glob.glob(str(tmp_path / "tbl" / "data" / "*_compact" / "b=*" / "*.parquet"))
    assert files
    checked = 0
    for f in files:
        tb = pq.read_table(f, columns=["url", "warc_ts"])
        rows = list(zip(tb.column("url").to_pylist(), tb.column("warc_ts").to_pylist()))
        if len(rows) > 1:
            assert rows == sorted(rows), f"unsorted compacted file {f}"
            checked += 1
    assert checked > 0


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_empty_batch_commits_noop(spark, tmp_path, changes, mode):
    """An empty change batch must commit a ledger no-op, not crash on the
    empty parquet read-back (round-2 regression from the verify drive)."""
    t = _make_table(spark, tmp_path, n_buckets=8)
    t.merge(changes, batch_key=("q", 0))
    before = t.read().count()
    st = t.merge(changes.filter(F.lit(False)), batch_key=("q", 1))
    assert not st.skipped and st.rows_upserted == 0 and st.rows_deleted == 0
    assert t.committed("q", 1)  # ledger advanced: redelivery will skip
    assert t.read().count() == before
    st2 = t.merge(changes.filter(F.lit(False)), batch_key=("q", 1))
    assert st2.skipped


def _tiny_batch(spark, i):
    rows = [
        ("U", i * 10 + j, f"https://h{j}.ex/p", None, None, f"t{i}", "en")
        for j in range(3)
    ]
    return spark.createDataFrame(
        rows,
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )


def test_ledger_compaction_bounded(spark, tmp_path):
    """Exactly-once ledger stays O(horizon): contiguous committed prefixes
    fold into ledger_floor; membership checks stay exact (VERDICT r1 #5)."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    t.LEDGER_HORIZON = 4
    n = 12
    for i in range(n):
        t.merge(_tiny_batch(spark, i), batch_key=("q", i))
    m = t.manifest()
    assert len(m["ledger"]["q"]) <= t.LEDGER_HORIZON + 1
    assert m["ledger_floor"]["q"] >= n - t.LEDGER_HORIZON - 1
    for i in range(n):
        assert t.committed("q", i)
    # redelivery of a compacted-away batch still skips
    st = t.merge(_tiny_batch(spark, 0), batch_key=("q", 0))
    assert st.skipped
    assert not t.committed("q", n + 5)


def test_resume_watermarks_single_manifest(spark, tmp_path):
    """resume_watermarks() is O(1) (latest manifest only) and agrees with
    the full metrics history."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    for i in range(3):
        t.merge(_tiny_batch(spark, i), batch_key=("q", i))
    wm = t.resume_watermarks()
    hist = {
        int(r["bucket"]): r["applied_max_seq"]
        for r in t.metrics()
        .groupBy("bucket")
        .agg(F.max("applied_max_seq").alias("applied_max_seq"))
        .collect()
    }
    assert wm == hist and wm


def test_expire_snapshots_gc_and_metrics_spill(spark, tmp_path):
    """expire_snapshots bounds manifests + data files; state is unchanged
    and metrics() stays complete via the _lineage spill (ADVICE r1)."""
    import os

    t = _make_table(spark, tmp_path, n_buckets=4)
    for i in range(5):
        t.merge(_tiny_batch(spark, i), batch_key=("q", i))
    t.compact()
    before_state = sorted(tuple(r) for r in t.read().collect())
    before_metrics = t.metrics().count()
    n_manifests_before = len(os.listdir(str(tmp_path / "tbl" / "_manifests")))

    # keep only the compacted snapshot: every pre-compact delta dir is now
    # unreferenced and must be GC'd (grace 0: no writer is in flight here)
    out = t.expire_snapshots(keep_n=1, orphan_grace_sec=0)
    assert out["expired"] >= 4 and out["data_dirs_removed"] >= 1
    assert len(t.history()) == 1
    assert len(os.listdir(str(tmp_path / "tbl" / "_manifests"))) < n_manifests_before
    assert sorted(tuple(r) for r in t.read().collect()) == before_state
    assert t.metrics().count() == before_metrics
    assert t.resume_watermarks()  # still O(1)-readable
    # engine continues committing after expiry
    t.merge(_tiny_batch(spark, 9), batch_key=("q", 9))
    assert t.committed("q", 9)


def test_concurrent_commit_cas(spark, tmp_path):
    """Two writers racing on the same parent: the second create of vN+1
    fails (manifest file is the CAS point — ADVICE r1 medium)."""
    t1 = _make_table(spark, tmp_path, n_buckets=4)
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    m1 = dict(t1.manifest(), summary={"operation": "w1"})
    m2 = dict(t2.manifest(), summary={"operation": "w2"})
    for m in (m1, m2):
        m["parent"], m["version"] = m["version"], m["version"] + 1
    t1._write_manifest(m1, expected_parent=m1["parent"])
    with pytest.raises(RuntimeError, match="concurrent commit"):
        t2._write_manifest(m2, expected_parent=m2["parent"])
    assert t1.current_version() == m1["version"]


def test_rename_guards_and_structural_update(spark, tmp_path):
    """Renaming a key/bucket column atomically rewrites key/bucket_col;
    engine columns are immutable (ADVICE r1)."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(_tiny_batch(spark, 0), batch_key=("q", 0))
    t.rename_column("url", "page_url")
    m = t.manifest()
    assert m["key"] == ["page_url", "warc_ts"] and m["bucket_col"] == "page_url"
    # merges keep working against the renamed key
    b = _tiny_batch(spark, 1).withColumnRenamed("url", "page_url")
    t.merge(b, batch_key=("q", 1))
    assert t.read().filter("page_url IS NOT NULL").count() > 0
    with pytest.raises(ValueError):
        t.rename_column("_seq", "seq2")
    with pytest.raises(ValueError):
        t.add_column("_hidden", "string")


def test_bucket_col_must_be_a_key_column(spark, tmp_path):
    """Reads, the merge's in-batch dedup and compaction resolve versions
    within a bucket, so every version of a key must hash to one bucket.
    Bucketed on ``lang``, a page re-crawled in another language landed in
    a second one-entry bucket, and ``read()`` and ``read(point=...)``
    returned both versions. ``create`` rejects that layout before it
    writes anything; bucketed on ``url``, the same versions resolve."""
    key = ["url", "warc_ts"]
    with pytest.raises(ValueError, match="not a key column"):
        LakeTable.create(
            spark, str(tmp_path / "by_lang"), PAGE_COLS, key=key,
            bucket_col="lang", n_buckets=64,
        )
    assert not (tmp_path / "by_lang").exists()
    t = LakeTable.create(
        spark, str(tmp_path / "by_url"), PAGE_COLS, key=key, bucket_col="url",
        n_buckets=64,
    )
    point = {"url": "https://ex.org/p", "warc_ts": dt.datetime(2024, 1, 1)}
    for i, (op, seq, lang) in enumerate([("U", 1, "en"), ("U", 2, "fr"), ("D", 9, None)]):
        t.merge(
            spark.createDataFrame(
                [(op, seq, point["url"], point["warc_ts"], None, "t", lang)],
                "op string, seq bigint, url string, warc_ts timestamp, "
                "html binary, text string, lang string",
            ),
            batch_key=("q", i),
        )
        if op == "U":
            assert [r["lang"] for r in t.read().collect()] == [lang]
            assert [r["lang"] for r in t.read(point=point).collect()] == [lang]
    assert t.read().collect() == [] and t.read(point=point).collect() == []


def test_interrupted_commit_rolls_latest_forward(spark, tmp_path):
    """Crash between the CAS manifest create and the LATEST publish must
    not wedge the table (ADVICE r2 medium): the next committer detects the
    completed-but-unpublished manifest, rolls LATEST forward to it, and
    reports a recoverable conflict — after which a retry succeeds."""
    import json

    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(_tiny_batch(spark, 0), batch_key=("q", 0))
    v = t.current_version()

    # simulate the crash: write a VALID v+1 manifest but never touch LATEST
    orphan = dict(t.manifest(), version=v + 1, parent=v,
                  summary={"operation": "interrupted"}, metrics=[])
    t.fs.create_exclusive(t._manifest_path(v + 1), json.dumps(orphan))
    assert t.current_version() == v  # LATEST still points at v

    # fresh handle (no warm cache) — a later merge hits the orphan,
    # repairs LATEST, and surfaces a retryable conflict
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(RuntimeError, match="rolled forward"):
        t2._write_manifest(
            dict(orphan, summary={"operation": "mine"}), expected_parent=v
        )
    assert t2.current_version() == v + 1  # repaired, not wedged
    # and the normal retry path (recompute against new parent) commits
    t2.merge(_tiny_batch(spark, 1), batch_key=("q", 1))
    assert t2.committed("q", 1)


def test_partial_orphan_manifest_deleted_and_retried(spark, tmp_path):
    """A partial/corrupt vN+1 file (writer died mid-create on a filesystem
    without atomic exclusive-create) is deleted and the CAS retried — the
    committer wins instead of raising forever (ADVICE r2 medium)."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    v = t.current_version()
    with open(t._manifest_path(v + 1), "w") as f:
        f.write('{"version": ')  # truncated JSON
    t.merge(_tiny_batch(spark, 0), batch_key=("q", 0))  # must not raise
    assert t.current_version() == v + 1 and t.committed("q", 0)


def test_create_exclusive_never_partial(tmp_path):
    """The CAS file appears fully written or not at all, and loses cleanly
    to an existing file without clobbering it."""
    from go_bqloader_spark.lake.fsio import LocalFS

    fs = LocalFS()
    p = str(tmp_path / "cas.json")
    fs.create_exclusive(p, "first")
    with pytest.raises(FileExistsError):
        fs.create_exclusive(p, "second")
    assert fs.read_text(p) == "first"
    # no stray tmp staging files left behind
    assert [f for f in fs.listdir(str(tmp_path)) if ".cas." in f] == []


_TIE_URL = "https://tie.ex/p"


def _tie_rows(spark, ops, seq=5):
    """One row per op of ``ops`` for the tie key, all at ``seq``, in that
    input order, plus an unrelated live row."""
    rows = [
        (op, seq, _TIE_URL, None, None, None if op == "D" else "keepme", "en")
        for op in ops
    ] + [("U", 1, "https://other.ex/p", None, None, "x", "en")]
    return spark.createDataFrame(
        rows,
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )


def _tie_readers_agree_deleted(spark_path, t):
    """Every reader of ``t`` sees the tie key deleted: the scan, the
    driver point read and the Spark point read."""
    point = {"url": _TIE_URL, "warc_ts": None}
    assert [r["url"] for r in t.read().select("url").collect()] == ["https://other.ex/p"]
    assert t.read(point=point).collect() == []
    assert spark_path(t).read(point=point).collect() == []


@pytest.mark.parametrize("order", ["UD", "DU"])
def test_tie_goes_to_the_tombstone_in_one_batch(spark, spark_path, tmp_path, order):
    """A (key, seq) tie between a 'U' and a 'D' in one batch (outside the
    verbatim-redelivery contract) resolves to the delete whatever the input
    order, and the merge's lineage counts the row it wrote."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    s = t.merge(_tie_rows(spark, order), batch_key=("q", 0))
    assert s.rows_deleted == 1 and s.rows_upserted == 1
    _tie_readers_agree_deleted(spark_path, t)


@pytest.mark.parametrize("order", ["UD", "DU"])
def test_tie_goes_to_the_tombstone_across_batches(spark, spark_path, tmp_path, order):
    """The same tie split over two batches (first op in batch 0, second in
    batch 1): the scan window, both point paths and compaction's rewrite
    all let the tombstone win, so they agree on one snapshot."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(_tie_rows(spark, order[0]), batch_key=("q", 0))
    t.merge(_tie_rows(spark, order[1]), batch_key=("q", 1))
    _tie_readers_agree_deleted(spark_path, t)
    assert t.compact() > 0
    _tie_readers_agree_deleted(spark_path, t)
    tomb = t.read(include_deleted=True).where(F.col("url") == _TIE_URL).collect()
    assert [(r["_deleted"], r["_seq"]) for r in tomb] == [(True, 5)]


def test_compacted_table_takes_merges(spark, tmp_path, changes):
    """A compacted table, one key-sorted entry per bucket with full key
    zones, takes merges: a late older replay, a newer update, a tombstone
    and a redelivered batch key converge to the LWW oracle, and point
    reads agree with the scan."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(changes.filter(F.col("seq") < 2000), batch_key=("q", 0))
    t.merge(changes.filter(F.col("seq") >= 2000), batch_key=("q", 1))
    t.compact(min_entries=1)
    m = t.manifest()
    assert all(len(es) == 1 for es in m["buckets"].values())
    assert all(set(es[0]["zones"]) == {"url", "warc_ts"} for es in m["buckets"].values())

    live = expected_final_state(changes).orderBy("url", "warc_ts").limit(2).collect()
    newer, dead = live[0], live[1]
    edits = spark.createDataFrame(
        [("U", 10_000, newer["url"], newer["warc_ts"], None, "newer", "en"),
         ("D", 10_001, dead["url"], dead["warc_ts"], None, None, None)],
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )
    late = changes.filter(F.col("seq") < 1000)
    t.merge(late, batch_key=("q", 2))  # late older versions lose
    t.merge(edits, batch_key=("q", 3))
    assert t.merge(changes, batch_key=("q", 1)).skipped  # redelivered
    applied = changes.unionByName(
        edits.selectExpr("*", "CAST(NULL AS timestamp) AS commit_ts")
    )
    want = _sorted_state(expected_final_state(applied))
    assert _sorted_state(t.read()) == want

    by_key = {(u, ts): (text, lang, seq) for u, ts, text, lang, seq in want}
    for r in [newer, dead, *expected_final_state(changes).limit(6).collect()]:
        got = t.read(point={"url": r["url"], "warc_ts": r["warc_ts"]}).collect()
        exp = by_key.get((r["url"], str(r["warc_ts"])))
        assert [(g["text"], g["lang"], g["_seq"]) for g in got] == ([exp] if exp else [])


def test_publish_if_newer_is_monotonic(tmp_path):
    """The LATEST pointer only moves forward (ADVICE r3 medium): a stalled
    writer's late publish of an older version is a no-op, so readers never
    regress to a stale snapshot after later commits landed."""
    from go_bqloader_spark.lake.fsio import LocalFS

    fs = LocalFS()
    p = str(tmp_path / "LATEST")
    assert fs.publish_if_newer(p, 1) is True
    assert fs.publish_if_newer(p, 3) is True
    # the stalled writer wakes up and tries to publish v2 after v3 landed
    assert fs.publish_if_newer(p, 2) is False
    assert fs.read_text(p).strip() == "3"
    # idempotent re-publish of the current version is also a no-op
    assert fs.publish_if_newer(p, 3) is False
    # works when the pointer doesn't exist yet (interrupted table create)
    p2 = str(tmp_path / "LATEST2")
    assert fs.publish_if_newer(p2, 0) is True
    assert fs.read_text(p2).strip() == "0"


def test_repair_never_rolls_latest_backward(spark, tmp_path):
    """The ADVICE r3 TOCTOU scenario: writer A CAS-created vN+1 but stalled
    pre-publish; meanwhile the table advanced to vN+2. A's eventual repair/
    publish of vN+1 must leave LATEST at vN+2."""
    import json

    t = _make_table(spark, tmp_path, n_buckets=4)
    t.merge(_tiny_batch(spark, 0), batch_key=("q", 0))
    v = t.current_version()
    # A's completed-but-unpublished manifest at v+1
    orphan = dict(t.manifest(), version=v + 1, parent=v,
                  summary={"operation": "stalled"}, metrics=[])
    t.fs.create_exclusive(t._manifest_path(v + 1), json.dumps(orphan))
    # B's merge repairs (rolls LATEST to v+1), hits the conflict, and the
    # built-in optimistic retry rebases onto v+1 and commits v+2 — one call
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    st = t2.merge(_tiny_batch(spark, 1), batch_key=("q", 1))
    assert not st.skipped and st.version == v + 2
    assert t2.current_version() == v + 2
    # A wakes up and re-runs its publish path for v+1 — must be a no-op
    latest = t2.fs  # same FS seam A would use
    import os as _os
    lp = _os.path.join(str(tmp_path / "tbl"), "_manifests", "LATEST")
    assert latest.publish_if_newer(lp, v + 1) is False
    assert t2.current_version() == v + 2
    # fail-fast mode still surfaces the repair as a retryable conflict
    with pytest.raises(RuntimeError, match="concurrent commit"):
        orphan2 = dict(orphan, version=v + 3, parent=v + 2,
                       summary={"operation": "stalled2"})
        t2.fs.create_exclusive(t2._manifest_path(v + 3), json.dumps(orphan2))
        t2.merge(_tiny_batch(spark, 2), batch_key=("q", 2), commit_retries=0)
    t2.merge(_tiny_batch(spark, 2), batch_key=("q", 2))  # retry path lands
    assert t2.current_version() == v + 4


def test_expire_snapshots_spares_inflight_commit_dirs(spark, tmp_path):
    """GC must not delete data dirs of a concurrent merge that has written
    parquet but not yet CAS-committed its manifest (ADVICE r2 medium):
    dirs versioned ABOVE the newest retained snapshot are spared."""
    import os

    t = _make_table(spark, tmp_path, n_buckets=4)
    for i in range(4):
        t.merge(_tiny_batch(spark, i), batch_key=("q", i))
    t.compact()
    cur = t.current_version()

    # simulate an in-flight writer: data written for version cur+1, no
    # manifest committed yet
    inflight = str(tmp_path / "tbl" / "data" / f"c{cur + 1:08d}_deadbeef0000")
    os.makedirs(os.path.join(inflight, "b=0"))
    with open(os.path.join(inflight, "b=0", "part-0.parquet"), "w") as f:
        f.write("x")

    out = t.expire_snapshots(keep_n=1, orphan_grace_sec=0)
    assert out["data_dirs_removed"] >= 1  # old unreferenced dirs did go
    assert os.path.exists(os.path.join(inflight, "b=0"))  # in-flight spared

    # age guard: a REBASING writer's dir can sit at/below current with a
    # stale version prefix — under the default grace period it is spared
    # even though it is unreferenced (Iceberg's older_than rule)
    rebasing = str(tmp_path / "tbl" / "data" / f"c{cur - 1:08d}_cafecafe0000")
    os.makedirs(os.path.join(rebasing, "b=0"))
    with open(os.path.join(rebasing, "b=0", "part-0.parquet"), "w") as f:
        f.write("x")
    t.merge(_tiny_batch(spark, 8), batch_key=("q", 8))
    out = t.expire_snapshots(keep_n=1)  # default grace
    assert os.path.exists(os.path.join(rebasing, "b=0"))


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_zone_maps_prune_and_stay_exact(spark, tmp_path, mode):
    """Manifest zone maps: every data-file entry records key-column
    min/max; read(zones=...) skips non-overlapping files at PLANNING time
    and still returns exactly the filtered table (MoR LWW resolution
    included, because zones are restricted to key columns)."""
    import datetime as dt

    t = _make_table(spark, tmp_path, n_buckets=2)

    def batch(day, seq0):
        ts = f"2024-01-{day:02d} 00:00:00"
        rows = [("U", seq0 + j, f"https://h{j}.ex/p", ts, None, f"d{day}", "en")
                for j in range(4)]
        return spark.createDataFrame(
            rows,
            "op string, seq bigint, url string, warc_ts string, "
            "html binary, text string, lang string",
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    t.merge(batch(1, 0), batch_key=("q", 0))
    t.merge(batch(15, 100), batch_key=("q", 1))
    t.merge(batch(1, 200), batch_key=("q", 2))  # day-1 keys updated later

    # every entry carries zone bounds; string bounds only on key-sorted
    # rewrites — DELTA files skip them (hash-scattered strings never prune
    # and cost a string scan, r5)
    m = t.manifest()
    entries = [e for es in m["buckets"].values() for e in es]
    assert entries and all("zones" in e for e in entries)
    assert all(set(e["zones"]) == {"warc_ts"} for e in entries)

    def micros(day):
        return int(dt.datetime(2024, 1, day, tzinfo=dt.timezone.utc)
                   .timestamp() * 1_000_000)

    # per-commit delta files: the day-15 range skips the two day-1
    # commits' files
    kept = [
        e for es in m["buckets"].values() for e in es
        if t._zone_overlaps(m, e, {"warc_ts": (micros(10), micros(20))})
    ]
    assert 0 < len(kept) < len(entries)

    # pruned read == full read + filter (exact, incl. LWW winners)
    full = {(r["url"], str(r["warc_ts"]), r["text"], r["_seq"])
            for r in t.read().filter(F.col("warc_ts") >= "2024-01-10").collect()}
    pruned = {(r["url"], str(r["warc_ts"]), r["text"], r["_seq"])
              for r in t.read(zones={"warc_ts": (micros(10), None)}).collect()}
    assert pruned == full and len(pruned) == 4

    # day-1 keys resolve to their LATEST update even under pruning
    d1 = {r["text"] for r in t.read(zones={"warc_ts": (None, micros(10))}).collect()}
    assert d1 == {"d1"} and t.read(
        zones={"warc_ts": (None, micros(10))}
    ).filter(F.col("_seq") < 200).count() == 0

    # non-key columns are rejected (would break MoR resolution)
    with pytest.raises(ValueError, match="key columns"):
        t.read(zones={"text": (0, 1)})

    # compact()'s key-sorted rewrite records full bounds, strings too, and
    # pruned reads over it stay exact
    t.compact(min_entries=1)
    m = t.manifest()
    entries = [e for es in m["buckets"].values() for e in es]
    assert entries and all(set(e["zones"]) == {"url", "warc_ts"} for e in entries)
    pruned = {(r["url"], str(r["warc_ts"]), r["text"], r["_seq"])
              for r in t.read(zones={"warc_ts": (micros(10), None)}).collect()}
    assert pruned == full


def test_read_changes_since_incremental(spark, tmp_path):
    """Incremental consumer API: rows whose latest applied change is newer
    than the checkpoint, tombstones included; cold buckets pruned via the
    manifest watermark (no storage reads when nothing changed)."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    b0 = spark.createDataFrame(
        [("U", 1, "https://a/x", None, None, "v1", "en"),
         ("U", 2, "https://b/y", None, None, "w1", "en")],
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )
    t.merge(b0, batch_key=("q", 0))
    ckpt = max(t.resume_watermarks().values())
    b1 = spark.createDataFrame(
        [("U", 10, "https://a/x", None, None, "v2", "en"),   # update
         ("D", 11, "https://b/y", None, None, None, None),   # delete
         ("I", 12, "https://c/z", None, None, "new", "en")], # insert
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )
    t.merge(b1, batch_key=("q", 1))

    got = {(r["url"], r["text"], r["_deleted"], r["_seq"])
           for r in t.read_changes_since(ckpt).collect()}
    assert got == {
        ("https://a/x", "v2", False, 10),   # latest state once, not v1
        ("https://b/y", None, True, 11),    # tombstone propagates
        ("https://c/z", "new", False, 12),
    }
    # consumer fully caught up → nothing, and no data files touched
    assert t.read_changes_since(12).count() == 0
    assert t.read_changes_since(12).collect() == []


def test_widen_column_metadata_only(spark, tmp_path):
    """Type widening (int -> bigint): metadata-only commit; old files cast
    up on read, merges with the widened type land, LWW resolution spans
    files written under both types."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        [("url", "string"), ("warc_ts", "timestamp"), ("hits", "int")],
        key=["url", "warc_ts"], n_buckets=4,
    )
    b0 = spark.createDataFrame(
        [("U", 1, "https://a/x", None, 7), ("U", 2, "https://b/y", None, 9)],
        "op string, seq bigint, url string, warc_ts timestamp, hits int",
    )
    t.merge(b0, batch_key=("q", 0))
    v_before = t.current_version()
    t.widen_column("hits", "bigint")
    assert t.current_version() == v_before + 1  # one metadata commit
    # post-widen merge writes bigints, including a value beyond int range
    big = 3_000_000_000
    b1 = spark.createDataFrame(
        [("U", 10, "https://a/x", None, big)],
        "op string, seq bigint, url string, warc_ts timestamp, hits bigint",
    )
    t.merge(b1, batch_key=("q", 1))
    got = {r["url"]: (r["hits"], r["_seq"]) for r in t.read().collect()}
    assert got == {"https://a/x": (big, 10), "https://b/y": (9, 2)}
    assert dict(t.read().dtypes)["hits"] == "bigint"
    # guardrails
    with pytest.raises(ValueError, match="unsupported widening"):
        t.widen_column("url", "bigint")
    with pytest.raises(ValueError, match="no column"):
        t.widen_column("nope", "bigint")
    with pytest.raises(ValueError, match="engine column"):
        t.widen_column("_seq", "bigint")


def test_widen_bucket_column_keeps_routing(spark, tmp_path):
    """ADVICE r4 (high): widening the BUCKET column int -> bigint must not
    re-route existing keys — xxhash64 hashes int and bigint differently,
    so _bucket_expr hashes integers at canonical bigint width. Post-widen
    updates/deletes must land in the same bucket as stored versions (no
    duplicate/stale rows on read), and hash-changing promotions of the
    bucket column are rejected."""
    t = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        [("doc_id", "int"), ("text", "string")],
        key=["doc_id"], bucket_col="doc_id", n_buckets=8,
    )
    b0 = spark.createDataFrame(
        [("U", i, i, f"v{i}") for i in range(1, 21)],
        "op string, seq bigint, doc_id int, text string",
    )
    t.merge(b0, batch_key=("q", 0))
    t.widen_column("doc_id", "bigint")
    # updates + a delete under the widened type, same key VALUES
    b1 = spark.createDataFrame(
        [("U", 100, 1, "v1b"), ("U", 101, 2, "v2b"), ("D", 102, 3, None)],
        "op string, seq bigint, doc_id bigint, text string",
    )
    t.merge(b1, batch_key=("q", 1))
    got = {r["doc_id"]: r["text"] for r in t.read().collect()}
    assert len(got) == 19                      # no duplicated key rows
    assert got[1] == "v1b" and got[2] == "v2b" and 3 not in got
    # per-bucket pruned read agrees with the full read (routing intact)
    m = t.manifest()
    per_bucket = set()
    for b in range(m["n_buckets"]):
        per_bucket |= {
            (r["doc_id"], r["text"]) for r in t.read(buckets=[b]).collect()
        }
    assert per_bucket == set(got.items())
    # hash-changing promotions of the bucket column are refused
    t2 = LakeTable.create(
        spark, str(tmp_path / "tbl2"),
        [("d", "date"), ("text", "string")], key=["d"], bucket_col="d",
    )
    with pytest.raises(ValueError, match="bucket column"):
        t2.widen_column("d", "timestamp")
    t3 = LakeTable.create(
        spark, str(tmp_path / "tbl3"),
        [("k", "int"), ("text", "string")], key=["k"], bucket_col="k",
    )
    with pytest.raises(ValueError, match="bucket column"):
        t3.widen_column("k", "double")


def test_zone_maps_date_key_column(spark, tmp_path):
    """ADVICE r4 (medium): a DATE key column's zone bounds must serialize
    (epoch days, not datetime.date — json.dumps(date) raises TypeError),
    and read(zones=...) must prune/filter by the same epoch-day ints."""
    import datetime as dt

    t = LakeTable.create(
        spark, str(tmp_path / "tbl"),
        [("d", "date"), ("text", "string")],
        key=["d"], bucket_col="d", n_buckets=2,
    )

    def batch(day, seq0):
        rows = [("U", seq0 + j, dt.date(2024, 1, day + j), f"t{day + j}")
                for j in range(3)]
        return spark.createDataFrame(
            rows, "op string, seq bigint, d date, text string"
        )

    # would raise TypeError at commit before the epoch-day fix
    t.merge(batch(1, 0), batch_key=("q", 0))
    t.merge(batch(20, 100), batch_key=("q", 1))
    m = t.manifest()
    entries = [e for es in m["buckets"].values() for e in es]
    assert entries and all("zones" in e and "d" in e["zones"] for e in entries)
    assert all(
        isinstance(v, int) for e in entries for v in e["zones"]["d"]
    )
    day20 = (dt.date(2024, 1, 20) - dt.date(1970, 1, 1)).days
    pruned = {(str(r["d"]), r["text"])
              for r in t.read(zones={"d": (day20, None)}).collect()}
    full = {(str(r["d"]), r["text"])
            for r in t.read().filter(F.col("d") >= "2024-01-20").collect()}
    assert pruned == full and len(pruned) == 3


def _date_key_table(spark, path):
    import datetime as dt

    t = LakeTable.create(
        spark, str(path), [("u", "string"), ("d", "date"), ("text", "string")],
        key=["u", "d"], bucket_col="u", n_buckets=2,
    )
    rows = [("U", j, f"u{j}", dt.date(2024, 1, 1 + j), f"t{j}") for j in range(10)]
    t.merge(
        spark.createDataFrame(rows, "op string, seq bigint, u string, d date, text string"),
        batch_key=("q", 0),
    )
    return t


def test_zone_bounds_of_a_date_key_widened_to_timestamp(spark, tmp_path):
    """Zone bounds are recorded in the type a file was written with: after
    a date key is widened to timestamp, the old entries' epoch-day bounds
    must not judge an epoch-micros range (they would drop every old
    file)."""
    import datetime as dt

    t = _date_key_table(spark, tmp_path / "tbl")
    t.widen_column("d", "timestamp")
    utc = dt.timezone.utc
    lo = int(dt.datetime(2024, 1, 1, tzinfo=utc).timestamp()) * 10**6
    hi = int(dt.datetime(2024, 2, 1, tzinfo=utc).timestamp()) * 10**6
    assert t.read().count() == 10
    assert sorted(r["text"] for r in t.read(zones={"d": (lo, hi)}).collect()) == sorted(
        f"t{j}" for j in range(10)
    )


def test_zone_bounds_follow_a_renamed_column(spark, tmp_path):
    """An entry's bounds are found by field id under its schema version,
    so a renamed key column still prunes files under its new name."""
    import datetime as dt

    t = _date_key_table(spark, tmp_path / "tbl")
    t.rename_column("d", "day")
    far = (dt.date(2030, 1, 1) - dt.date(1970, 1, 1)).days
    out = t.read(zones={"day": (far, None)})
    assert out.collect() == [] and out.inputFiles() == []
    assert len(t.read(zones={"day": (None, far)}).inputFiles()) == 2


def test_rebucket_partition_evolution(spark, tmp_path, changes):
    """rebucket(N): one atomic rewrite commit; state identical before and
    after, merges keep landing under the new bucketing, watermarks
    re-derived per new bucket, time travel still reads the old layout."""
    t = _make_table(spark, tmp_path, n_buckets=4)
    b0 = changes.filter(F.col("seq") < 2000)
    t.merge(b0, batch_key=("q", 0))
    before = _sorted_state(t.read())
    v_old = t.current_version()

    moved = t.rebucket(16)
    assert moved > 4  # rows spread over more buckets now
    assert t.manifest()["n_buckets"] == 16
    assert _sorted_state(t.read()) == before          # state unchanged
    assert _sorted_state(t.read(version=v_old)) == before  # time travel ok
    wms = t.resume_watermarks()
    assert wms and max(wms.values()) == max(r[-1] for r in before)

    # merges continue under the new bucketing and converge
    t.merge(changes.filter(F.col("seq") >= 2000), batch_key=("q", 1))
    got = _sorted_state(t.read())
    exp = _sorted_state(expected_final_state(changes))
    assert got == exp


def test_footer_stats_match_spark_readback(spark, tmp_path, changes, monkeypatch):
    """r6: MoR lineage stats/zones/watermarks come from parquet footers
    (no read-back job). They must be IDENTICAL to what the Spark
    read-back derives — metrics feed the cdc_batch_metrics oracle query
    and zones drive file pruning."""

    def replay(path, force_fallback):
        t = LakeTable.create(spark, str(path), PAGE_COLS, n_buckets=8)
        if force_fallback:
            monkeypatch.setattr(
                LakeTable, "_footer_stats_zones", lambda self, *a, **kw: None
            )
        for i in range(3):
            t.merge(
                changes.filter(F.col("seq") % 3 == i), batch_key=("q", i)
            )
        return t

    t_footer = replay(tmp_path / "footer", force_fallback=False)
    t_spark = replay(tmp_path / "fallback", force_fallback=True)

    # identical per-bucket lineage metrics (version, qid, bid, b, mx, up, dl)
    mf = sorted(tuple(r) for r in t_footer.metrics().collect())
    ms = sorted(tuple(r) for r in t_spark.metrics().collect())
    assert mf == ms and mf
    # identical watermarks
    assert t_footer.resume_watermarks() == t_spark.resume_watermarks()
    # identical zone bounds on every live entry (keyed by bucket+entry idx)
    def zmap(t):
        m = t.manifest()
        return {
            (b, i): e.get("zones")
            for b, es in m["buckets"].items()
            for i, e in enumerate(es)
        }
    zf, zs = zmap(t_footer), zmap(t_spark)
    assert zf == zs and any(z for z in zf.values())
    # identical visible state, and _deleted reads as plain false/true
    got = {(r["url"], r["warc_ts"], r["_deleted"], r["_seq"])
           for r in t_footer.read(include_deleted=True).collect()}
    exp = {(r["url"], r["warc_ts"], r["_deleted"], r["_seq"])
           for r in t_spark.read(include_deleted=True).collect()}
    assert got == exp
    assert all(r[2] in (True, False) for r in got)


@pytest.mark.parametrize("op", ["compact", "rebucket"])
@pytest.mark.parametrize("long_key", [False, True])
def test_rewrite_footer_zones_match_spark_readback(spark, tmp_path, monkeypatch, op, long_key):
    """compact and rebucket take their zone bounds — string url bounds
    included — and rebucket its watermarks from the footers, with no
    read-back; they equal what the read-back derives. A chunk whose max
    url is over 4 KB has no footer min/max (parquet-mr omits them), so
    that rewrite falls back to the read-back, with the same result."""
    rows = [
        (("D" if j % 7 == 3 else "U"), j, f"https://h{j % 3}.org/{j:03d}",
         dt.datetime(2024, 1, 1 + j % 9), None, f"t{j}", "en")
        for j in range(60)
    ]
    if long_key:
        # h9 sorts after every other host: the max of its chunk
        rows.append(("U", 99, "https://h9.org/" + "x" * 5000,
                     dt.datetime(2024, 2, 1), None, "long", "en"))
    ddl = ("op string, seq bigint, url string, warc_ts timestamp, "
           "html binary, text string, lang string")
    readbacks = []
    real = LakeTable._readback

    def spy(self, *a):
        readbacks.append(op)
        return real(self, *a)

    monkeypatch.setattr(LakeTable, "_readback", spy)

    def rewritten(path):
        t = LakeTable.create(spark, str(path), PAGE_COLS, n_buckets=2, bloom_bits=1024)
        for i in range(2):
            t.merge(spark.createDataFrame(rows[i::2], ddl), batch_key=("q", i))
        readbacks.clear()
        assert (t.compact() if op == "compact" else t.rebucket(3)) > 0
        return t, len(readbacks)

    t_footer, n_footer = rewritten(tmp_path / "footer")
    with monkeypatch.context() as mp:
        mp.setattr(LakeTable, "_footer_stats_zones", lambda self, *a, **kw: None)
        t_spark, n_spark = rewritten(tmp_path / "fallback")
    assert (n_footer, n_spark) == (int(long_key), 1)

    def zmap(t):
        return {b: [e.get("zones") for e in es] for b, es in t.manifest()["buckets"].items()}

    zf = zmap(t_footer)
    assert zf == zmap(t_spark)
    assert all(set(z) == {"url", "warc_ts"} for zs in zf.values() for z in zs)
    assert t_footer.resume_watermarks() == t_spark.resume_watermarks()
    assert _sorted_state(t_footer.read()) == _sorted_state(t_spark.read())


def test_footer_stats_all_null_zone_col(spark, tmp_path):
    """All-null warc_ts (a nullable key col): footer path must omit the
    zone bounds exactly like the Spark min/max (which skip nulls), and
    still count tombstones right."""
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGE_COLS, n_buckets=2)
    b = spark.createDataFrame(
        [("I", 1, "https://a/x", None, None, "v1", "en"),
         ("D", 2, "https://b/y", None, None, None, None)],
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )
    s = t.merge(b, batch_key=("q", 0))
    assert s.rows_upserted == 1 and s.rows_deleted == 1
    m = t.manifest()
    for es in m["buckets"].values():
        for e in es:
            assert "zones" not in e or "warc_ts" not in (e.get("zones") or {})


class _NoMinMaxChunk:
    """A column chunk whose statistics kept their null count but lost
    min/max, as from a writer that drops or truncates them."""

    def __init__(self, chunk):
        self.num_values = chunk.num_values
        self.statistics = SimpleNamespace(
            has_min_max=False, has_null_count=True,
            null_count=chunk.statistics.null_count,
        )


class _StrippedMetadata:
    def __init__(self, md, col):
        self._md, self._col = md, col
        self.schema, self.num_columns = md.schema, md.num_columns
        self.num_row_groups = md.num_row_groups

    def row_group(self, rg):
        g = self._md.row_group(rg)
        col = self._col
        return SimpleNamespace(
            num_rows=g.num_rows,
            column=lambda i: _NoMinMaxChunk(g.column(i)) if i == col else g.column(i),
        )


def test_footer_zones_fall_back_when_a_chunk_lacks_min_max(spark, tmp_path, monkeypatch):
    """A zone chunk that holds values but has no min/max must send the
    merge to the Spark read-back. Skipping it like an all-null chunk
    records bounds narrower than the data, and read(zones=...) then drops
    files holding matching rows. pyarrow and Spark never write such an
    integer chunk (with statistics off there are none at all, which
    already falls back), so the metadata reader strips one file's bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "bigint")],
        key=["url", "n"], n_buckets=1,
    )
    m = t.manifest()
    bdir = tmp_path / "out" / "b=0"
    bdir.mkdir(parents=True)
    for name, ns in (("low", [1, 2]), ("high", [100, 200])):
        pq.write_table(
            pa.table({
                "url": ["x", "y"],
                "n": pa.array(ns, pa.int64()),
                "_seq": pa.array([1, 2], pa.int64()),
                "_deleted": pa.array([None, True], pa.bool_()),
            }),
            str(bdir / f"{name}.parquet"),
        )
    out = str(tmp_path / "out")
    stats, zones = t._footer_stats_zones(out, {0}, m, ["n"])
    assert stats == [(0, 2, 2, 2)] and zones == {0: {"n": [1, 200]}}

    real = pq.read_metadata

    def read_metadata(path):
        md = real(path)
        if not path.endswith("high.parquet"):
            return md
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        return _StrippedMetadata(md, names.index("n"))

    monkeypatch.setattr(pq, "read_metadata", read_metadata)
    assert t._footer_stats_zones(out, {0}, m, ["n"]) is None


def test_mor_merge_without_pyarrow_uses_spark_readback(spark, tmp_path, changes, monkeypatch):
    """With pyarrow.parquet missing, the footer path steps aside instead of
    failing the merge; the Spark read-back yields the same stats, zones
    and rows."""
    ref = LakeTable.create(spark, str(tmp_path / "ref"), PAGE_COLS, n_buckets=4)
    s_ref = ref.merge(changes, batch_key=("q", 0))
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
    t = LakeTable.create(spark, str(tmp_path / "t"), PAGE_COLS, n_buckets=4)
    s = t.merge(changes, batch_key=("q", 0))
    assert (s.rows_upserted, s.rows_deleted, s.max_seq) == (
        s_ref.rows_upserted, s_ref.rows_deleted, s_ref.max_seq
    )

    def zmap(tbl):
        return {b: [e.get("zones") for e in es] for b, es in tbl.manifest()["buckets"].items()}

    assert zmap(t) == zmap(ref) and any(any(z) for z in zmap(t).values())
    assert _sorted_state(t.read()) == _sorted_state(ref.read())
