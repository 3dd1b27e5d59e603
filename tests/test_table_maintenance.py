"""Table maintenance: ``expire_snapshots`` spills lineage on the driver
(no Spark job, crash-safe, every JSON spill read back), ``compact``
and ``rebucket`` resolve MoR files with one exchange and leave exactly the
state ``read()`` resolved before them, and ``_no_aqe`` restores the
caller's setting under overlapping users and applies to the session of
the frame it writes (a stream's own, inside ``foreachBatch``)."""

import datetime as dt
import os
import re

import pytest

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.lake.fsio import LocalFS
from go_bqloader_spark.lake.table import _no_aqe

TS = dt.datetime(2024, 1, 1)
DDL0 = "op string, seq bigint, url string, warc_ts timestamp, n int, text string"


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _small_table(spark, path, n_batches=5):
    t = LakeTable.create(
        spark, str(path), [("url", "string"), ("n", "int")], key=["url"],
        n_buckets=2,
    )
    for i in range(n_batches):
        t.merge(
            spark.createDataFrame(
                [("U", i * 10 + j, f"u/{j}", i) for j in range(3)],
                "op string, seq bigint, url string, n int",
            ),
            batch_key=("q", i),
        )
    return t


# ------------------------------------------------------------ lineage spill
def test_expire_snapshots_runs_no_spark_job(spark, spark_jobs, tmp_path):
    t = _small_table(spark, tmp_path / "t")
    t.compact()
    before = _rows(t.metrics())
    out, jobs = spark_jobs(
        "expire", lambda: t.expire_snapshots(keep_n=2, orphan_grace_sec=0)
    )
    assert out["expired"] == 5
    assert jobs == 0
    assert os.listdir(tmp_path / "t" / "_lineage") == ["v00000000_v00000004.json"]
    assert _rows(t.metrics()) == before


class _FailFirstManifestDelete(LocalFS):
    """Raises on the first delete of a manifest version file, as if the
    process died between the lineage spill and the manifest deletes."""

    def __init__(self):
        self.failed = False

    def delete(self, path):
        if not self.failed and re.search(r"_manifests/v\d+\.json$", path):
            self.failed = True
            raise OSError("injected crash")
        super().delete(path)


def test_expire_retry_after_crash_spills_once(spark, tmp_path):
    t = _small_table(spark, tmp_path / "t")
    before = _rows(t.metrics())
    crashing = LakeTable(spark, str(tmp_path / "t"), fs=_FailFirstManifestDelete())
    with pytest.raises(OSError, match="injected"):
        crashing.expire_snapshots(keep_n=2, orphan_grace_sec=0)
    # the expired manifests are still in the chain: counted once
    assert _rows(LakeTable(spark, str(tmp_path / "t")).metrics()) == before
    # the retry spills nothing twice
    retry = LakeTable(spark, str(tmp_path / "t"))
    assert retry.expire_snapshots(keep_n=2, orphan_grace_sec=0)["expired"] == 4
    assert len(retry.history()) == 2
    assert _rows(retry.metrics()) == before


def test_metrics_reads_every_json_spill(spark, tmp_path):
    """A table expired twice holds two JSON spill files: metrics() reads
    both with the chain and is still the complete history."""
    t = _small_table(spark, tmp_path / "t", n_batches=6)
    before = _rows(t.metrics())
    assert t.expire_snapshots(keep_n=5, orphan_grace_sec=0)["expired"] == 2
    assert t.expire_snapshots(keep_n=2, orphan_grace_sec=0)["expired"] == 3
    assert sorted(os.listdir(tmp_path / "t" / "_lineage")) == [
        "v00000000_v00000001.json", "v00000002_v00000004.json"
    ]
    assert _rows(LakeTable(spark, str(tmp_path / "t")).metrics()) == before


# ------------------------------------------------------ compact / rebucket
DDL1 = DDL0 + ", lang string"
DDL2 = DDL1.replace("n int", "n bigint")
# three deltas: (schema change before it, ddl, rows)
DELTAS = [
    (None, DDL0,
     [("I", i, f"u/{i}", None if i % 4 == 0 else TS, i, f"a{i}") for i in range(16)]
     + [("U", 16, "u/1", TS, 100, "a1b"), ("I", 17, "u/1", None, 17, "a1n")]),
    (("add_column", "lang", "string"), DDL1,
     [("U", 20, "u/0", None, 200, "b0", "en"),
      ("U", 21, "u/0", None, 201, "b0b", "de"),
      ("D", 22, "u/2", TS, None, None, None),
      ("D", 23, "u/4", None, None, None, None),
      ("U", 24, "u/3", TS, 203, "b3", None),
      ("I", 25, "u/new", TS, 205, "bn", "fr"),
      ("U", 26, "u/1", None, 226, "b1n", "en")]),
    (("widen_column", "n", "bigint"), DDL2,
     [("I", 30, "u/2", TS, 2**40, "c2", "it"),
      ("U", 31, "u/3", TS, 303, "c3", "en"),
      ("U", 5, "u/5", TS, -5, "stale", None),
      ("D", 32, "u/8", None, None, None, None),
      ("U", 33, "u/12", None, 312, "c12", "en")]),
]


def _evolving_mor_table(spark, path, bloom_bits=1024):
    """The ``DELTAS`` merged into a MoR table: keys updated several times
    (also inside one batch), tombstones, a re-inserted key, a late older
    update, and NULL warc_ts key parts (u/1 has a NULL and a set one).
    Returns the table and the oracle's resolved rows, tombstones
    included, as ``read(include_deleted=True)`` tuples."""
    t = LakeTable.create(
        spark, str(path),
        [("url", "string"), ("warc_ts", "timestamp"), ("n", "int"), ("text", "string")],
        key=["url", "warc_ts"], n_buckets=3, bloom_bits=bloom_bits,
    )
    newest = {}
    for i, (ddl_change, ddl, rows) in enumerate(DELTAS):
        if ddl_change:
            getattr(t, ddl_change[0])(*ddl_change[1:])
        t.merge(spark.createDataFrame(rows, ddl), batch_key=("q", i))
        for op, seq, url, ts, n, text, *lang in rows:
            if (url, ts) not in newest or seq > newest[(url, ts)][5]:
                newest[(url, ts)] = (url, ts, n, text, (lang or [None])[0], seq, op == "D")
    assert max(t.entries_per_bucket().values()) >= 3
    return t, sorted(newest.values(), key=repr)


def _assert_every_key_hits(t, state):
    for r in state:
        got = t.read(point={"url": r[0], "warc_ts": r[1]}).collect()
        assert [tuple(x) for x in got] == ([] if r[-1] else [r[:-1]])


@pytest.mark.parametrize("op", ["compact", "rebucket"])
def test_rewrite_keeps_exact_resolved_state(spark, tmp_path, op):
    t, want = _evolving_mor_table(spark, tmp_path / op)
    assert _rows(t.read(include_deleted=True)) == want
    if op == "compact":
        targets = [b for b, n in t.entries_per_bucket().items() if n >= 2]
        assert t.compact() == len(targets) > 0
    else:
        assert t.rebucket(5) > 0
    assert set(t.entries_per_bucket().values()) == {1}
    assert _rows(t.read(include_deleted=True)) == want
    _assert_every_key_hits(t, want)


def test_compact_expiring_tombstones_keeps_live_state(spark, tmp_path):
    t, want = _evolving_mor_table(spark, tmp_path / "t")
    assert t.compact(expire_tombstones=True, min_entries=1) == 3
    live = [r for r in want if not r[-1]]
    assert _rows(t.read(include_deleted=True)) == sorted(live, key=repr)
    assert _rows(t.read()) == sorted((r[:-1] for r in live), key=repr)


@pytest.mark.parametrize("n_out", [None, 5])
def test_rewrite_plan_has_one_exchange(spark, tmp_path, n_out):
    """compact (n_out None) and rebucket plans: the bucket exchange is
    the only shuffle; the window that keeps each key's newest row sorts
    within it. A partitioned write adds at most a local sort, so this is
    the write's shuffle plan."""
    t, _ = _evolving_mor_table(spark, tmp_path / "t", bloom_bits=0)
    m = t.manifest()
    buckets = None if n_out else [0, 1, 2]
    m_out = dict(m, n_buckets=n_out) if n_out else m
    plan = t._rewrite_rows(m, buckets, m_out)._jdf.queryExecution().executedPlan()
    exchanges = re.findall(r"Exchange \w+", plan.toString())
    assert exchanges == ["Exchange hashpartitioning"], plan.toString()


# ------------------------------------------------------------------ _no_aqe
def test_no_aqe_restores_setting_under_overlapping_users(spark):
    conf = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        a, b = _no_aqe(spark), _no_aqe(spark)
        a.__enter__()
        b.__enter__()
        assert spark.conf.get(conf) == "false"
        a.__exit__(None, None, None)
        assert spark.conf.get(conf) == "false"  # b still runs
        b.__exit__(None, None, None)
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, prev)


def test_stream_merge_runs_without_aqe(spark, spark_jobs, tmp_path):
    """foreachBatch hands the merge a frame of the stream's own session,
    whose AQE setting is not the caller's: the merge switches AQE off on
    that session, so its bucket repartition and write run as ONE Spark
    job (two with AQE on), and the batch session's setting is back after."""
    src = str(tmp_path / "src")
    schema = "op string, seq bigint, url string, n int"
    spark.createDataFrame(
        [("U", i, f"u/{i}", i) for i in range(40)], schema
    ).coalesce(1).write.parquet(src)
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int")], key=["url"],
        n_buckets=4,
    )
    seen = []

    def apply(df, batch_id):
        conf = df.sparkSession.conf
        before = conf.get("spark.sql.adaptive.enabled")
        _, jobs = spark_jobs(
            f"stream-merge-{batch_id}", lambda: t.merge(df, batch_key=("s", batch_id))
        )
        seen.append((jobs, before, conf.get("spark.sql.adaptive.enabled")))

    q = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert seen == [(1, "true", "true")]
    assert sorted(r["n"] for r in t.read().collect()) == list(range(40))
