"""Key Bloom filters: the parquet writer builds them on the key columns of
every file a Bloom table writes, Spark's scan tests a pushed-down key
equality against them per row group, and point lookups stay exact — no
false negatives — through merges, compaction, rebucket and key widening.
The driver's point path (pyarrow) reads no Bloom, so the pruning checks
run point lookups through the Spark fallback (the ``spark_path``
fixture).
"""

import datetime as dt
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.lake.table import _point_internal
from go_bqloader_spark.sources import gen_changes

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
PAGE_DDL = (
    "op string, seq bigint, url string, warc_ts timestamp, "
    "html binary, text string, lang string"
)
TS0 = dt.datetime(2024, 1, 1)


def _mk(spark, path, **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("bloom_bits", 4096)
    return LakeTable.create(spark, str(path), PAGE_COLS, key=["url", "warc_ts"], **kw)


def _point_of(row):
    return {"url": row["url"], "warc_ts": row["warc_ts"]}


@contextmanager
def _no_dictionary(spark):
    """Files written inside are not dictionary-encoded. parquet-mr writes
    no Bloom for a fully dictionary-encoded chunk (its dictionary filter
    answers equality there), and every small test file is one; without
    dictionaries each key chunk carries a Bloom, and the Blooms are what
    prune."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    prev = conf.get("parquet.enable.dictionary")
    conf.set("parquet.enable.dictionary", "false")
    try:
        yield
    finally:
        if prev is None:
            conf.unset("parquet.enable.dictionary")
        else:
            conf.set("parquet.enable.dictionary", prev)


def _plan_nodes(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        node = node.executedPlan()
    elif name.endswith("QueryStageExec"):
        node = node.plan()
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def _scan(df):
    """Collect ``df``: its rows and the number of rows its parquet scans
    output, i.e. the rows of the row groups that pruning kept."""
    rows = df.collect()
    scanned = sum(
        n.metrics().get("numOutputRows").get().value()
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    )
    return rows, scanned


def _pages(n, step=2):
    return [
        ("U", j, f"https://ex.org/{j:04d}", TS0 + dt.timedelta(hours=j % 10),
         None, f"t{j}", "en")
        for j in range(0, n, step)
    ]


def test_bloom_actually_prunes_files(spark, spark_path, tmp_path):
    """A point lookup of a key inside a file's min/max range on both key
    columns but absent from it: the url Bloom skips the file's row group,
    so the scan outputs no row; without Blooms it outputs the whole file.
    With dictionaries on (the default) the dictionary filter skips it."""
    rows = _pages(400)
    # url 0101 is absent (urls are even) but inside the url range; 2h is
    # a stored warc_ts, so only the url column can prove the miss
    miss = {"url": "https://ex.org/0101", "warc_ts": TS0 + dt.timedelta(hours=2)}
    hit = {"url": "https://ex.org/0102", "warc_ts": TS0 + dt.timedelta(hours=2)}

    def table(name, bloom_bits):
        t = _mk(spark, tmp_path / name, n_buckets=1, bloom_bits=bloom_bits)
        t.merge(spark.createDataFrame(rows, PAGE_DDL), batch_key=("b", 0))
        return t

    with _no_dictionary(spark):
        bloom, plain = table("bloom", 4096), table("plain", 0)
    dictionary = table("dictionary", 4096)
    assert _scan(spark_path(bloom).read(point=miss)) == ([], 0)
    assert _scan(spark_path(plain).read(point=miss)) == ([], len(rows))
    assert _scan(spark_path(dictionary).read(point=miss)) == ([], 0)
    for t in (bloom, plain, dictionary):
        got = t.read(point=hit).collect()
        assert [r["text"] for r in got] == ["t102"]


def test_bloom_merge_runs_no_more_jobs_than_plain(spark, spark_jobs, tmp_path):
    """The Blooms are built inside the write job and the stats come from
    the footers, so a MoR merge on a Bloom table launches the same Spark
    jobs as on a table without Blooms."""
    batch = spark.createDataFrame(_pages(60, step=1), PAGE_DDL)
    jobs = {}
    for bits in (0, 4096):
        t = _mk(spark, tmp_path / f"t{bits}", bloom_bits=bits)
        t.merge(batch, batch_key=("b", 0))  # warm
        _, jobs[bits] = spark_jobs(
            f"merge-bloom-{bits}", lambda: t.merge(batch, batch_key=("b", 1))
        )
    assert jobs[4096] == jobs[0] == 1, jobs


def test_compact_takes_zones_from_footers(spark, spark_jobs, tmp_path):
    """compact writes its files and reads their zone bounds (string url
    bounds included) from the footers: one Spark job, where a read-back
    would be a second."""
    t = _mk(spark, tmp_path / "t", n_buckets=2)
    for i in range(2):
        t.merge(spark.createDataFrame(_pages(40, step=1), PAGE_DDL), batch_key=("b", i))
    n, jobs = spark_jobs("compact-footers", t.compact)
    assert n == 2 and jobs == 1
    zones = [e["zones"] for es in t.manifest()["buckets"].values() for e in es]
    assert all(set(z) == {"url", "warc_ts"} for z in zones)


def _every_key_hits(t, spark_path):
    """Every stored key is found, by the driver path and by the Spark
    fallback, whose scan tests the Blooms."""
    rows = t.read(include_deleted=True).collect()
    assert rows
    misses = [
        (r, reader is t)
        for reader in (t, spark_path(t))
        for r in rows
        if reader.read(point=_point_of(r), include_deleted=True).collect() != [r]
    ]
    assert not misses, misses[:5]


def _check_rewrite(spark, spark_path, tmp_path, op):
    """compact and rebucket write Blooms too: afterwards every key is
    still found, and an absent key inside a rewritten file's range scans
    no row."""
    changes = gen_changes(spark, n_events=240, n_urls=60, n_hosts=6, seed=5)
    with _no_dictionary(spark):
        t = _mk(spark, tmp_path / "t", n_buckets=2)
        for i in range(3):
            t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
        before = sorted(t.read(include_deleted=True).collect(), key=repr)
        assert (t.compact() if op == "compact" else t.rebucket(3)) > 0
    assert set(t.entries_per_bucket().values()) == {1}
    assert sorted(t.read(include_deleted=True).collect(), key=repr) == before
    _every_key_hits(t, spark_path)
    # an absent url that sorts right after a stored one, with a stored
    # warc_ts, inside both zone ranges of its bucket's file
    m = t.manifest()
    for row in before:
        miss = dict(_point_of(row), url=row["url"] + "~")
        b = t._point_probe(m, t._point_values(m, miss))  # noqa: SLF001
        z = m["buckets"][str(b)][0]["zones"]
        ts = _point_internal("warc_ts", "timestamp", miss["warc_ts"])
        if z["url"][0] < miss["url"] < z["url"][1] and \
                z["warc_ts"][0] <= ts <= z["warc_ts"][1]:
            break
    else:
        pytest.fail("no absent key inside a file's zone range")
    assert _scan(spark_path(t).read(point=miss)) == ([], 0)


def test_blooms_survive_compaction(spark, spark_path, tmp_path):
    _check_rewrite(spark, spark_path, tmp_path, "compact")


def test_blooms_survive_rebucket(spark, spark_path, tmp_path):
    _check_rewrite(spark, spark_path, tmp_path, "rebucket")


@pytest.mark.parametrize("old,new", [("int", "double"), ("int", "bigint")])
def test_point_reads_find_every_key_across_key_widening(
    spark, spark_path, tmp_path, old, new
):
    """A Bloom'd key column widened after files were written: Spark casts
    the old files' column up on read and still pushes the equality down
    to them, so every key — written before or after the widening — is
    found, and an absent one is not; the driver path agrees. The table
    buckets on the unwidened key column ``warc_ts``, since ``int`` ->
    ``double`` would move bucket hashes."""
    cols = [("k", old), ("warc_ts", "timestamp"), ("v", "string")]
    t = LakeTable.create(
        spark, str(tmp_path / "w"), cols, key=["k", "warc_ts"],
        bucket_col="warc_ts", n_buckets=2, bloom_bits=2048,
    )
    ts = dt.datetime(2024, 6, 1)
    with _no_dictionary(spark):
        t.merge(
            spark.createDataFrame(
                [("U", i, i, ts, f"v{i}") for i in range(0, 40, 2)],
                f"op string, seq bigint, k {old}, warc_ts timestamp, v string",
            ),
            batch_key=("b", 0),
        )
        t.widen_column("k", new)
        py = float if new == "double" else int
        t.merge(
            spark.createDataFrame(
                [("U", 100 + i, py(i), ts, f"w{i}") for i in range(40, 60, 2)],
                f"op string, seq bigint, k {new}, warc_ts timestamp, v string",
            ),
            batch_key=("b", 1),
        )
    for tt in (spark_path(t), t):
        for i in range(0, 60, 2):
            got = tt.read(point={"k": py(i), "warc_ts": ts}).collect()
            assert [r["v"] for r in got] == [f"v{i}" if i < 40 else f"w{i}"], i
        assert tt.read(point={"k": py(7), "warc_ts": ts}).collect() == []


def test_point_without_bloom_still_works(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", bloom_bits=0)
    changes = gen_changes(spark, n_events=1500, n_urls=200, n_hosts=10, seed=9)
    t.merge(changes, batch_key=("b", 0))
    m = t.manifest()
    assert all(
        "bloom" not in e for es in m["buckets"].values() for e in es
    )
    row = t.read().limit(1).collect()[0]
    assert t.read(point=_point_of(row)).collect() == [row]


def test_point_requires_full_key(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="full key"):
        t.read(point={"url": "https://x.org/"})


def test_point_lookup_matches_filtered_read(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    changes = gen_changes(spark, n_events=3000, n_urls=400, n_hosts=20, seed=7)
    for i in range(3):
        t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
    full = t.read().collect()
    assert full
    for row in (full[0], full[len(full) // 2], full[-1]):
        got = t.read(point=_point_of(row)).collect()
        assert len(got) == 1 and got[0] == row


def test_point_lookup_of_deleted_key_is_empty(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    changes = gen_changes(spark, n_events=2000, n_urls=300, n_hosts=20, seed=3)
    t.merge(changes, batch_key=("b", 0))
    dead = (
        t.read(include_deleted=True)
        .filter("_deleted")
        .limit(1)
        .collect()
    )
    assert dead, "datagen seed should produce at least one tombstone"
    assert t.read(point=_point_of(dead[0])).count() == 0
    # and with include_deleted the tombstone row itself is addressable
    assert t.read(point=_point_of(dead[0]), include_deleted=True).count() == 1


def test_bloom_has_no_false_negatives_across_all_keys(spark, spark_path, tmp_path):
    """THE correctness property: every stored key is found by its point
    lookup — false positives only cost extra reads, a false negative
    would silently drop rows. The Blooms are the smallest parquet-mr
    writes (32 bytes), so they are saturated and collision-heavy — the
    worst case for negatives — and dictionaries are off, so every key
    chunk carries one."""
    changes = gen_changes(spark, n_events=300, n_urls=80, n_hosts=8, seed=21)
    with _no_dictionary(spark):
        t = _mk(spark, tmp_path / "t", n_buckets=2, bloom_bits=256)
        for i in range(3):
            t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
    _every_key_hits(t, spark_path)
