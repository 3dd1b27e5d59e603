"""What building and running plans costs outside Spark's own work: py4j
round trips per call (lake and registry plans are SQL text, not ``Column``
trees), and Spark jobs that an empty read or a read of many entry
directories would add."""

import datetime as dt

import pytest

from pyspark.sql import types as T

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.plans import QUERIES
from perfbench import querydata

COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
DDL = "op string, seq bigint, url string, warc_ts timestamp, html binary, text string, lang string"
TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _batch(spark, seqs):
    return spark.createDataFrame(
        [("U", s, f"https://h{s % 7}.org/p{s}", TS, b"<p>x</p>", f"text {s}", "en") for s in seqs],
        DDL,
    )


@pytest.fixture
def table(spark, tmp_path):
    """A MoR table shaped like the benchmark's (5 columns, a url and
    timestamp key, 8 buckets, key Blooms) holding a base and a delta."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), COLS, key=["url", "warc_ts"], n_buckets=8, bloom_bits=4096
    )
    t.merge(_batch(spark, range(200)), batch_key=("q", 0))
    t.merge(_batch(spark, range(100, 300)), batch_key=("q", 1))
    assert t._needs_resolve(t.manifest(), None)
    return t


def _fewest(py4j_calls, fn, reps=3):
    """The fewest round trips ``fn`` made over ``reps`` calls: a call can
    also carry the JVM-side deletes of objects an earlier one freed."""
    return min(py4j_calls(fn)[1] for _ in range(reps))


# (the count before the last change to the op's path, the count after
# it); each budget is the second plus about 50 %. Before it, the merge and
# the read plan were built from Column trees, a point hit went through
# createDataFrame, and a miss or a tombstone planned a new empty relation.
BUDGETS = {
    "point hit": (39, 22),
    "point miss": (12, 7),
    "point tombstone": (12, 7),
    "merge": (674, 73),
    "read plan": (380, 78),
}


def test_py4j_round_trips_stay_in_budget(spark, py4j_calls, table):
    """A point hit, a miss and a tombstoned key (each collected, on the
    driver path), a MoR merge of 40 events and building a full ``read()``
    of a base plus a delta stay within their round-trip budgets."""
    hit = {"url": "https://h3.org/p150", "warc_ts": TS}
    miss = {"url": "https://h3.org/none", "warc_ts": TS}
    dead = {"url": "https://h3.org/p157", "warc_ts": TS}
    table.merge(
        spark.createDataFrame([("D", 400, dead["url"], TS, None, None, None)], DDL),
        batch_key=("q", 9),
    )
    assert len(table.read(point=hit).collect()) == 1
    assert table.read(point=dead).collect() == []
    # distinct batch keys, each batch built before the count
    merges = iter([(_batch(spark, range(300 + i, 340 + i)), ("q", 2 + i)) for i in range(3)])
    counts = {
        "point hit": _fewest(py4j_calls, lambda: table.read(point=hit).collect()),
        "point miss": _fewest(py4j_calls, lambda: table.read(point=miss).collect()),
        "point tombstone": _fewest(py4j_calls, lambda: table.read(point=dead).collect()),
        "merge": _fewest(py4j_calls, lambda: table.merge(*next(merges))),
        "read plan": _fewest(py4j_calls, table.read),
    }
    for op, n in counts.items():
        assert n <= BUDGETS[op][1] * 3 // 2, (op, n, BUDGETS[op])


@pytest.mark.parametrize("include_deleted", [True, False])
def test_empty_reads_run_no_spark_job(spark, spark_jobs, tmp_path, include_deleted):
    """A read with nothing to scan (an empty table, buckets without
    entries) and an idle consumer's ``read_changes_since`` return a local
    relation of the table's schema: collecting it runs no Spark job."""
    t = LakeTable.create(spark, str(tmp_path / "t"), COLS, key=["url", "warc_ts"], n_buckets=8)
    want = T.StructType(
        [f for f in t.spark_schema().fields if include_deleted or f.name != "_deleted"]
    )
    reads = {"empty table": t.read(include_deleted=include_deleted)}
    t.merge(_batch(spark, [3]), batch_key=("q", 0))
    (full,) = t.manifest()["buckets"]
    reads["no entries"] = t.read(buckets=[(int(full) + 1) % 8], include_deleted=include_deleted)
    reads["idle consumer"] = t.read_changes_since(3, include_deleted=include_deleted)
    for name, df in reads.items():
        rows, jobs = spark_jobs(f"empty-{include_deleted}-{name}", df.collect)
        assert (rows, jobs) == ([], 0), name
        assert df.schema == want, name


def test_read_plan_round_trips_do_not_grow_with_entry_directories(spark, py4j_calls, tmp_path):
    """Building ``read()`` over 33 entry directories costs about the round
    trips of a read over 2: the paths reach the JVM as one string, not one
    round trip per path."""
    counts = {}
    for n in (2, 33):
        t = LakeTable.create(spark, str(tmp_path / f"t{n}"), COLS, key=["url", "warc_ts"], n_buckets=n)
        t.merge(_batch(spark, range(300)), batch_key=("q", 0))
        assert sum(t.entries_per_bucket().values()) == n
        counts[n] = _fewest(py4j_calls, t.read)
    assert counts[33] <= counts[2] + 3, counts


# (the count with each benchmarked registry leaf built from Column trees,
# the count with its glue built from SQL text); each budget is the second
# plus about 50 %
LEAF_BUDGETS = {
    "lww_dedup": (322, 47),
    "clean_number": (387, 21),
    "token_stats": (126, 47),
    "windowed_metrics": (147, 51),
    "embedding_near_dup": (409, 63),
}


def test_registry_leaf_round_trips_stay_in_budget(spark, py4j_calls, tmp_path):
    """Building each leaf ``perfbench``'s ``query_registry`` times, over
    the benchmark's own seeded tables, stays within its round-trip budget."""
    querydata.write(7, str(tmp_path))
    counts = {
        leaf: _fewest(py4j_calls, lambda: QUERIES[leaf](spark, str(tmp_path)))
        for leaf in LEAF_BUDGETS
    }
    for leaf, n in counts.items():
        assert n <= LEAF_BUDGETS[leaf][1] * 3 // 2, (leaf, n, LEAF_BUDGETS[leaf])


def test_read_of_many_entry_directories_lists_without_a_job(spark, spark_jobs, tmp_path):
    """Compacting 34 entry directories (above Spark's default parallel
    listing threshold of 32) runs one Spark job, the write: the paths are
    listed on the driver."""
    t = LakeTable.create(spark, str(tmp_path / "t"), COLS, key=["url", "warc_ts"], n_buckets=17)
    t.merge(_batch(spark, range(200)), batch_key=("q", 0))
    t.merge(_batch(spark, range(100, 300)), batch_key=("q", 1))
    assert sum(t.entries_per_bucket().values()) == 34
    n, jobs = spark_jobs("compact-34", t.compact)
    assert (n, jobs) == (17, 1)
