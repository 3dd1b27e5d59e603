"""Manifest key-Bloom-filter tests: point-lookup exactness, real file
pruning, survival through compaction/merge, hash stability under the
allowed type widenings, and the guard against the widenings that would
silently false-negative (the xxhash64-width trap from ADVICE r4).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.sources import gen_changes

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def _mk(spark, tmp_path, **kw):
    kw.setdefault("n_buckets", 4)
    kw.setdefault("bloom_bits", 4096)
    return LakeTable.create(spark, str(tmp_path / "t"), PAGE_COLS,
                            key=["url", "warc_ts"], **kw)


def _point_of(row):
    return {"url": row["url"], "warc_ts": row["warc_ts"]}


def test_point_lookup_matches_filtered_read(spark, tmp_path):
    t = _mk(spark, tmp_path)
    changes = gen_changes(spark, n_events=3000, n_urls=400, n_hosts=20, seed=7)
    for i in range(3):
        t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
    full = t.read().collect()
    assert full
    for row in (full[0], full[len(full) // 2], full[-1]):
        got = t.read(point=_point_of(row)).collect()
        assert len(got) == 1 and got[0] == row


def test_point_lookup_of_deleted_key_is_empty(spark, tmp_path):
    t = _mk(spark, tmp_path)
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


def test_bloom_actually_prunes_files(spark, tmp_path):
    # ONE bucket: every key lands in the same bucket, so any pruning must
    # come from the Blooms. Disjoint per-batch key ranges -> a key from
    # batch 0 should prove absent from (most of) the other files.
    t = _mk(spark, tmp_path, n_buckets=1, bloom_bits=16384)
    n_batches = 5
    for i in range(n_batches):
        batch = spark.createDataFrame(
            [("U", i * 100 + j, f"https://ex{i}.org/{j}",
              dt.datetime(2024, 1, 1 + i), None, f"text {i} {j}", "en")
             for j in range(50)],
            "op string, seq bigint, url string, warc_ts timestamp, "
            "html binary, text string, lang string",
        )
        t.merge(batch, batch_key=("b", i))
    m = t.manifest()
    entries = m["buckets"]["0"]
    assert len(entries) == n_batches
    assert all(e.get("bloom") for e in entries)
    probe_row = t.read().filter("url = 'https://ex0.org/7'").collect()[0]
    _, positions = t._point_probe(m, _point_of(probe_row))
    kept = [e for e in entries if t._bloom_may_contain(e, positions)]
    # the true file must survive; with 16k bits / 50 keys the false-
    # positive rate is ~0, so in practice exactly one file survives
    assert 1 <= len(kept) <= 2
    got = t.read(point=_point_of(probe_row)).collect()
    assert len(got) == 1 and got[0]["text"] == "text 0 7"


def test_blooms_survive_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path)
    changes = gen_changes(spark, n_events=2000, n_urls=300, n_hosts=20, seed=5)
    for i in range(3):
        t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
    before = t.read().orderBy("url", "warc_ts").collect()
    assert t.compact() > 0
    m = t.manifest()
    assert all(
        e.get("bloom") for es in m["buckets"].values() for e in es
    )
    after = t.read().orderBy("url", "warc_ts").collect()
    assert before == after
    row = before[3]
    assert t.read(point=_point_of(row)).collect() == [row]


def test_widening_guard_and_hash_stability(spark, tmp_path):
    # bucket on a NON-key column: the widening below must be stopped by
    # the BLOOM guard (not the bucket guard), and point reads exercise
    # the bloom-only pruning fallback (bucket not computable from the key)
    cols = [("k", "int"), ("warc_ts", "timestamp"), ("v", "string")]
    t = LakeTable.create(
        spark, str(tmp_path / "w"), cols, key=["k", "warc_ts"],
        bucket_col="v", n_buckets=2, bloom_bits=2048,
    )
    ts = dt.datetime(2024, 6, 1)
    t.merge(
        spark.createDataFrame(
            [("U", i, i, ts, f"v{i}") for i in range(40)],
            "op string, seq bigint, k int, warc_ts timestamp, v string",
        ),
        batch_key=("b", 0),
    )
    # int -> double on a bloom'd key column would false-negative: rejected
    with pytest.raises(ValueError, match="bloom"):
        t.widen_column("k", "double")
    # int -> bigint is canonical-width invariant: allowed, and points
    # written BEFORE the widening still resolve through the stored Blooms
    t.widen_column("k", "bigint")
    got = t.read(point={"k": 7, "warc_ts": ts}).collect()
    assert len(got) == 1 and got[0]["v"] == "v7"


def test_point_without_bloom_still_works(spark, tmp_path):
    t = _mk(spark, tmp_path, bloom_bits=0)
    changes = gen_changes(spark, n_events=1500, n_urls=200, n_hosts=10, seed=9)
    t.merge(changes, batch_key=("b", 0))
    m = t.manifest()
    assert all(
        "bloom" not in e for es in m["buckets"].values() for e in es
    )
    row = t.read().limit(1).collect()[0]
    assert t.read(point=_point_of(row)).collect() == [row]


def test_point_requires_full_key(spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="full key"):
        t.read(point={"url": "https://x.org/"})


def test_blooms_survive_rebucket(spark, tmp_path):
    t = _mk(spark, tmp_path, n_buckets=2)
    changes = gen_changes(spark, n_events=1500, n_urls=200, n_hosts=10, seed=11)
    t.merge(changes, batch_key=("b", 0))
    row = t.read().limit(1).collect()[0]
    assert t.rebucket(8) > 0
    m = t.manifest()
    assert m["n_buckets"] == 8
    assert all(
        e.get("bloom") for es in m["buckets"].values() for e in es
    )
    assert t.read(point=_point_of(row)).collect() == [row]


def test_bloom_has_no_false_negatives_across_all_keys(spark, tmp_path):
    """THE correctness property: for EVERY stored key, the entry that
    holds it must pass _bloom_may_contain for that key's probe positions —
    false positives only cost extra reads, a false negative would silently
    drop rows from point lookups. Every key is probed through
    _point_probe, the driver-side hash point reads use, and its bucket and
    positions are checked against the manifest bitsets the Spark write
    side recorded."""
    t = _mk(spark, tmp_path, n_buckets=4, bloom_bits=1024)  # small: forces
    # saturated, collision-heavy filters — the worst case for negatives
    changes = gen_changes(spark, n_events=4000, n_urls=500, n_hosts=20, seed=21)
    for i in range(3):
        t.merge(changes.filter(F.pmod("seq", F.lit(3)) == i), batch_key=("b", i))
    m = t.manifest()
    rows = t.read(include_deleted=True).select("url", "warc_ts").collect()
    assert rows
    misses = 0
    for r in rows:
        b, positions = t._point_probe(m, _point_of(r))
        entries = m["buckets"].get(str(b), [])
        if not any(t._bloom_may_contain(e, positions) for e in entries):
            misses += 1
    assert misses == 0
