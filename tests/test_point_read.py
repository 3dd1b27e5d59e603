"""Point lookups (``read(point=...)``): the driver-side key hash must equal
Spark's ``xxhash64`` and the expression that wrote the buckets, a lookup
must cost exactly one Spark job, and lookups and scans must stay exact
across schema evolution (old files are read with their own schema
version's explicit schema)."""

import datetime as dt
import math
import random

import pytest

from pyspark.sql import functions as F

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.lake.sparkhash import spark_xxhash64
from go_bqloader_spark.lake.table import _DDL_TO_SPARK, _hash_ddl, _point_internal

UTC = dt.timezone.utc
PDT = dt.timezone(dt.timedelta(hours=-7))

# edge values per column type; every list includes None (xxhash64 skips
# nulls, so a null key hashes like the seed alone)
EDGE_VALUES = {
    "string": ["", "a", "https://ex.org/ü?q=ß", "日本語テキスト", "😀" * 9, "x" * 70, None],
    "binary": [b"", b"\x00", bytes(range(256)), bytearray(b"ab\xff"), None],
    "timestamp": [
        dt.datetime(2024, 1, 1),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
        dt.datetime(1900, 1, 1, 0, 0, 1),
        dt.datetime(2024, 3, 10, 12, 30, tzinfo=UTC),
        dt.datetime(2024, 6, 1, 8, 15, 0, 123456, tzinfo=PDT),
        None,
    ],
    "bigint": [0, 1, -1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1, None],
    "int": [0, 1, -1, 2**31 - 1, -(2**31), 12345, None],
    "double": [0.0, -0.0, math.nan, math.inf, -math.inf, 5e-324, 0.1, -1e300, None],
    "float": [0.0, -0.0, math.nan, math.inf, 0.1, 3.4e38, 1e-45, 1e39, -2.5, None],
    "date": [
        dt.date(1970, 1, 1),
        dt.date(1969, 12, 31),
        dt.date(1, 1, 1),
        dt.date(9999, 12, 31),
        dt.datetime(2024, 5, 5, 13, 0),
        None,
    ],
    "boolean": [True, False, None],
}


def _widths(t, m):
    """Each key column's type and the widths it is hashed at: its own and
    its canonical bucket width."""
    types = {f["name"]: f["type"] for f in t.schema_fields(m)}
    return [(k, types[k], w) for k in m["key"] for w in (types[k], _hash_ddl(types[k]))]


def _spark_probes(t, m, df):
    """(bucket or None, xxhash64 of the key) per row of ``df``, from the
    Spark expressions: ``_bucket_expr`` and ``F.xxhash64`` over every key
    column cast to each of its hash widths."""
    has_bucket = m["bucket_col"] in m["key"]
    sel = [F.xxhash64(*(F.col(k).cast(w) for k, _, w in _widths(t, m))).alias("h")]
    if has_bucket:
        sel.append(t._bucket_expr(m).alias("b"))
    return [(r["b"] if has_bucket else None, r["h"]) for r in df.select(*sel).collect()]


def _driver_probes(t, m, key_rows):
    """The same pairs from the driver: ``_point_probe`` and
    ``spark_xxhash64`` over the values' internal forms."""
    out = []
    for row in key_rows:
        point = dict(zip(m["key"], row))
        h = spark_xxhash64(
            (w, _point_internal(k, ddl, point[k])) for k, ddl, w in _widths(t, m)
        )
        out.append((t._point_probe(m, point), h))
    return out


def _assert_probes_match(t, m, key_rows, df):
    want = _spark_probes(t, m, df)
    got = _driver_probes(t, m, key_rows)
    bad = [(row, g, w) for row, g, w in zip(key_rows, got, want) if g != w]
    assert not bad, bad[:5]


def test_edge_values_cover_every_column_type():
    assert set(EDGE_VALUES) == set(_DDL_TO_SPARK)


@pytest.mark.parametrize("ddl", sorted(EDGE_VALUES))
def test_point_probe_matches_spark_hash_exprs(spark, tmp_path, ddl):
    """One key column of each type, also the bucket column: the driver-
    side bucket and ``spark_xxhash64`` (at the column's own width and at
    its canonical bucket width) equal ``_bucket_expr`` and ``F.xxhash64``
    over the same Python values through createDataFrame (which fixes
    what naive datetimes, float keys and dates given as datetimes
    mean)."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", ddl), ("v", "string")], key=["k"],
        bucket_col="k", n_buckets=7,
    )
    m = t.manifest()
    vals = EDGE_VALUES[ddl]
    df = spark.createDataFrame([(v,) for v in vals], f"k {ddl}")
    _assert_probes_match(t, m, [(v,) for v in vals], df)


def _random_value(rnd, ddl):
    if rnd.random() < 0.1:
        return None
    if ddl == "string":
        return "".join(rnd.choice("ab/:.éß日😀") for _ in range(rnd.randint(0, 45)))
    if ddl == "binary":
        return bytes(rnd.randrange(256) for _ in range(rnd.randint(0, 40)))
    if ddl == "timestamp":
        ts = dt.datetime(2000, 1, 1) + dt.timedelta(microseconds=rnd.randint(-10**15, 10**15))
        return ts.replace(tzinfo=UTC) if rnd.random() < 0.3 else ts
    if ddl == "bigint":
        return rnd.randint(-(2**63), 2**63 - 1)
    if ddl == "int":
        return rnd.randint(-(2**31), 2**31 - 1)
    if ddl in ("double", "float"):
        return rnd.choice([rnd.uniform(-1e6, 1e6), -0.0, math.nan, rnd.random()])
    if ddl == "date":
        return dt.date(2000, 1, 1) + dt.timedelta(days=rnd.randint(-200000, 200000))
    return rnd.random() < 0.5


def test_point_probe_matches_spark_on_composite_keys(spark, tmp_path):
    """A key over every column type at once: the per-column hashes chain
    in key order with nulls skipped, exactly like Spark's xxhash64."""
    ddls = sorted(EDGE_VALUES)
    cols = [(f"c_{d}", d) for d in ddls]
    t = LakeTable.create(
        spark, str(tmp_path / "t"), cols, key=[c for c, _ in cols],
        bucket_col="c_string", n_buckets=13,
    )
    m = t.manifest()
    rnd = random.Random(5)
    rows = [tuple(_random_value(rnd, d) for d in ddls) for _ in range(400)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} {d}" for c, d in cols))
    _assert_probes_match(t, m, rows, df)


@pytest.mark.parametrize("old,new,vals", [
    ("int", "bigint", [0, -1, 2**31 - 1, -(2**31), 77, None]),
    ("float", "double", [0.0, math.nan, 0.1, 1e39, -2.5, None]),
])
def test_point_probe_after_key_widening_matches_stored_hashes(
    spark, tmp_path, old, new, vals
):
    """A key widened after its files were written: probing the widened
    column with a stored value gives the bucket the old-width write
    routed it to (bucketing is on the key only where that is hash-safe),
    and the lookup finds every stored key."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("k", old), ("v", "string")], key=["k"],
        bucket_col="k" if old == "int" else "v", n_buckets=5, bloom_bits=2048,
    )
    m_old = t.manifest()
    df = spark.createDataFrame([(v,) for v in vals], f"k {old}")
    want = [b for b, _ in _spark_probes(t, m_old, df)]
    t.merge(
        spark.createDataFrame(
            [("U", i, v, f"v{i}") for i, v in enumerate(vals)],
            f"op string, seq bigint, k {old}, v string",
        ),
        batch_key=("q", 0),
    )
    stored = [r["k"] for r in df.collect()]  # float32-rounded for floats
    t.widen_column("k", new)
    m_new = t.manifest()
    assert [t._point_probe(m_new, {"k": v}) for v in stored] == want
    for i, v in enumerate(stored):
        assert [r["v"] for r in t.read(point={"k": v}).collect()] == [f"v{i}"], v


@pytest.mark.parametrize("ddl,value", [
    ("double", 5),
    ("int", "5"),
    ("int", True),
    ("int", 2**31),
    ("bigint", -(2**63) - 1),
    ("bigint", 1.5),
    ("float", 1),
    ("timestamp", dt.date(2024, 1, 1)),
    ("date", "2024-01-01"),
    ("string", 5),
    ("binary", "ab"),
    ("boolean", 1),
])
def test_point_value_of_wrong_type_names_the_column(spark, tmp_path, ddl, value):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("kk", ddl)],
        key=["url", "kk"], n_buckets=4, bloom_bits=1024,
    )
    with pytest.raises(ValueError, match="kk"):
        t.read(point={"url": "https://a/", "kk": value})


def _batch(spark, rows, ddl):
    return spark.createDataFrame(rows, "op string, seq bigint, " + ddl)


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_point_read_is_one_spark_job(spark, spark_jobs, tmp_path, mode):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int")],
        key=["url"], n_buckets=2, bloom_bits=1024, write_mode=mode,
    )
    ddl = "url string, n int"
    t.merge(_batch(spark, [("U", i, f"u/{i}", i) for i in range(20)], ddl), batch_key=("q", 0))
    t.merge(
        _batch(spark, [("U", 100, "u/3", 300), ("D", 101, "u/4", None)], ddl),
        batch_key=("q", 1),
    )
    if mode == "mor":
        assert t._needs_resolve(t.manifest(), None)  # the top-1 resolve runs
    # an updated key, a tombstoned key, an untouched key, a missing key
    cases = [("u/3", [300]), ("u/4", []), ("u/5", [5]), ("u/x", [])]
    for i, (url, want) in enumerate(cases):
        rows, jobs = spark_jobs(
            f"point-{mode}-{i}", lambda: t.read(point={"url": url}).collect()
        )
        assert [r["n"] for r in rows] == want
        assert jobs == 1, (url, jobs)


def _evolving_table(spark, tmp_path, mode):
    """Four merges around add_column, rename_column and widen_column of a
    key column; returns the table and the expected live rows
    {(url, k): (body, lang, seq)} and the deleted keys."""
    t = LakeTable.create(
        spark, str(tmp_path / mode),
        [("url", "string"), ("k", "int"), ("text", "string")],
        key=["url", "k"], n_buckets=3, bloom_bits=2048, write_mode=mode,
    )
    want, dead = {}, set()
    batches = 0

    def apply(rows, ddl):
        nonlocal batches
        t.merge(_batch(spark, rows, ddl), batch_key=("q", batches))
        batches += 1
        names = ["op", "seq", *(c.split()[0] for c in ddl.split(", "))]
        for r in rows:
            d = dict(zip(names, r))
            key = (d["url"], d["k"])
            if d["op"] == "D":
                want.pop(key, None)
                dead.add(key)
            else:
                want[key] = (d.get("body", d.get("text")), d.get("lang"), d["seq"])
                dead.discard(key)

    apply([("U", i, f"u/{i}", i, f"t{i}") for i in range(12)],
          "url string, k int, text string")
    t.add_column("lang", "string")
    apply([("U", 20, "u/1", 1, "t1b", "en"), ("D", 21, "u/2", 2, None, None),
           ("U", 22, "u/12", 12, "t12", "de")],
          "url string, k int, text string, lang string")
    t.rename_column("text", "body")
    apply([("U", 30, "u/3", 3, "b3", "fr"), ("U", 31, "u/1", 1, "b1", None)],
          "url string, k int, body string, lang string")
    t.widen_column("k", "bigint")
    apply([("U", 40, "u/big", 2**40, "bbig", "en"), ("D", 41, "u/5", 5, None, None),
           ("U", 42, "u/6", 6, "b6", "it")],
          "url string, k bigint, body string, lang string")
    return t, want, dead


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_point_and_scan_exact_across_schema_evolution(spark, tmp_path, mode):
    """Files of four schema versions (before add_column, before the
    rename, before the key widening, after it) read with their own
    explicit schemas reconcile to the current one: scans and point
    lookups equal the oracle."""
    t, want, dead = _evolving_table(spark, tmp_path, mode)
    assert t.manifest()["schema_version"] == 3
    got = {
        (r["url"], r["k"]): (r["body"], r["lang"], r["_seq"]) for r in t.read().collect()
    }
    assert got == want
    assert dict(t.read().dtypes)["k"] == "bigint"
    keys = [("u/0", 0), ("u/1", 1), ("u/3", 3), ("u/11", 11), ("u/12", 12), ("u/big", 2**40)]
    for url, k in keys + sorted(dead) + [("u/none", 7)]:
        rows = t.read(point={"url": url, "k": k}).collect()
        exp = [want[(url, k)]] if (url, k) in want else []
        assert [(r["body"], r["lang"], r["_seq"]) for r in rows] == exp, (url, k)
