"""Point lookups (``read(point=...)``): the driver-side key hash must equal
Spark's ``xxhash64`` and the expression that wrote the buckets; the
driver path (pyarrow, a local relation, no Spark job) must return what
the Spark fallback returns, across every key type, schema evolution and
time travel; each fallback must stay exact in one Spark job; and lookups
and scans must stay exact across schema evolution (old files are read
with their own schema version's explicit schema)."""

import datetime as dt
import math
import random
import sys
from contextlib import contextmanager

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    """(bucket, xxhash64 of the key) per row of ``df``, from the Spark
    expressions: ``_bucket_expr`` and ``F.xxhash64`` over every key
    column cast to each of its hash widths."""
    sel = [
        F.expr(t._bucket_expr(m)).alias("b"),
        F.xxhash64(*(F.col(k).cast(w) for k, _, w in _widths(t, m))).alias("h"),
    ]
    return [(r["b"], r["h"]) for r in df.select(*sel).collect()]


def _driver_probes(t, m, key_rows):
    """The same pairs from the driver: ``_point_probe`` and
    ``spark_xxhash64`` over the values' internal forms."""
    out = []
    for row in key_rows:
        point = dict(zip(m["key"], row))
        h = spark_xxhash64(
            (w, _point_internal(k, ddl, point[k])) for k, ddl, w in _widths(t, m)
        )
        out.append((t._point_probe(m, t._point_values(m, point)), h))
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
    key with a stored value gives the bucket the old-width write routed
    it to, and the lookup finds every stored key. ``int`` -> ``bigint``
    is hash-safe, so that table buckets on the widened ``k``; ``float``
    -> ``double`` is not, so that table buckets on the unwidened ``g``."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("g", "string"), ("k", old), ("v", "string")],
        key=["g", "k"], bucket_col="k" if old == "int" else "g", n_buckets=5,
        bloom_bits=2048,
    )
    m_old = t.manifest()
    df = spark.createDataFrame(
        [(f"g{i % 2}", v) for i, v in enumerate(vals)], f"g string, k {old}"
    )
    want = [b for b, _ in _spark_probes(t, m_old, df)]
    t.merge(
        spark.createDataFrame(
            [("U", i, f"g{i % 2}", v, f"v{i}") for i, v in enumerate(vals)],
            f"op string, seq bigint, g string, k {old}, v string",
        ),
        batch_key=("q", 0),
    )
    # float32-rounded for floats
    stored = [{"g": r["g"], "k": r["k"]} for r in df.collect()]
    t.widen_column("k", new)
    m_new = t.manifest()
    assert [t._point_probe(m_new, t._point_values(m_new, p)) for p in stored] == want
    for i, p in enumerate(stored):
        assert [r["v"] for r in t.read(point=p).collect()] == [f"v{i}"], p


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


# Tables merge on read, by one merge path; the one-value parameter keeps
# these tests' ids stable.
MERGE_MODES = ["mor"]


@pytest.mark.parametrize("path", ["driver", "fallback"])
@pytest.mark.parametrize("mode", MERGE_MODES)
def test_point_read_spark_jobs(spark, spark_jobs, spark_path, tmp_path, mode, path):
    """The driver path answers from the files with pyarrow and returns a
    local relation: collecting it runs no Spark job, also when the
    winning row lives in a file of an older schema version. The Spark
    fallback scans the bucket in one job."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int")],
        key=["url"], n_buckets=2, bloom_bits=1024,
    )
    ddl = "url string, n int"
    t.merge(_batch(spark, [("U", i, f"u/{i}", i) for i in range(20)], ddl), batch_key=("q", 0))
    t.add_column("lang", "string")
    t.widen_column("n", "bigint")
    t.merge(
        _batch(spark, [("U", 100, "u/3", 300, "en"), ("D", 101, "u/4", None, None)],
               "url string, n bigint, lang string"),
        batch_key=("q", 1),
    )
    assert t._needs_resolve(t.manifest(), None)  # the top-1 resolve runs
    reader = t if path == "driver" else spark_path(t)
    # an updated key, a tombstoned key, an untouched key of the older
    # schema version, a missing key
    cases = [("u/3", [(300, "en")]), ("u/4", []), ("u/5", [(5, None)]), ("u/x", [])]
    for i, (url, want) in enumerate(cases):
        rows, jobs = spark_jobs(
            f"point-{mode}-{path}-{i}",
            lambda: reader.read(point={"url": url}).collect(),
        )
        assert [(r["n"], r["lang"]) for r in rows] == want
        assert jobs == (0 if path == "driver" else 1), (url, jobs)


def _evolving_table(spark, tmp_path):
    """Four merges around add_column, rename_column and widen_column of a
    key column into a new table; returns the table and the expected live
    rows {(url, k): (body, lang, seq)} and the deleted keys."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        [("url", "string"), ("k", "int"), ("text", "string")],
        key=["url", "k"], n_buckets=3, bloom_bits=2048,
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


@pytest.mark.parametrize("mode", MERGE_MODES)
def test_point_and_scan_exact_across_schema_evolution(spark, tmp_path, mode):
    """Files of four schema versions (before add_column, before the
    rename, before the key widening, after it) read with their own
    explicit schemas reconcile to the current one: scans and point
    lookups equal the oracle."""
    t, want, dead = _evolving_table(spark, tmp_path)
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


@pytest.mark.parametrize("odd", ["c d", "a.b", "x`y"])
def test_odd_column_names_round_trip(spark, spark_path, tmp_path, odd):
    """Column names with a space, a dot (one column, not a nested field)
    or a backtick, in every column the table has (key, bucket, payload,
    added and renamed), through create, merges with a delete, read, both
    point paths, add_column, rename_column and compact."""
    url, k, text, lang, body = (f"{c}{odd}" for c in ("url", "k", "text", "lang", "body"))
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [(url, "string"), (k, "int"), (text, "string")],
        key=[url, k], bucket_col=url, n_buckets=3,
    )

    def batch(rows, cols):
        schema = T.StructType(
            [T.StructField("op", T.StringType()), T.StructField("seq", T.LongType())]
            + [T.StructField(c, _DDL_TO_SPARK[d]) for c, d in cols]
        )
        return spark.createDataFrame(rows, schema)

    base = [(url, "string"), (k, "int"), (text, "string")]
    t.merge(batch([("U", i, f"u/{i}", i, f"t{i}") for i in range(8)], base), batch_key=("q", 0))
    t.add_column(lang, "string")
    t.merge(
        batch([("U", 10, "u/1", 1, "t1b", "en"), ("D", 11, "u/2", 2, None, None)],
              [*base, (lang, "string")]),
        batch_key=("q", 1),
    )
    t.rename_column(text, body)
    t.merge(
        batch([("U", 20, "u/3", 3, "b3", "fr")],
              [(url, "string"), (k, "int"), (body, "string"), (lang, "string")]),
        batch_key=("q", 2),
    )
    want = {(f"u/{i}", i): (f"t{i}", None, i) for i in range(8)}
    want[("u/1", 1)] = ("t1b", "en", 10)
    want[("u/3", 3)] = ("b3", "fr", 20)
    del want[("u/2", 2)]

    def check():
        assert t.read().columns == [url, k, body, lang, "_seq"]
        got = {(r[url], r[k]): (r[body], r[lang], r["_seq"]) for r in t.read().collect()}
        assert got == want
        for reader in (t, spark_path(t)):
            for key in [*want, ("u/2", 2), ("u/x", 9)]:
                rows = reader.read(point={url: key[0], k: key[1]}).collect()
                exp = [want[key]] if key in want else []
                assert [(r[body], r[lang], r["_seq"]) for r in rows] == exp, key
            dead = reader.read(point={url: "u/2", k: 2}, include_deleted=True).collect()
            assert [(r["_seq"], r["_deleted"]) for r in dead] == [(11, True)]

    check()
    assert t.compact() > 0
    check()


# ------------------------------------------- driver path against fallback
def _canon(rows):
    """Rows as comparable tuples: floats by repr (NaN equals NaN, -0.0
    differs from 0.0), binaries as bytes."""
    return [
        tuple(
            (k, repr(v) if isinstance(v, float) else bytes(v) if isinstance(v, bytearray) else v)
            for k, v in r.items()
        )
        for r in rows
    ]


def _key_id(types, key, point):
    """A point's identity under ``<=>``: internal values, NaN as one
    value, -0.0 as 0.0."""
    out = []
    for k in key:
        v = _point_internal(k, types[k], point[k])
        if isinstance(v, float):
            v = "nan" if v != v else v + 0.0
        out.append(bytes(v) if isinstance(v, bytearray) else v)
    return tuple(out)


def _assert_paths_agree(t, fb, version=None, every_probe=True):
    """Every stored key (tombstones included): the driver path, the
    fallback and the fallback's resolved scan agree. With
    ``every_probe``, also with ``include_deleted=False``, with each key's
    float zeros' sign flipped, and for a miss next to each key. Returns
    the number of stored keys."""
    m = t.manifest(version)
    types = {f["name"]: f["type"] for f in t.schema_fields(m)}
    key = m["key"]
    scan = [r.asDict() for r in fb.read(version=version, include_deleted=True).collect()]
    assert any(r["_deleted"] for r in scan) and any(not r["_deleted"] for r in scan)
    stored = {_key_id(types, key, r): r for r in scan}
    assert len(stored) == len(scan)
    probes = []  # (point, check include_deleted=False too)
    for r in scan:
        p = {k: r[k] for k in key}
        probes.append((p, every_probe))
        if not every_probe:
            continue
        if any(isinstance(v, float) and v == 0 for v in p.values()):
            flipped = {k: -v if isinstance(v, float) and v == 0 else v for k, v in p.items()}
            probes.append((flipped, False))
        probes.append((dict(p, u=p["u"] + "~"), False))
    dtypes = None
    for p, live_too in probes:
        want = stored.get(_key_id(types, key, p))
        for inc in (True, False) if live_too else (True,):
            if want is None or (not inc and want["_deleted"]):
                exp = []
            else:
                exp = [{k: v for k, v in want.items() if inc or k != "_deleted"}]
            got = t.read(version=version, point=p, include_deleted=inc)
            ref = fb.read(version=version, point=p, include_deleted=inc)
            got_rows = [r.asDict() for r in got.collect()]
            assert _canon(got_rows) == _canon(exp), (p, inc, got_rows, exp)
            assert _canon([r.asDict() for r in ref.collect()]) == _canon(exp), (p, inc)
            if inc and dtypes is None:
                dtypes = got.dtypes
                assert dtypes == ref.dtypes
    return len(scan)


KEY_DDLS = sorted(EDGE_VALUES)
# key columns widened between deltas
WIDENED = [("wi_b", "int", "bigint"), ("wi_d", "int", "double"), ("wf_d", "float", "double")]


def test_driver_point_path_equals_fallback(spark, spark_path, tmp_path):
    """A key over all 9 column types plus three widened key columns, with
    NULL key parts, NaN and -0.0/0.0 among the values, through add_column,
    rename_column and the int->bigint, int->double and float->double
    key widenings between deltas, tombstones, a re-insert and a late
    older update: the driver path returns what the Spark fallback does
    for every stored key, every tombstone and misses, at the current
    version and at an older one (time travel)."""
    cols = [("u", "string"), *((f"c_{d}", d) for d in KEY_DDLS),
            *((c, old) for c, old, _ in WIDENED)]
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [*cols, ("n", "int"), ("f", "float")],
        key=[c for c, _ in cols], bucket_col="u", n_buckets=3, bloom_bits=1024,
    )
    fb = spark_path(t)

    def values(j):
        vals = [f"u{j % 4}"]
        for i, d in enumerate(KEY_DDLS):
            vals.append(EDGE_VALUES[d][(j + i) % len(EDGE_VALUES[d])])
        vals.append(EDGE_VALUES["int"][j % 7])
        vals.append(EDGE_VALUES["int"][(j + 3) % 7])
        vals.append(EDGE_VALUES["float"][(j + 1) % 10])
        return vals

    def ddl(types):
        return "op string, seq bigint, " + ", ".join(f"{c} {ty}" for c, ty in types)

    t.merge(
        spark.createDataFrame(
            [("U", 10 + j, *values(j), j, j + 0.5) for j in range(12)],
            ddl([*cols, ("n", "int"), ("f", "float")]),
        ),
        batch_key=("q", 0),
    )
    t.add_column("lang", "string")
    t.merge(
        spark.createDataFrame(
            [("U", 100 + j, *values(j), 1000 + j, 0.25, "en") for j in (0, 5, 9, 12, 13)]
            + [("D", 100 + j, *values(j), None, None, None) for j in (2, 7, 10)]
            # a late older update: loses to the stored seq 21
            + [("U", 1, *values(11), -1, -1.0, "late")],
            ddl([*cols, ("n", "int"), ("f", "float"), ("lang", "string")]),
        ),
        batch_key=("q", 1),
    )
    v_mid = t.current_version()
    t.rename_column("n", "num")
    for c, _, new in WIDENED:
        t.widen_column(c, new)
    # the stored keys (tombstones too) in their widened types, by the j
    # that wrote them (seq 10 + j, then 100 + j)
    keys = {
        r["_seq"] % 100 - (10 if r["_seq"] < 100 else 0): [r[c] for c, _ in cols]
        for r in t.read(include_deleted=True).collect()
    }
    wcols = [*cols[:-3], *((c, new) for c, _, new in WIDENED)]
    t.merge(
        spark.createDataFrame(
            [("U", 200, *keys[5], 2005, 0.75, "de"),
             ("D", 201, *keys[12], None, None, None),
             # re-inserts the key tombstoned at seq 102
             ("U", 202, *keys[2], 2002, 1.5, "re")],
            ddl([*wcols, ("num", "int"), ("f", "float"), ("lang", "string")]),
        ),
        batch_key=("q", 2),
    )
    assert t._needs_resolve(t.manifest(), None)
    assert _assert_paths_agree(t, fb) == 14
    assert _assert_paths_agree(t, fb, version=v_mid, every_probe=False) == 14


@pytest.mark.parametrize("case", ["no-pyarrow", "date-key-widened"])
def test_point_fallbacks_stay_exact(spark, spark_jobs, tmp_path, monkeypatch, case):
    """Where the driver path steps aside — pyarrow.parquet missing, a
    ``date`` key column widened to ``timestamp`` (Spark's cast depends on
    the session time zone) — the Spark scan answers every stored key
    (tombstones included) and a miss exactly, in one job each."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("u", "string"), ("d", "date"), ("v", "string")],
        key=["u", "d"], bucket_col="u", n_buckets=2,
    )
    day = dt.date(2024, 1, 1)
    rows = [("U", j, f"u{j % 3}", day + dt.timedelta(days=j), f"v{j}") for j in range(8)]
    t.merge(_batch(spark, rows, "u string, d date, v string"), batch_key=("q", 0))
    dtype = "date"
    if case == "date-key-widened":
        t.widen_column("d", "timestamp")
        dtype = "timestamp"
    later = [("U", 20, "u1", day + dt.timedelta(days=1), "v1b"),
             ("D", 21, "u2", day + dt.timedelta(days=2), None),
             ("U", 22, "u0", day + dt.timedelta(days=30), "v30")]
    if dtype == "timestamp":
        later = [(*r[:3], dt.datetime.combine(r[3], dt.time()), r[4]) for r in later]
    t.merge(_batch(spark, later, f"u string, d {dtype}, v string"), batch_key=("q", 1))
    if case == "no-pyarrow":
        monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
    scan = t.read(include_deleted=True).collect()
    assert len(scan) == 9 and sum(r["_deleted"] for r in scan) == 1
    probes = [({"u": r["u"], "d": r["d"]}, [r]) for r in scan]
    probes.append(({"u": "u0", "d": scan[0]["d"] + dt.timedelta(days=400)}, []))
    for i, (p, want) in enumerate(probes):
        got, jobs = spark_jobs(
            f"fallback-{case}-{i}",
            lambda: t.read(point=p, include_deleted=True).collect(),
        )
        assert got == want and jobs == 1, (p, got, jobs)


def test_point_driver_path_reads_int96_timestamps(spark, spark_jobs, spark_path, tmp_path):
    """Files written with INT96 timestamps (no statistics; pyarrow reads
    them as naive micros): the driver path matches every key exactly, as
    the Spark scan does."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("ts", "timestamp"), ("v", "int")],
        key=["url", "ts"], n_buckets=2,
    )
    stamps = [v for v in EDGE_VALUES["timestamp"] if v is None or v.year >= 1969]
    rows = [("U", j, f"u{j % 2}", ts, j) for j, ts in enumerate(stamps)]
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        t.merge(_batch(spark, rows, "url string, ts timestamp, v int"), batch_key=("q", 0))
    finally:
        spark.conf.set(key, prev)
    files = list((tmp_path / "t" / "data").glob("*/b=*/*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.schema.column(md.schema.names.index("ts")).physical_type == "INT96"
    # INT96 values are UTC instants; outside a UTC session a naive read
    # would be taken as local time
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        scan = t.read().collect()
        assert len(scan) == len(stamps)
        for i, r in enumerate(scan):
            p = {"url": r["url"], "ts": r["ts"]}
            got, jobs = spark_jobs(f"int96-{i}", lambda: t.read(point=p).collect())
            assert got == [r] == spark_path(t).read(point=p).collect() and jobs == 0, p
            if r["ts"] is not None:
                near = dict(p, ts=r["ts"] + dt.timedelta(microseconds=1))
                assert t.read(point=near).collect() == []
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


@contextmanager
def _hadoop_conf(spark, key, value):
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    prev = conf.get(key)
    conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


def test_point_driver_path_reads_one_row_group_of_a_sorted_file(spark, tmp_path, monkeypatch):
    """A compacted (key-sorted) file written in many small row groups: the
    driver path reads the key columns (with ``_seq`` and ``_deleted``, the
    LWW rank) of only the row group whose url statistics admit the point,
    then every column of that group; a miss
    between two stored urls reads at most one group's key columns."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int"), ("text", "string")],
        key=["url"], n_buckets=1,
    )
    ddl = "url string, n int, text string"
    with _hadoop_conf(spark, "parquet.block.size", "2048"):
        for i in range(2):
            t.merge(
                _batch(spark, [("U", 10 * j + i, f"u/{j:05d}", j, "x" * 40)
                               for j in range(i, 1200, 2)], ddl),
                batch_key=("q", i),
            )
        assert t.compact() == 1
    (entry,) = t.manifest()["buckets"]["0"]
    (f,) = (tmp_path / "t" / entry["path"]).glob("*.parquet")
    assert pq.ParquetFile(f).metadata.num_row_groups >= 4
    reads = []
    orig = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        reads.append((i, tuple(columns)))
        return orig(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    rows = t.read(point={"url": "u/00601"}).collect()
    assert [(r["n"], r["_seq"]) for r in rows] == [(601, 6011)]
    assert len(reads) == 2, reads
    (g, keys), (g2, every) = reads
    assert g == g2 and keys == ("url", "_seq", "_deleted") and len(every) == 5
    reads.clear()
    assert t.read(point={"url": "u/00601~"}).collect() == []
    assert len(reads) <= 1 and all(cols == ("url", "_seq", "_deleted") for _, cols in reads)


def test_point_miss_has_the_current_schema_across_evolution(spark, spark_jobs, tmp_path):
    """On one handle, a miss read before and after add_column,
    rename_column and widen_column, with and without ``include_deleted``,
    returns no rows in the schema current at that read, and collecting it
    runs no Spark job: the empty relation the handle keeps follows the
    schema."""
    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int")], key=["url"],
        n_buckets=1,
    )
    t.merge(_batch(spark, [("U", 1, "u/1", 1)], "url string, n int"), batch_key=("q", 0))
    steps = {
        "created": lambda: None,
        "added": lambda: t.add_column("lang", "string"),
        "renamed": lambda: t.rename_column("n", "num"),
        "widened": lambda: t.widen_column("num", "bigint"),
    }
    for name, step in steps.items():
        step()
        for inc in (True, False):
            want = T.StructType(
                [f for f in t.spark_schema().fields if inc or f.name != "_deleted"]
            )
            df = t.read(point={"url": "u/x"}, include_deleted=inc)
            rows, jobs = spark_jobs(f"miss-{name}-{inc}", df.collect)
            assert (rows, jobs) == ([], 0), (name, inc)
            assert df.schema == want, (name, inc)
        assert [r["url"] for r in t.read(point={"url": "u/1"}).collect()] == ["u/1"]


def test_point_tombstone_is_judged_before_its_row_is_read(spark, tmp_path, monkeypatch):
    """A tombstoned key read without ``include_deleted`` returns no rows
    after reading only key columns (with ``_seq`` and ``_deleted``, the
    rank that already says the winner is a tombstone); with
    ``include_deleted`` the tombstone's row is read once and returned."""
    import pyarrow.parquet as pq

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int"), ("text", "string")],
        key=["url"], n_buckets=1,
    )
    ddl = "url string, n int, text string"
    t.merge(_batch(spark, [("U", i, f"u/{i}", i, f"t{i}") for i in range(5)], ddl),
            batch_key=("q", 0))
    t.merge(_batch(spark, [("D", 10, "u/2", None, None)], ddl), batch_key=("q", 1))
    reads = []
    orig = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        reads.append(tuple(columns))
        return orig(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    keys = ("url", "_seq", "_deleted")
    assert t.read(point={"url": "u/2"}).collect() == []
    assert reads and set(reads) == {keys}, reads
    reads.clear()
    rows = t.read(point={"url": "u/2"}, include_deleted=True).collect()
    assert [(r["url"], r["n"], r["_seq"], r["_deleted"]) for r in rows] == [
        ("u/2", None, 10, True)
    ]
    assert [c for c in reads if c != keys] == [("url", "n", "text", "_seq", "_deleted")]


def test_point_hit_handoff_equals_fallback_outside_utc(spark, spark_jobs, spark_path, tmp_path):
    """A hit's row reaches the JVM as an arrow stream (``_local_relation``)
    and must read as the Spark fallback's row does under a non-UTC session
    time zone: timestamp, date, float and double key parts (NaN and -0.0
    among them), binary and NULL payload columns and a 4 MiB ``html``.
    No driver-path hit runs a Spark job."""
    cols = [("u", "string"), ("ts", "timestamp"), ("d", "date"), ("f", "float"),
            ("x", "double"), ("html", "binary"), ("n", "int"), ("s", "string")]
    key = ["u", "ts", "d", "f", "x"]
    fs = [math.nan, -0.0, 0.1, math.inf, None, -2.5, 1e-45, 3.4e38]
    xs = [-0.0, math.nan, 5e-324, -1e300, None, 0.1, math.inf, -math.inf]
    big = bytes(range(256)) * (1 << 14)
    html = [big, None, b"", b"\x00\xff"]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        t = LakeTable.create(spark, str(tmp_path / "t"), cols, key=key, bucket_col="u",
                             n_buckets=2)
        ts, ds = EDGE_VALUES["timestamp"], EDGE_VALUES["date"]
        rows = [
            ("U", j, f"u{j % 2}", ts[j % len(ts)], ds[j % len(ds)], fs[j], xs[j],
             html[j % len(html)], None if j % 2 else j, None if j % 3 == 0 else f"s{j}")
            for j in range(len(fs))
        ]
        t.merge(_batch(spark, rows, ", ".join(f"{c} {d}" for c, d in cols)),
                batch_key=("q", 0))
        fb = spark_path(t)
        scan = fb.read().collect()
        assert len(scan) == len(rows) and any(r["html"] == big for r in scan)
        for i, r in enumerate(scan):
            p = {k: r[k] for k in key}
            df = t.read(point=p)
            got, jobs = spark_jobs(f"handoff-{i}", df.collect)
            ref = fb.read(point=p)
            assert jobs == 0 and df.dtypes == ref.dtypes, p
            want = _canon([r.asDict()])
            assert _canon([g.asDict() for g in got]) == want, p
            assert _canon([g.asDict() for g in ref.collect()]) == want, p
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_point_read_of_a_missing_bucket_dir_raises(spark, tmp_path):
    """An entry whose directory is gone is reported by the Spark scan, as
    before, and never read as a miss."""
    import shutil

    t = LakeTable.create(
        spark, str(tmp_path / "t"), [("url", "string"), ("n", "int")], key=["url"],
        n_buckets=1,
    )
    t.merge(_batch(spark, [("U", 1, "u/1", 1)], "url string, n int"), batch_key=("q", 0))
    (entry,) = t.manifest()["buckets"]["0"]
    shutil.rmtree(tmp_path / "t" / entry["path"])
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        t.read(point={"url": "u/1"}).collect()
