"""Snapshot-versioned lake table: the engine's Iceberg-compatible sink.

The north-star sink is an Iceberg table (``MERGE INTO`` + snapshot commits).
This container has no Iceberg runtime jar, so the engine ships a
parquet-backed table format with the same guarantees behind the same
interface (SURVEY.md §7 names this exact fallback):

- **Atomic snapshot commits** — every mutation writes new immutable data
  files plus a new JSON manifest, then atomically swaps a ``LATEST`` pointer
  (``os.replace``). Readers see either the old or the new snapshot, never a
  mix. Time travel = read any retained manifest version.
- **Bucket partitioning + pruning** — rows are hash-bucketed on ``url``
  (``pmod(xxhash64(url), n_buckets)``, the Iceberg ``bucket(N, url)``
  transform). Merges touch only the buckets their change batch maps to;
  untouched buckets carry over by manifest reference (the file-pruning
  analog). At 10^10 rows with n_buckets=4096 a batch touching 3 domains
  touches a handful of buckets, not the table.
- **Point lookups without a Spark job** — ``read(point=...)`` hashes the
  key to its bucket on the driver, reads that bucket's files there with
  pyarrow (key columns first, only the row groups whose statistics admit
  the key) and returns the newest version as a local relation, handed to
  the JVM as an arrow stream (``_local_relation``, ``createDataFrame``'s
  last step without its per-call conf lookups). A miss or a tombstone
  reads no row: it returns the empty relation the handle keeps per
  schema, so it costs one collect and no new plan. A Spark scan of the
  bucket is the fallback off a local FS or without pyarrow.
- **Merge-on-read** — merge APPENDS the deduped winners as delta files
  per bucket, never reading the base: write cost O(batch) — this is what
  sustains CDC apply throughput at 10^10 events. Reads resolve
  base+deltas with the same LWW rule; ``compact()`` folds a bucket's
  entries back to a single key-sorted base file, the read-optimized
  layout (run it every N batches or when ``entries_per_bucket`` exceeds
  a threshold).
- **One LWW rule** — a key's newest ``_seq`` wins; on a ``_seq`` tie the
  tombstone wins. The merge's in-batch dedup, the scan window, both
  point paths and the compaction/rebucket rewrite all order by
  (``_seq`` DESC, deleted DESC), so every reader agrees on one snapshot.
- **Exactly-once offset ledger** — the manifest embeds applied
  ``(query_id, batch_id)`` keys; a merge whose batch key is present is a
  no-op. Ledger entry and data land in ONE atomic pointer swap, so
  redelivered ``foreachBatch`` batches (at-least-once) cannot double-apply.
  The reference has no such protection (duplicate event ⇒ duplicate rows,
  ``/root/reference/loader.go:33-60``).
- **Tombstones** — a delete persists as a hidden ``_deleted`` row so a
  late-replayed OLDER insert/update cannot resurrect the key; ``read()``
  hides them; ``compact(expire_tombstones=True)`` drops them once replay
  has passed.
- **Schema evolution** — fields carry stable ids (Iceberg-style); add /
  rename are manifest-only commits; old data files are reconciled on read
  by id→current-name mapping with NULL fill (``_reconcile``, one
  projection for scans and point lookups).
- **Lineage metrics** — every merge embeds per-bucket applied-offset
  watermarks and row counts in its manifest (the Notifier analog,
  ``/root/reference/notifier.go:17-19``), so lineage commits atomically
  with the data and costs no extra Spark job; resumable replay = max
  applied seq per bucket (``resume_watermarks``).

Shuffle budget per merge: the wide payload crosses the memory bus exactly
ONCE (a single exchange on bucket; dedup is a within-partition sort + lag
filter because bucket = f(url) already co-locates every key).
``compact()`` and ``rebucket()`` pay the same single exchange: they read
the raw files, hash rows onto their (new) bucket and keep the first row
per key inside each bucket partition (``_first_per_key``, shared with the
merge), so the rewrite is one exchange where a key-window read plus a
bucket repartition would be two, and every rewritten file comes out
key-sorted. Plain scans still resolve with the key-window. The engine is
bandwidth-frugal by design — at cluster scale network bytes are the merge
bottleneck, and in this sandbox the shared memory bus plays that role
(measured: ~5 GB/s aggregate; see BENCH/BASELINE.md).

Plans are built from SQL text: ``selectExpr``, ``where("<sql>")``,
``repartition(n, "<col>")`` and DDL schema strings. Every ``Column`` a
PySpark builder makes costs py4j round trips per expression node (``F.col``
alone about 13), and on a small table that boundary, not Spark, was most of
a point lookup or a merge; a text expression is parsed in the JVM in one
call. Besides the engine's own fixed words (functions, the change feed's
``op`` and ``seq``, the ``'D'`` op code), only three kinds of text go into
SQL: identifiers quoted by ``_q``
(backticks, an inner backtick doubled, so a column named ``a.b`` or
``x`y`` is one column), column types of the manifest's DDL vocabulary
(``_sql_type``) and integers the engine computed itself (``n_buckets``, a
manifest version). A value that comes from the caller never does: point
keys, zone bounds and ``read_changes_since``'s ``seq`` stay ``F.lit``
columns, so ``_point_eq`` (the Spark point path's key filter) and the zone
filters keep their ``Column`` form.
"""

from __future__ import annotations

import datetime
import json
import os
import struct
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_bqloader_spark.lake.fsio import LocalFS
from go_bqloader_spark.lake.sparkhash import spark_xxhash64

SEQ_COL = "_seq"
DELETED_COL = "_deleted"
_MANIFESTS = "_manifests"
_LINEAGE = "_lineage"
_LATEST = "LATEST"

_DDL_TO_SPARK = {
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp": T.TimestampType(),
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "date": T.DateType(),
    "boolean": T.BooleanType(),
}


def _spark_type(ddl: str) -> T.DataType:
    return _DDL_TO_SPARK[ddl]


def _fields_schema(fields: list[dict[str, Any]]) -> T.StructType:
    return T.StructType([T.StructField(f["name"], _spark_type(f["type"])) for f in fields])


def _q(name: str) -> str:
    """``name`` as a SQL identifier: in backticks, any backtick inside
    doubled. The only way a column name enters SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(ddl: str) -> str:
    """A manifest column type as SQL text; ValueError for a word outside
    the DDL vocabulary (``_DDL_TO_SPARK``), so no other text can pass."""
    if ddl not in _DDL_TO_SPARK:
        raise ValueError(f"unknown column type {ddl!r}; known: {sorted(_DDL_TO_SPARK)}")
    return ddl


def _ddl(fields: list[dict[str, Any]]) -> str:
    """``fields`` as a DDL schema string (``spark.read.schema``)."""
    return ", ".join(f"{_q(f['name'])} {_sql_type(f['type'])}" for f in fields)


def _read_parquet(spark: SparkSession, schema: str, paths: list[str]) -> DataFrame:
    """``spark.read.schema(schema).parquet(*paths)`` in a constant number
    of py4j round trips. py4j hands a Python list to the JVM one element
    per round trip, so a scan of many entry directories paid one per path;
    here the paths cross as one string, joined on NUL (the one character
    no path holds), and are split in the JVM. The classes are named in
    full: a lookup through ``sc._jvm`` costs a round trip per package."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    split = JavaClass("java.util.regex.Pattern", client).compile("\0").splitAsStream
    jpaths = JavaClass("org.apache.spark.api.python.PythonUtils", client).toSeq(
        split("\0".join(paths)).toList()
    )
    reader = spark.read.schema(schema)
    return reader._df(reader._jreader.parquet(jpaths))  # noqa: SLF001


def _local_relation(spark: SparkSession, table, schema: T.StructType) -> DataFrame:
    """The pyarrow ``table`` as a local relation of ``schema``: the
    handoff ``createDataFrame`` ends in (the batches go through a temp
    file, or the encryption server, to ``PythonSQLUtils.toDataFrame``)
    without its per-call conf lookups and timestamp re-localisation.
    Every timestamp this engine writes is a UTC instant, INT96 ones (read
    as naive micros) too, so the cast to the schema's arrow form (UTC
    timestamps) keeps each value. py4j would send the batches as
    ``byte[]`` in base64 text, slower than the file for a 1 MB row."""
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    sc = spark.sparkContext
    client = sc._gateway._gateway_client  # noqa: SLF001
    utils = JavaClass("org.apache.spark.sql.api.python.PythonSQLUtils", client)
    jiter = sc._serialize_to_jvm(  # noqa: SLF001
        table.cast(to_arrow_schema(schema)).to_batches(),
        ArrowStreamSerializer(),
        utils.readArrowStreamFromFile,
        JavaClass("org.apache.spark.sql.api.python.ArrowIteratorServer", client),
    )
    jdf = utils.toDataFrame(jiter, schema.json(), spark._jsparkSession)  # noqa: SLF001
    return DataFrame(jdf, spark)


def _hash_ddl(ddl: str) -> str:
    """The canonical width a bucket column is hashed at. xxhash64 is
    width-sensitive (the hash of 5 as int differs from 5 as bigint), so
    integers always hash as bigint: widening int to bigint then keeps every
    stored bucket valid."""
    return "bigint" if ddl in ("int", "bigint") else ddl


# the Python types a point value may have, per column type: the same
# exact-type rule createDataFrame applies (bool is not an int, int is not
# a float)
_POINT_PY_TYPES = {
    "string": (str,),
    "binary": (bytes, bytearray),
    "timestamp": (datetime.datetime,),
    "bigint": (int,),
    "int": (int,),
    "double": (float,),
    "float": (float,),
    "date": (datetime.date, datetime.datetime),
    "boolean": (bool,),
}
_INT_RANGES = {"int": 31, "bigint": 63}


def _point_internal(col: str, ddl: str, v: Any) -> Any:
    """``v`` as Spark's internal value of ``ddl`` (epoch days / micros,
    float32 precision for floats); ValueError naming ``col`` if ``v``
    cannot be a value of that column."""
    if v is None:
        return None
    if type(v) not in _POINT_PY_TYPES[ddl]:
        raise ValueError(
            f"point value for column {col} ({ddl}) must be "
            f"{' or '.join(t.__name__ for t in _POINT_PY_TYPES[ddl])}, "
            f"got {type(v).__name__} {v!r}"
        )
    if ddl in _INT_RANGES and not -(1 << _INT_RANGES[ddl]) <= v < 1 << _INT_RANGES[ddl]:
        raise ValueError(f"point value for column {col} ({ddl}) out of range: {v}")
    v = _spark_type(ddl).toInternal(v)
    if ddl == "float":
        # the value a FloatType column holds; past float32's range the
        # JVM's narrowing gives an infinity
        try:
            v = struct.unpack("<f", struct.pack("<f", v))[0]
        except OverflowError:
            v = float("inf") if v > 0 else float("-inf")
    return v


def _point_eq(col: str, ddl: str, v: Any) -> F.Column:
    """Spark's ``col <=> v`` for the internal value ``v`` of type ``ddl``
    (``_point_internal``), so the Spark point path compares exactly the
    value the driver hashed and matched. Floating point needs care where
    the filter is pushed down to parquet, whose min/max statistics leave
    NaN out and order -0.0 below 0.0: a NaN is matched by ``isnan`` (not
    pushed down) and a zero as ``IN (0.0, -0.0)``, each of which prunes
    only what it cannot match."""
    c = F.expr(_q(col))
    if v is None:
        return c.isNull()
    if ddl == "timestamp":
        return c == F.timestamp_micros(F.lit(v))
    if ddl == "date":
        return c == F.date_from_unix_date(F.lit(v))
    if ddl in ("float", "double") and v != v:
        return F.isnan(c)
    t = _spark_type(ddl)
    if ddl in ("float", "double") and v == 0:
        return c.isin(F.lit(0.0).cast(t), F.lit(-0.0).cast(t))
    return c == F.lit(v).cast(t)


def _key_rows(t, keys: list[tuple[str, str, Any]]) -> list[int]:
    """The rows of pyarrow table ``t`` whose key columns match the point
    as Spark's ``<=>`` does. ``keys`` = (column, current type, internal
    value) per key column; a file may still hold the int or float its
    current type was widened from, which the exact casts below bring up. NULL
    matches only NULL, NaN matches NaN, -0.0 matches 0.0, timestamps
    compare as epoch micros and dates as epoch days."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for name, ddl, v in keys:
        col = t[name]
        if v is None:
            km = pc.is_null(col)
        else:
            if ddl == "timestamp":
                col = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64())
            elif ddl == "date":
                col = col.cast(pa.int32())
            elif ddl in ("int", "bigint"):
                col = col.cast(pa.int64())
            elif ddl in ("float", "double"):
                col = col.cast(pa.float64())
            elif ddl == "binary":
                v = bytes(v)
            if ddl in ("float", "double") and v != v:
                km = pc.is_nan(col)
            else:
                km = pc.equal(col, pa.scalar(v, col.type))
            km = pc.fill_null(km, False)
        mask = km if mask is None else pc.and_(mask, km)
    return pc.indices_nonzero(mask).to_pylist()


def _group_may_hold(rg, idx: dict[str, int], keys: list[tuple[str, str, Any]]) -> bool:
    """Can parquet row group ``rg`` hold the point, by its key columns'
    statistics? ``idx`` maps a column to its index, ``keys`` is as in
    ``_key_rows``. Only a statistic that proves the point absent drops
    the group: a missing one keeps it, as does an INT96 or non-micros
    timestamp chunk (its raw bounds are not epoch micros); a NaN bound or
    point compares false and keeps it too."""
    for name, ddl, v in keys:
        cc = rg.column(idx[name])
        st = cc.statistics
        if st is None:
            continue
        if v is None:
            if st.has_null_count and st.null_count == 0:
                return False
            continue
        if not st.has_min_max or cc.physical_type == "INT96" or (
            ddl == "timestamp" and "timeUnit=microseconds" not in str(st.logical_type)
        ):
            continue
        if cc.physical_type == "BYTE_ARRAY":
            lo, hi = st.min, st.max
            v = bytes(v) if ddl == "binary" else v
        else:
            lo, hi = st.min_raw, st.max_raw
        if v < lo or v > hi:
            return False
    return True


def _hide_deleted(df: DataFrame) -> DataFrame:
    """``df`` without its tombstones and its ``_deleted`` column; ``df``
    carries ``_deleted`` as ``_reconcile`` reads it, never NULL."""
    return df.where(f"NOT {_q(DELETED_COL)}").drop(DELETED_COL)


# per JVM session (by its UUID): [_no_aqe users in flight, the setting
# the first of them saved]
_aqe_lock = threading.Lock()
_aqe_users: dict[str, list] = {}


@contextmanager
def _no_aqe(spark: SparkSession):
    """Run an action without adaptive query execution, restoring the
    caller's setting after. The merge write is a FIXED-shape plan — an
    explicit bucket repartition AQE can neither coalesce nor re-plan,
    feeding a partitioned write — so AQE's per-query re-optimization is
    pure latency here: measured ~65 ms per micro-batch, 10% of the
    bench merge loop (min-of-3 4.85 s vs 5.38 s). Queries keep AQE on
    (skew-join handling, partition coalescing); only the merge-path
    actions opt out. The toggle is a session conf, so a concurrent
    writer thread may briefly plan its own query without AQE — a
    performance-only effect, never a correctness one.

    ``spark`` must be the session of the frame the action runs: a
    ``foreachBatch`` frame belongs to the stream's own session, whose AQE
    setting is its own. PySpark wraps that session in a new Python object
    per batch, so users are counted per JVM session. Overlapping users of
    one session (two merges on different threads) share one save: the
    first to enter saves the caller's setting, the last to leave restores
    it. Saving per user would let the second save the first's "false" and
    restore it last, leaving AQE off for the session."""
    sid = spark._jsparkSession.sessionUUID()  # noqa: SLF001
    with _aqe_lock:
        state = _aqe_users.get(sid)
        if state is None:
            state = _aqe_users[sid] = [
                0, spark.conf.get("spark.sql.adaptive.enabled", "true")
            ]
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        state[0] += 1
    try:
        yield
    finally:
        with _aqe_lock:
            state[0] -= 1
            if state[0] == 0:
                del _aqe_users[sid]
                spark.conf.set("spark.sql.adaptive.enabled", state[1])


def _first_per_key(
    rows: DataFrame, part: str, key: list[str], order: list[str]
) -> DataFrame:
    """The first row of each key within each ``part`` partition, in
    ``order`` (SQL sort items that keep a key's rows adjacent and put the
    row to keep first, e.g. ``[*key, "`seq` DESC"]``). ``rows`` must
    already be hash-partitioned on ``part`` and every key must live in one
    ``part`` value (bucket = f(bucket column), a key column): the window
    then sorts within partitions and adds no exchange, and a row is a
    key's first when it heads its partition (``lag(true)`` is NULL) or its
    key differs from the previous row's (``lag`` and ``<=>``, so NULL key
    parts compare equal). One ``selectExpr`` and one ``where``; the rows
    keep a ``__first`` column that the caller's next projection drops."""
    w = f"OVER (PARTITION BY {_q(part)} ORDER BY {', '.join(order)})"
    first = " OR ".join(
        [f"lag(true) {w} IS NULL", *(f"NOT (lag({_q(k)}) {w} <=> {_q(k)})" for k in key)]
    )
    return rows.selectExpr("*", f"{first} AS __first").where("__first")


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    manifest CAS. Recoverable: ``merge()`` retries automatically (a delta
    append rebases at the manifest level without rewriting data; one that
    raced a rebucket recomputes against the fresh layout). Maintenance
    rewrites (``compact``/``rebucket``/schema DDL) surface it to the caller
    — their output is derived from the superseded snapshot, so a blind
    re-commit could drop a concurrent merge's rows; re-run the operation
    instead."""


@dataclass
class MergeStats:
    version: int
    skipped: bool
    affected_buckets: list[int]
    rows_upserted: int
    rows_deleted: int
    max_seq: int | None


class LakeTable:
    """A snapshot-versioned, bucket-partitioned upsert table.

    All metadata IO goes through a filesystem seam (:class:`LocalFS` by
    default) so the commit protocol — CAS manifest create + atomic pointer
    publish — ports to object stores (S3 conditional PUT, GCS generation
    match) without touching table logic."""

    # auto-compact a query's ledger once it holds this many batch entries
    LEDGER_HORIZON = 256

    def __init__(self, spark: SparkSession, path: str, fs=None):
        self.spark = spark
        self.path = path
        self.fs = fs or LocalFS()
        # manifests are immutable once committed — cache by version so
        # chain walks (metrics/history) re-read each file at most once
        self._mcache: dict[int, dict[str, Any]] = {}
        # entry-group files are immutable too — cache by name; successive
        # manifests share almost all of their groups
        self._gcache: dict[str, dict[str, Any]] = {}
        # _empty's relations by their SQL text
        self._ecache: dict[str, DataFrame] = {}

    # ------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        columns: list[tuple[str, str]],
        key: list[str] | None = None,
        n_buckets: int = 32,
        bucket_col: str = "url",
        bloom_bits: int = 0,
        max_manifest_groups: int = 64,
        fs=None,
    ) -> "LakeTable":
        """Create an empty table. ``columns`` = [(name, ddl_type), ...].

        Engine columns always appended: ``_seq`` (last applied change seq
        per row — LWW tiebreaker + per-row lineage watermark) and
        ``_deleted`` (tombstone marker).

        ``bloom_bits`` > 0 has the parquet writer build a Bloom filter on
        every KEY column of each file the merge, ``compact`` and
        ``rebucket`` write, capped at ``bloom_bits/8`` bytes per column
        chunk (the default cap grew a 125-row delta file from 10 KB to
        1 MB). Spark's scan tests a pushed-down key equality against them
        per row group — the Spark point path (``read(point=...)``'s
        fallback) and ``read().where(key == ...)`` scans — so it skips the
        row groups of a file whose zone range holds the key but whose
        rows do not: a hash-distributed key inside one bucket spans the
        whole range. The driver's point path reads with pyarrow, which
        reads no parquet Bloom; it prunes row groups by statistics only.
        parquet-mr writes no Bloom for a fully dictionary-encoded chunk;
        its dictionary filter answers the same equality there. The
        filters are built inside the write job, so merges still take
        their stats from the footers with no read-back.
        """
        key = key or ["url", "warc_ts"]
        if bucket_col not in key:
            # every version of a key must hash to one bucket: reads, the
            # merge's in-batch dedup and compaction resolve per bucket
            raise ValueError(f"bucket_col {bucket_col!r} is not a key column {key}")
        fs = fs or LocalFS()
        fs.makedirs(os.path.join(path, _MANIFESTS))
        fields = [
            {"id": i + 1, "name": n, "type": t} for i, (n, t) in enumerate(columns)
        ]
        fields.append({"id": 0, "name": SEQ_COL, "type": "bigint"})
        fields.append({"id": -1, "name": DELETED_COL, "type": "boolean"})
        manifest = {
            # 3 = bucket entries live in immutable per-commit GROUP files
            # (manifest lists them; commit metadata is O(delta))
            "format_version": 3,
            "version": 0,
            "parent": None,
            "schema_version": 0,
            "schemas": {"0": fields},
            "key": key,
            "bucket_col": bucket_col,
            "n_buckets": n_buckets,
            "buckets": {},
            "ledger": {},
            # all batch ids <= ledger_floor[qid] are committed (compacted
            # ledger entries fold into this watermark)
            "ledger_floor": {},
            # per-bucket max applied seq, rolled forward on every merge so
            # resume reads ONE manifest instead of walking the chain
            "watermarks": {},
            # manifest-level zone maps: per data-file min/max of these
            # columns, for planning-time file pruning (reading 10^6
            # parquet FOOTERS to skip files is itself a scan at 100 TB;
            # the manifest answers without touching storage). Restricted
            # to KEY columns: every version of a key shares its key
            # values, so pruning on them can never split a key across
            # kept/skipped files and MoR LWW resolution stays exact.
            "zone_cols": [c for c in key],
            # parquet key Bloom cap in bits (0 = none): see create() doc
            "bloom_bits": int(bloom_bits),
            # bound on live entry-group files per manifest (0 = never
            # coalesce): when a commit's pruned group list exceeds this,
            # the oldest groups fold into ONE consolidated group so
            # manifest resolution stays O(max_groups + entries) on tables
            # that commit far more often than they compact
            "max_manifest_groups": int(max_manifest_groups),
            "summary": {"operation": "create"},
        }
        t = LakeTable(spark, path, fs=fs)
        t._write_manifest(manifest, expected_parent=None)
        return t

    # ---------------------------------------------------------- manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, _MANIFESTS, f"v{version:08d}.json")

    def current_version(self) -> int:
        return int(self.fs.read_text(os.path.join(self.path, _MANIFESTS, _LATEST)).strip())

    def manifest(self, version: int | None = None) -> dict[str, Any]:
        if version is None:
            version = self.current_version()
        m = self._mcache.get(version)
        if m is None:
            m = self._resolve_manifest(
                json.loads(self.fs.read_text(self._manifest_path(version)))
            )
            self._mcache[version] = m
        return m

    # ---------------------------------------------------- entry groups
    # A format-3 manifest does not inline the bucket->entries map: each
    # commit writes ONE immutable group file holding only the entries it
    # ADDED (and the bucket ids it REPLACED), and the manifest lists the
    # group files that are still live. Commit metadata is therefore
    # O(delta + #groups), not O(table): a steady-state MoR append writes
    # one entry per touched bucket instead of re-serializing every
    # accumulated entry (with its zone bounds) on every commit — the same
    # reason Iceberg splits snapshots into manifest files. Readers fold the groups in order (replaces drop earlier
    # entries for a bucket, adds append) and the resolved map is cached
    # per version; group files are cached by name and shared across
    # versions. Compaction/rebucket replace whole buckets, after which
    # fully-shadowed older groups are pruned from the list.

    def _load_group(self, gname: str) -> dict[str, Any]:
        g = self._gcache.get(gname)
        if g is None:
            g = json.loads(
                self.fs.read_text(os.path.join(self.path, _MANIFESTS, gname))
            )
            self._gcache[gname] = g
        return g

    def _fold_groups(self, names: list[str]) -> dict[str, list]:
        """The bucket -> entries map the groups ``names`` fold to, in
        order: a group's replaces drop earlier entries, its adds append."""
        buckets: dict[str, list] = {}
        for gname in names:
            g = self._load_group(gname)
            for b in g.get("replaces", []):
                buckets.pop(str(b), None)
            for b, es in g.get("adds", {}).items():
                buckets.setdefault(b, []).extend(es)
        return buckets

    def _resolve_manifest(self, mj: dict[str, Any]) -> dict[str, Any]:
        if mj.get("format_version") != 3:
            raise ValueError(
                f"manifest v{mj.get('version')} has format_version "
                f"{mj.get('format_version')!r}; only format 3 is readable"
            )
        return dict(mj, buckets=self._fold_groups(mj["groups"]))

    @staticmethod
    def _diff_buckets(
        parent_b: dict[str, list], new_b: dict[str, list]
    ) -> tuple[dict[str, list], list[str]]:
        """adds/replaces such that folding them onto ``parent_b`` yields
        ``new_b``. Appended entries become adds (the common fast path — a
        delta commit); anything else (rewrite, truncation, removal)
        replaces the bucket."""
        adds: dict[str, list] = {}
        replaces: list[str] = []
        for b, es in new_b.items():
            pes = parent_b.get(b)
            if pes is None:
                if es:
                    adds[b] = list(es)  # copy: never alias a cached
                    # manifest's live entry list into the group dict
                    # (ADVICE r5, low — _gcache/_mcache share lists
                    # otherwise and an in-place caller mutation would
                    # silently diverge the caches from disk)
                continue
            if es == pes:
                continue
            if len(es) >= len(pes) and es[: len(pes)] == pes:
                adds[b] = es[len(pes):]
            else:
                replaces.append(b)
                if es:
                    adds[b] = list(es)
        for b, pes in parent_b.items():
            if b not in new_b and pes:
                replaces.append(b)
        return adds, replaces

    def _coalesce_prefix(
        self, groups: list[str], version: int, keep_tail: int
    ) -> list[str]:
        """Fold the oldest groups into ONE consolidated group file so the
        live-group list stays bounded on tables that commit far more often
        than they compact (the Iceberg manifest-merge analog). Metadata
        only — no data files move. The prefix starts the fold, so its net
        effect is pure adds; the newest ``keep_tail`` delta groups are
        kept as-is so steady-state commits keep writing O(delta) files.
        Amortized cost per commit is O(table_entries / (max_groups/2));
        the superseded group files become unreferenced by the NEW manifest
        and are GC'd by expire_snapshots once no retained manifest lists
        them."""
        prefix, tail = groups[:-keep_tail], groups[-keep_tail:]
        buckets = self._fold_groups(prefix)
        if not buckets:
            return tail
        g = {"adds": buckets, "replaces": []}
        gname = f"g{version:08d}_m{uuid.uuid4().hex[:11]}.json"
        self.fs.write_atomic(
            os.path.join(self.path, _MANIFESTS, gname), json.dumps(g)
        )
        self._gcache[gname] = g
        return [gname] + tail

    def _prune_groups(self, groups: list[str]) -> list[str]:
        """Drop groups fully shadowed by later replaces (e.g. everything
        before a whole-table compaction or a rebucket)."""
        covered: set[str] = set()
        keep: list[str] = []
        for gname in reversed(groups):
            g = self._load_group(gname)
            adds = set(g.get("adds", {}))
            reps = {str(b) for b in g.get("replaces", [])}
            if covered and adds <= covered and reps <= covered:
                continue
            keep.append(gname)
            covered |= reps
        return list(reversed(keep))

    def _externalize_buckets(
        self, manifest: dict[str, Any]
    ) -> tuple[dict[str, Any], dict[str, Any]]:
        """Split a manifest built with inline ``buckets`` into (serialized
        form without them + the delta group file written to disk, resolved
        in-memory form)."""
        parent = manifest.get("parent")
        if parent is None:
            parent_buckets: dict[str, list] = {}
            groups: list[str] = []
        else:
            pm = self.manifest(parent)
            parent_buckets, groups = pm["buckets"], list(pm["groups"])
        adds, replaces = self._diff_buckets(parent_buckets, manifest["buckets"])
        if adds or replaces:
            gname = f"g{manifest['version']:08d}_{uuid.uuid4().hex[:12]}.json"
            g = {"adds": adds, "replaces": replaces}
            self.fs.write_atomic(
                os.path.join(self.path, _MANIFESTS, gname), json.dumps(g)
            )
            self._gcache[gname] = g
            groups = self._prune_groups(groups + [gname])
            maxg = int(manifest.get("max_manifest_groups", 64) or 0)
            if maxg and len(groups) > maxg:
                groups = self._coalesce_prefix(
                    groups, manifest["version"], max(maxg // 2, 1)
                )
        serialized = {k: v for k, v in manifest.items() if k != "buckets"}
        serialized["groups"] = groups
        return serialized, dict(manifest, groups=groups)

    def _walk_chain(self):
        """Yield manifests newest-first, stopping at the expiry horizon
        (a parent whose manifest file was expired/GC'd)."""
        v = self.current_version()
        while v is not None:
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                return
            yield m
            v = m["parent"]

    def history(self) -> list[dict[str, Any]]:
        out = [
            {"version": m["version"], "summary": m["summary"]}
            for m in self._walk_chain()
        ]
        return list(reversed(out))

    def _write_manifest(self, manifest: dict[str, Any], expected_parent: int | None) -> None:
        """Commit a manifest: CAS-create the immutable version file (two
        racing writers cannot both create vN+1 — ``create_exclusive`` is
        the linearization point), then atomically publish LATEST.

        A crash BETWEEN the CAS create and the LATEST publish would
        otherwise wedge the table forever (LATEST says vN, every retry
        recomputes vN+1 and loses the CAS). On a CAS loss we therefore
        inspect the existing file: a *valid* manifest whose parent is the
        current LATEST is a completed-but-unpublished commit — roll LATEST
        forward to it (finishing the interrupted writer's publish), then
        report the conflict so the caller re-merges against the repaired
        state. An *invalid/partial* file (a writer died mid-create on a
        filesystem without atomic exclusive-create) is an orphan: delete it
        and retry our own CAS once."""
        latest = os.path.join(self.path, _MANIFESTS, _LATEST)
        if expected_parent is not None:
            current = self.current_version()
            if current != expected_parent:
                raise CommitConflict(
                    f"concurrent commit detected: expected parent {expected_parent}, "
                    f"found {current}"
                )
        mpath = self._manifest_path(manifest["version"])
        serialized, resolved = self._externalize_buckets(manifest)
        for attempt in range(2):
            try:
                self.fs.create_exclusive(mpath, json.dumps(serialized))
                break
            except FileExistsError as e:
                repaired = self._repair_orphan_manifest(mpath, manifest["version"])
                if repaired == "retry" and attempt == 0:
                    continue
                raise CommitConflict(
                    f"concurrent commit detected: manifest v{manifest['version']} "
                    "already exists (another writer committed first"
                    + ("; LATEST rolled forward to it" if repaired == "published" else "")
                    + ")"
                ) from e
        # monotonic publish: a stalled writer waking up after later commits
        # landed must not roll LATEST backward (fsio.publish_if_newer docs)
        self.fs.publish_if_newer(latest, manifest["version"])
        self._mcache[manifest["version"]] = resolved

    def _repair_orphan_manifest(self, mpath: str, version: int) -> str:
        """Handle an existing vN+1 file found at CAS time. Returns
        ``"published"`` (valid unpublished commit — LATEST rolled forward),
        ``"retry"`` (partial orphan deleted — CAS may be retried), or
        ``"committed"`` (already published; nothing to repair)."""
        latest = os.path.join(self.path, _MANIFESTS, _LATEST)
        def _load():
            try:
                m = json.loads(self.fs.read_text(mpath))
                return m, m.get("version") == version and "parent" in m
            except (ValueError, OSError):
                return None, False

        existing, valid = _load()
        if not valid:
            # Re-read before deleting: on a store without atomic
            # exclusive-create, the first read may have caught a concurrent
            # writer's file mid-flight — deleting it would silently drop
            # that writer's committed manifest. Only after the content is
            # invalid on BOTH reads do we treat it as a dead writer's
            # partial orphan. (LocalFS stages+links, so a partial here can
            # only be genuine corruption.)
            existing, valid = _load()
            if not valid:
                self.fs.delete(mpath)
                return "retry"
        try:
            current = self.current_version()
        except FileNotFoundError:
            current = None  # table create itself was interrupted pre-publish
        if (current is None or current < version) and existing["parent"] == current:
            # completed commit that never published: finish its publish.
            # publish_if_newer re-checks under the pointer lock, so if a
            # concurrent writer raced us past `version` between the
            # current_version() read and here, LATEST is left alone
            # instead of being rolled backward (ADVICE r3 TOCTOU). Resolved
            # first: a manifest this reader cannot read is never published.
            resolved = self._resolve_manifest(existing)
            self.fs.publish_if_newer(latest, version)
            self._mcache[version] = resolved
            return "published"
        return "committed"

    # -------------------------------------------------------------- schema
    def schema_fields(self, m: dict[str, Any] | None = None) -> list[dict[str, Any]]:
        m = m or self.manifest()
        return m["schemas"][str(m["schema_version"])]

    def spark_schema(self, m: dict[str, Any] | None = None) -> T.StructType:
        return _fields_schema(self.schema_fields(m))

    def add_column(self, name: str, ddl_type: str) -> None:
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        if name in (SEQ_COL, DELETED_COL) or name.startswith("_"):
            raise ValueError(f"column name {name} is reserved (engine columns)")
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name} exists")
        new_id = max(f["id"] for f in fields) + 1
        # keep the engine columns (_seq, _deleted) last
        fields.insert(len(fields) - 2, {"id": new_id, "name": name, "type": ddl_type})
        self._commit_schema(m, fields, f"add column {name} {ddl_type}")

    # lossless promotions only (Iceberg's type-evolution matrix): every
    # value representable in the old type is exactly representable in the
    # new one, so old files reconcile with a cast and no rewrite
    _WIDENINGS = {
        ("int", "bigint"),
        ("int", "double"),
        ("float", "double"),
        ("date", "timestamp"),
    }

    # bucket-column widenings that leave ``_bucket_expr`` routing intact:
    # the expr hashes integers at a canonical bigint width, so int->bigint
    # is hash-invariant by construction. Everything else is rejected —
    # xxhash64(double) differs from the int's hash, and cast(date as
    # timestamp) is session-timezone-dependent, so either would silently
    # route a widened key's updates into a different bucket than its
    # stored versions (ADVICE r4: duplicate/stale rows on pruned reads).
    _BUCKET_SAFE_WIDENINGS = {("int", "bigint")}

    def widen_column(self, name: str, new_type: str) -> None:
        """Widen a column's type in place (metadata-only — no data files
        rewritten; readers cast old files up on reconcile). Only the
        lossless promotions in ``_WIDENINGS`` are allowed. The BUCKET
        column is stricter: only promotions that provably keep
        ``_bucket_expr`` output unchanged (``_BUCKET_SAFE_WIDENINGS`` —
        int→bigint, which the expr already hashes at bigint width) are
        accepted; any other promotion would re-route existing keys to new
        buckets and corrupt pruned reads / MoR resolution."""
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        for f in fields:
            if f["name"] == name:
                if name in (SEQ_COL, DELETED_COL):
                    raise ValueError(f"cannot widen engine column {name}")
                if (f["type"], new_type) not in self._WIDENINGS:
                    raise ValueError(
                        f"unsupported widening {f['type']} -> {new_type}; "
                        f"allowed: {sorted(self._WIDENINGS)}"
                    )
                if m["bucket_col"] == name and \
                        (f["type"], new_type) not in self._BUCKET_SAFE_WIDENINGS:
                    raise ValueError(
                        f"cannot widen the bucket column {f['type']} -> "
                        f"{new_type}: bucket hashes would change and move "
                        "existing keys to different buckets; only "
                        f"{sorted(self._BUCKET_SAFE_WIDENINGS)} is "
                        "hash-invariant"
                    )
                f["type"] = new_type
                break
        else:
            raise ValueError(f"no column {name}")
        self._commit_schema(m, fields, f"widen {name} -> {new_type}")

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column. Engine columns are immutable; renaming a key or
        bucket column atomically rewrites ``key``/``bucket_col`` in the
        same manifest commit so merges keep resolving (a rename must never
        strand the structural pointers at the old name)."""
        if old in (SEQ_COL, DELETED_COL):
            raise ValueError(f"cannot rename engine column {old}")
        if new in (SEQ_COL, DELETED_COL) or new.startswith("_"):
            raise ValueError(f"column name {new} is reserved (engine columns)")
        m = self.manifest()
        fields = [dict(f) for f in self.schema_fields(m)]
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new} exists")
        for f in fields:
            if f["name"] == old:
                f["name"] = new
                break
        else:
            raise ValueError(f"no column {old}")
        structural = {
            "key": [new if k == old else k for k in m["key"]],
            "bucket_col": new if m["bucket_col"] == old else m["bucket_col"],
            # zone maps follow the rename too: existing entry bounds keyed
            # by the old name simply stop matching (files keep, never
            # mis-prune) and new commits record under the new name
            "zone_cols": [new if c == old else c for c in m.get("zone_cols", [])],
        }
        self._commit_schema(m, fields, f"rename {old} -> {new}", structural)

    def _commit_schema(
        self,
        m: dict[str, Any],
        fields: list[dict],
        op: str,
        structural: dict[str, Any] | None = None,
    ) -> None:
        sv = m["schema_version"] + 1
        m2 = dict(m)
        m2["schemas"] = dict(m["schemas"], **{str(sv): fields})
        m2["schema_version"] = sv
        m2["parent"] = m["version"]
        m2["version"] = m["version"] + 1
        m2["summary"] = {"operation": op}
        m2["metrics"] = []
        m2.update(structural or {})
        self._write_manifest(m2, expected_parent=m["version"])

    # ---------------------------------------------------------------- read
    # ---------------------------------------------------------- zone maps
    def _zone_cols(self, m: dict[str, Any]) -> list[str]:
        """Zone columns that exist with an orderable primitive type."""
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        return [
            c for c in m.get("zone_cols", [])
            if types.get(c) in ("string", "bigint", "int", "double", "timestamp", "date")
        ]

    def _zone_expr(self, m: dict[str, Any], c: str) -> str:
        """Zone column ``c``'s value as manifest bounds hold it, SQL text."""
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        # temporal zone bounds are stored in the manifest as fixed-width
        # ints (epoch micros / epoch days): JSON has no timestamp or date
        # type — a raw datetime.date would crash json.dumps at commit
        # (ADVICE r4) — and ints compare exactly on the read side
        if types[c] == "timestamp":
            return f"unix_micros({_q(c)})"
        if types[c] == "date":
            return f"unix_date({_q(c)})"
        return _q(c)

    def _zone_aggs(self, m: dict[str, Any], zone_cols: list[str]) -> list[str]:
        aggs: list[str] = []
        for c in zone_cols:
            e = self._zone_expr(m, c)
            aggs.append(f"min({e}) AS {_q(f'__zmn_{c}')}")
            aggs.append(f"max({e}) AS {_q(f'__zmx_{c}')}")
        return aggs

    @staticmethod
    def _zones_from_rows(rows, zone_cols: list[str]) -> dict[int, dict[str, list]]:
        out: dict[int, dict[str, list]] = {}
        for r in rows:
            z = {
                c: [r[f"__zmn_{c}"], r[f"__zmx_{c}"]]
                for c in zone_cols
                if r[f"__zmn_{c}"] is not None
            }
            if z:
                out[int(r["b"])] = z
        return out

    # widenings after which a zone bound recorded under the old type is
    # still the current zone expression's value (a date's epoch days are
    # not a timestamp's epoch micros)
    _ZONE_KEEPS_VALUE = {("int", "bigint"), ("int", "double")}

    def _zone_overlaps(
        self, m: dict[str, Any], entry: dict[str, Any], zones: dict[str, tuple]
    ) -> bool:
        """Can this data file contain a row inside every requested range?
        An entry's bounds are recorded under its own schema version, so
        they are found by field id (a renamed column keeps its bounds) and
        used only if the column's type since then kept their value.
        Missing or unusable bounds (entries written without zones,
        all-null columns, a ``date`` widened to ``timestamp``) keep the
        file — pruning is only ever an optimization, never a correctness
        filter."""
        ez = entry.get("zones") or {}
        if not ez:
            return True
        current = {f["name"]: f for f in self.schema_fields(m)}
        written = {f["id"]: f for f in m["schemas"][str(entry["schema_version"])]}
        for c, (lo, hi) in zones.items():
            f = written.get(current[c]["id"])
            if f is None or f["name"] not in ez:
                continue
            if f["type"] != current[c]["type"] and \
                    (f["type"], current[c]["type"]) not in self._ZONE_KEEPS_VALUE:
                continue
            zmn, zmx = ez[f["name"]]
            if (hi is not None and zmn > hi) or (lo is not None and zmx < lo):
                return False
        return True

    def _point_values(self, m: dict[str, Any], point: dict[str, Any]) -> dict[str, Any]:
        """Each key column's point value as Spark's internal value of its
        current type (``_point_internal``); ValueError for a partial key
        or a value of the wrong type. Both point paths and the bucket hash
        compare these values."""
        if sorted(point) != sorted(m["key"]):
            raise ValueError(
                f"point lookup needs the full key {m['key']}; got {sorted(point)}"
            )
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        return {k: _point_internal(k, types[k], point[k]) for k in m["key"]}

    def _point_probe(self, m: dict[str, Any], vals: dict[str, Any]) -> int:
        """The bucket of the point whose internal values are ``vals``
        (``_point_values``), hashed on the driver with no Spark job.
        The value is what ``_bucket_expr`` computes for the key's row: the
        bucket value, in Spark's internal form of its column type, is cast
        to the same canonical hash width and hashed by
        ``spark_xxhash64``, which reproduces Spark's ``xxhash64`` bit for
        bit (a mismatch would read the wrong bucket and miss the key;
        tests/test_point_read.py checks the equivalence)."""
        bc = m["bucket_col"]
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        return spark_xxhash64([(_hash_ddl(types[bc]), vals[bc])]) % m["n_buckets"]

    # key-column widenings a pyarrow cast reproduces exactly (Spark casts
    # a date to a timestamp at the session time zone)
    _ARROW_KEY_WIDENINGS = _WIDENINGS - {("date", "timestamp")}

    def _point_local(
        self, m: dict[str, Any], b: int, vals: dict[str, Any], include_deleted: bool
    ) -> DataFrame | None:
        """``read(point=...)`` answered on the driver with no Spark job:
        pyarrow finds the key's rows in bucket ``b``'s files, and the
        newest by ``_seq`` (the tombstone on a tie) comes back as a local
        relation of its schema version (``_local_relation``, the handoff
        ``createDataFrame`` ends in) under ``_reconcile``'s projection,
        one ``DataFrame`` step that Spark folds into the relation, so
        collecting it runs no job.
        The driver also judges the tombstone, from the ``_deleted`` value
        it ranked the winner by: a miss, or a tombstoned winner read
        without ``include_deleted``, is ``_empty``'s relation, which the
        handle keeps, so it costs one collect and no winner's row is read;
        a hit's projection drops ``_deleted`` unless it was asked
        for. None (``read()`` then takes the Spark path) when
        pyarrow is missing, an entry's directory holds no parquet file, a
        file lacks a column of its schema version, or an entry holds a key
        column under a widening no exact pyarrow cast reproduces (``date``
        to ``timestamp``).

        Per entry only the key columns, ``_seq`` and ``_deleted`` are read,
        from the row groups whose key statistics admit the point
        (``_group_may_hold``; compaction writes key-sorted files, so at
        most one group of a base file survives); then every column of a
        live winner's row group, and its row is sliced out. Keys match as
        Spark's ``<=>`` does, on the internal values ``vals``
        (``_key_rows``). pyarrow reads no parquet Bloom filter, so this
        path prunes by statistics only."""
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        current = {f["name"]: f for f in self.schema_fields(m)}
        # ((has seq, seq, deleted), file, row group, row, schema version)
        best = None
        for e in m["buckets"].get(str(b), []):
            sv = str(e["schema_version"])
            fields = m["schemas"][sv]
            by_id = {f["id"]: f for f in fields}
            keys = []  # (file column, current type, internal point value)
            for k in m["key"]:
                f, ddl = by_id[current[k]["id"]], current[k]["type"]
                if f["type"] != ddl and (f["type"], ddl) not in self._ARROW_KEY_WIDENINGS:
                    return None
                keys.append((f["name"], ddl, vals[k]))
            bdir = os.path.join(self.path, e["path"])
            files = sorted(f for f in self.fs.listdir(bdir) if f.endswith(".parquet"))
            if not files:
                # every written bucket dir holds a file: a missing one is
                # for Spark's scan to report, not to read as a miss
                return None
            for fname in files:
                path = os.path.join(bdir, fname)
                with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
                    md = pf.metadata
                    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                    if any(f["name"] not in idx for f in fields):
                        return None
                    for g in range(md.num_row_groups):
                        if not _group_may_hold(md.row_group(g), idx, keys):
                            continue
                        t = pf.read_row_group(
                            g, columns=[*(n for n, _, _ in keys), SEQ_COL, DELETED_COL]
                        )
                        for i in _key_rows(t, keys):
                            s = t[SEQ_COL][i].as_py()
                            # newest _seq first, NULL last (Spark's desc
                            # order), then the tombstone (the LWW tie rule)
                            rank = (s is not None, s or 0, bool(t[DELETED_COL][i].as_py()))
                            if best is None or rank >= best[0]:
                                best = (rank, path, g, i, sv)
        # the rank's last part is the winner's _deleted (TRUE-or-NULL in
        # delta and rewritten files, false in older ones)
        if best is None or (best[0][2] and not include_deleted):
            return self._empty(m, include_deleted)
        _, path, g, i, sv = best
        fields = m["schemas"][sv]
        with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
            row = pf.read_row_group(g, columns=[f["name"] for f in fields]).slice(i, 1)
        return _local_relation(self.spark, row, _fields_schema(fields)).selectExpr(
            *self._reconcile(m, sv, deleted=include_deleted)
        )

    def _empty(self, m: dict[str, Any], include_deleted: bool) -> DataFrame:
        """An empty relation of ``m``'s current schema, ``_deleted`` only
        when asked for. A ``SELECT ... WHERE false`` plans as an empty
        local relation, so collecting it runs no Spark job (an RDD-backed
        ``createDataFrame([], schema)`` runs one). The relation depends on
        nothing but its SQL text, which fixes the schema and
        ``include_deleted``, so the handle keeps one per text: a point
        miss or tombstone reuses it and pays only the collect, not a
        parse, analysis and optimisation."""
        cols = [
            f"CAST(NULL AS {_sql_type(f['type'])}) AS {_q(f['name'])}"
            for f in self.schema_fields(m)
            if include_deleted or f["name"] != DELETED_COL
        ]
        sql = f"SELECT {', '.join(cols)} WHERE false"
        df = self._ecache.get(sql)
        if df is None:
            df = self._ecache[sql] = self.spark.sql(sql)
        return df

    def _reconcile(self, m: dict[str, Any], sv: str, deleted: bool = True) -> list[str]:
        """The projection, as ``selectExpr`` text, that reads a file of
        schema version ``sv`` as ``m``'s current schema, for scans and
        point reads alike: columns are matched by field id (a renamed
        column reads its old name), a column added since reads NULL, a
        widened one is cast up with Spark's cast (lossless by the
        ``_WIDENINGS`` contract; ``date`` to ``timestamp`` at the session
        time zone), and ``_deleted``'s TRUE-or-NULL coding reads as
        true/false. ``deleted=False`` leaves ``_deleted`` out."""
        file_fields = {f["id"]: f for f in m["schemas"][sv]}
        cols = []
        for f in self.schema_fields(m):
            if f["name"] == DELETED_COL and not deleted:
                continue
            old = file_fields.get(f["id"])
            t = _sql_type(f["type"])
            if old is None:
                c = f"CAST(NULL AS {t})"
            else:
                c = _q(old["name"])
                if old["type"] != f["type"]:
                    c = f"CAST({c} AS {t})"
                if f["name"] == DELETED_COL:
                    # delta files store tombstones as TRUE-or-NULL so footer
                    # null_count gives exact deleted counts; readers always
                    # see the historical false/true
                    c = f"coalesce({c}, false)"
            cols.append(f"{c} AS {_q(f['name'])}")
        return cols

    def _read_raw(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        zones: dict[str, tuple] | None = None,
    ) -> DataFrame | None:
        """Union all data files (schema-reconciled), no LWW resolution."""
        groups: dict[str, list[str]] = {}
        for b, entries in m["buckets"].items():
            if buckets is not None and int(b) not in buckets:
                continue
            for e in entries:
                if zones and not self._zone_overlaps(m, e, zones):
                    continue
                groups.setdefault(str(e["schema_version"]), []).append(
                    os.path.join(self.path, e["path"])
                )
        if not groups:
            return None
        parts = [
            # the manifest records each schema version's file columns, so
            # the read needs no schema-inference job over the footers
            _read_parquet(self.spark, _ddl(m["schemas"][sv]), paths)
            .selectExpr(*self._reconcile(m, sv))
            for sv, paths in groups.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _needs_resolve(self, m: dict[str, Any], buckets: list[int] | None) -> bool:
        return any(
            len(entries) > 1
            for b, entries in m["buckets"].items()
            if buckets is None or int(b) in buckets
        )

    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        zones: dict[str, tuple] | None = None,
        point: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Read a snapshot. Base+delta files are resolved with one LWW
        window (skipped automatically when every bucket has a single base
        entry). Tombstones are hidden unless requested.

        The plan is SQL text (see the module docstring): each schema
        version's files are read with a DDL schema and reconciled by one
        ``selectExpr`` (``_reconcile``), the window is ``row_number() OVER
        (PARTITION BY <key> ORDER BY _seq DESC, _deleted DESC)`` inside a
        ``selectExpr`` (a ``_seq`` tie goes to the tombstone),
        and its winner filter and the tombstone filter are one ``where``.
        Nothing to scan (an empty table, buckets without entries) gives
        ``_empty``'s local relation, which runs no Spark job.

        ``zones={"col": (lo, hi)}`` restricts the read to rows whose KEY
        column falls in [lo, hi] (either bound may be None), pruning data
        files by manifest zone maps BEFORE any storage access — at 10^6
        files this skips both the listing and the parquet footer reads
        that engine-side pushdown would still pay. Timestamp columns take
        epoch-micros ints; date columns take epoch-day ints. Only key
        columns are allowed: all versions of
        a key share its key values, so a file either holds every surviving
        version of an in-range key or none of it, and MoR LWW resolution
        over the kept files is exact. The same range is re-applied as a
        row filter post-resolution, so the result is exactly the filtered
        table, not a superset.

        ``point={key_col: value, ...}`` (full key tuple) is the point
        lookup. The driver hashes the key to its bucket with a pure-Python
        copy of Spark's ``xxhash64`` (see ``_point_probe``; it must match
        ``_bucket_expr`` bit for bit, and tests/test_point_read.py checks
        that it does), so only that ONE bucket's files are opened. On a
        local FS with pyarrow the driver reads them itself
        (``_point_local``): the key columns of the row groups whose
        statistics admit the key, then the newest version's row, handed
        to the JVM as an arrow stream (``_local_relation``) and returned
        as a local relation, so collecting the result runs no Spark job.
        A miss, or a tombstoned winner without ``include_deleted``, reads
        no row and returns the handle's cached empty relation
        (``_empty``).
        Otherwise (a non-local FS seam, no pyarrow, a key column widened
        from ``date``) Spark scans the bucket with the exact key equality
        pushed down to parquet, whose row-group statistics, dictionaries
        and (tables created with ``bloom_bits``) key Blooms skip the row
        groups that cannot hold the key, and resolves the versions left
        with a top-1 by (``_seq``, ``_deleted``) DESC: one Spark job. Both
        paths compare the key as ``<=>`` does on the values' internal forms
        (a float point value is rounded to float32 first).
        A value of the wrong Python type for its column raises ValueError.
        Mutually exclusive with ``buckets``/``zones``."""
        m = self.manifest(version)
        if point is not None:
            if buckets is not None or zones is not None:
                raise ValueError("point is mutually exclusive with buckets/zones")
            vals = self._point_values(m, point)
            b = self._point_probe(m, vals)
            if type(self.fs) is LocalFS:
                local = self._point_local(m, b, vals, include_deleted)
                if local is not None:
                    return local
            buckets = [b]
        if zones:
            zc = set(self._zone_cols(m))
            bad = [c for c in zones if c not in zc]
            if bad:
                raise ValueError(
                    f"zones only prune key columns {sorted(zc)}; got {bad} "
                    "(non-key pruning would split keys across kept/skipped "
                    "files and break LWW resolution)"
                )
        raw = self._read_raw(m, buckets, zones)
        if raw is None:
            return self._empty(m, include_deleted)
        if point is not None:
            types = {f["name"]: f["type"] for f in self.schema_fields(m)}
            for k, v in vals.items():
                raw = raw.filter(_point_eq(k, types[k], v))
        if zones:
            for c, (lo, hi) in zones.items():
                e = F.expr(self._zone_expr(m, c))
                if lo is not None:
                    raw = raw.filter(e >= F.lit(lo))
                if hi is not None:
                    raw = raw.filter(e <= F.lit(hi))
        if self._needs_resolve(m, buckets):
            if point is None:
                keys = ", ".join(_q(k) for k in m["key"])
                order = f"{_q(SEQ_COL)} DESC, {_q(DELETED_COL)} DESC"
                raw = raw.selectExpr(
                    "*", f"row_number() OVER (PARTITION BY {keys} ORDER BY {order}) AS __rn"
                )
                if include_deleted:
                    return raw.where("__rn = 1").drop("__rn")
                return raw.where(f"__rn = 1 AND NOT {_q(DELETED_COL)}").drop("__rn", DELETED_COL)
            # every row left is a version of the one key: the newest
            # wins (the tombstone on a tie), a top-1 with no exchange
            raw = raw.orderBy([SEQ_COL, DELETED_COL], ascending=False).limit(1)
        return raw if include_deleted else _hide_deleted(raw)

    # --------------------------------------------------------------- merge
    def _bucket_expr(self, m: dict[str, Any]) -> str:
        """A row's bucket under ``m``'s layout, SQL text."""
        # integer bucket columns hash at a canonical bigint width:
        # xxhash64 hashes int and bigint to DIFFERENT values (verified:
        # xxhash64(5 as int) != xxhash64(5 as bigint)), so without the
        # cast a widen_column(int->bigint) would re-route every existing
        # key's future updates into a different bucket (ADVICE r4). The
        # cast is free (fits the codegen'd hash call) and makes the
        # int->bigint promotion hash-invariant from table creation.
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        bc = m["bucket_col"]
        col = f"CAST({_q(bc)} AS {_sql_type(_hash_ddl(types[bc]))})"
        return f"CAST(pmod(xxhash64({col}), {int(m['n_buckets'])}) AS int)"

    @staticmethod
    def _committed_in(m: dict[str, Any], query_id: str, batch_id: int) -> bool:
        if batch_id <= m.get("ledger_floor", {}).get(query_id, -1):
            return True
        return str(batch_id) in m["ledger"].get(query_id, {})

    def committed(self, query_id: str, batch_id: int) -> bool:
        return self._committed_in(self.manifest(), query_id, batch_id)

    def _advance_ledger(
        self, m: dict[str, Any], batch_key: tuple[str, int] | None, max_seq
    ) -> tuple[dict, dict]:
        """Record the batch in the ledger; once a query holds more than
        ``LEDGER_HORIZON`` entries, fold the contiguous committed prefix
        into ``ledger_floor`` (membership stays exact — only batch ids
        provably below the floor are dropped), so the ledger is O(horizon)
        instead of O(total batches) at 10^10-event replay scale."""
        ledger = {q: dict(v) for q, v in m["ledger"].items()}
        floors = dict(m.get("ledger_floor", {}))
        if batch_key is not None:
            qid, bid = batch_key
            ledger.setdefault(qid, {})[str(bid)] = max_seq
            entries = ledger[qid]
            if len(entries) > self.LEDGER_HORIZON:
                floor = floors.get(qid, -1)
                while str(floor + 1) in entries:
                    del entries[str(floor + 1)]
                    floor += 1
                floors[qid] = floor
        return ledger, floors

    def _align_changes(self, m: dict[str, Any], changes: DataFrame) -> DataFrame:
        """Normalize change columns to the current schema (NULL-fill absent
        columns — how a pre-evolution replay writes a post-evolution
        schema)."""
        have = set(changes.columns)
        proj = ["op", "seq"]
        for f in self.schema_fields(m):
            if f["name"] in (SEQ_COL, DELETED_COL):
                continue
            if f["name"] in have:
                proj.append(_q(f["name"]))
            else:
                proj.append(f"CAST(NULL AS {_sql_type(f['type'])}) AS {_q(f['name'])}")
        return changes.selectExpr(*proj)

    def merge(
        self,
        changes: DataFrame,
        batch_key: tuple[str, int] | None = None,
        commit_retries: int = 3,
    ) -> MergeStats:
        """Apply a change batch: LWW upsert + delete, exactly-once.

        ``changes`` columns: ``op ('I'|'U'|'D'), seq`` + data columns. The
        batch's winners (newest ``seq`` per key, a delete on a ``seq`` tie)
        are appended as one delta file per touched bucket; the base is
        never read.

        Optimistic concurrency: when another writer commits between this
        merge's snapshot read and its manifest CAS, the merge retries up to
        ``commit_retries`` times. The delta append rebases at the MANIFEST
        level — the written files stay valid under any interleaved
        merge/compact/schema commit (entries pin their schema_version and
        bucket membership is layout-stable), so the retry is a metadata
        re-write, not a Spark job. An append that raced a rebucket
        recomputes against the fresh snapshot. Exactly-once
        holds under contention: every retry re-checks the ledger, and a
        batch_key another writer landed first returns ``skipped`` with the
        stale data dir removed. ``commit_retries=0`` restores fail-fast
        (raises :class:`CommitConflict`)."""
        last: CommitConflict | None = None
        for _ in range(commit_retries + 1):
            try:
                return self._merge_once(changes, batch_key, commit_retries)
            except CommitConflict as e:
                last = e
        raise last

    def _merge_once(
        self,
        changes: DataFrame,
        batch_key: tuple[str, int] | None,
        commit_retries: int,
    ) -> MergeStats:
        m = self.manifest()
        version = m["version"]
        if batch_key is not None and self._committed_in(m, *batch_key):
            return MergeStats(version, True, [], 0, 0, None)

        key = m["key"]
        data_cols = [
            f["name"]
            for f in self.schema_fields(m)
            if f["name"] not in (SEQ_COL, DELETED_COL)
        ]
        changes = self._align_changes(m, changes)

        # Single-payload-shuffle path: repartition by BUCKET (one exchange
        # of the wide rows), sort within partitions by (key, seq desc, delete
        # first), keep the first row of each key group via lag — the LWW
        # winner — then write, already clustered by bucket. The wide
        # html/text payload crosses the memory bus exactly once; dedup
        # needs no second exchange because bucket = f(url) co-locates every
        # key. Hot DOMAINS spread across buckets by url-hash; the sort
        # absorbs hot-KEY skew in O(n log n) with spill (no per-key reducer
        # to pin).
        bucketed = changes.selectExpr(
            "*", f"{self._bucket_expr(m)} AS __b"
        ).repartition(m["n_buckets"], "__b")
        # sort prefix: an 8-byte key hash resolves almost every
        # comparison radix-style — without it the sorter walks the
        # long shared "https://host..." url prefixes byte by byte
        keys = [_q(k) for k in key]
        order = [f"xxhash64({', '.join(keys)})", *keys, "seq DESC", "op = 'D' DESC"]
        winners = _first_per_key(bucketed, "__b", key, order)
        # _deleted is stored TRUE-or-NULL (NULL = live) in delta files:
        # the parquet footer's exact per-chunk null_count then yields
        # the tombstone count without any read-back job (see
        # _footer_stats_zones). _read_raw normalizes NULL back to
        # false, so every reader sees the same values as before.
        out_rows = winners.selectExpr(
            *(_q(c) for c in data_cols),
            f"seq AS {_q(SEQ_COL)}",
            f"CASE WHEN op = 'D' THEN true END AS {_q(DELETED_COL)}",
            "__b AS b",
        )
        return self._finish_merge(m, out_rows, batch_key, commit_retries)

    # zone-col types whose parquet footer min/max are EXACT mirrors of the
    # manifest representation (_zone_expr): int64/int32 raw values,
    # fixed-width temporal raw values (timestamp-micros == unix_micros,
    # date32 days == unix_date), and strings through pyarrow's decoded
    # min/max. parquet-mr orders UTF-8 chunk statistics by unsigned bytes,
    # which is Spark's string order and Python's code-point order, and
    # does not truncate them: it omits min/max for a chunk whose min or
    # max value is over 4 KB, and such a chunk sends the caller to the
    # read-back. (A
    # writer configured to truncate would widen the bounds, never narrow
    # them.) Doubles are excluded (parquet stats omit NaN; Spark's max
    # sorts NaN greatest — the bounds could disagree).
    _FOOTER_ZONE_TYPES = ("bigint", "int", "timestamp", "date", "string")

    def _footer_stats_zones(
        self,
        out_dir: str,
        written: set[int],
        m: dict[str, Any],
        zone_cols: list[str],
    ):
        """Per-bucket lineage stats + zone bounds from parquet FOOTER
        metadata — zero Spark jobs (guide §1.2: the stats read-back was
        ~35% of the MoR merge wall; footers hold the same numbers).

        Requires the TRUE-or-NULL ``_deleted`` coding (tombstones =
        footer ``num_values - null_count``) and ``_FOOTER_ZONE_TYPES``
        zone cols.
        Returns ``(stats_rows, zones)`` or ``None`` when any needed
        statistic is missing — the caller then falls back to the Spark
        read-back, so this is only ever an optimization, never a
        correctness dependency."""
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        if any(types.get(c) not in self._FOOTER_ZONE_TYPES for c in zone_cols):
            return None
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None

        stats_rows: list[tuple] = []
        zones: dict[int, dict[str, list]] = {}
        for b in sorted(written):
            bdir = os.path.join(out_dir, f"b={b}")
            n = deleted = 0
            mx_seq = None
            zb: dict[str, list] = {c: [None, None] for c in zone_cols}
            for fname in self.fs.listdir(bdir):
                if not fname.endswith(".parquet"):
                    continue
                md = pq.read_metadata(os.path.join(bdir, fname))
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                if SEQ_COL not in idx or DELETED_COL not in idx or any(
                    c not in idx for c in zone_cols
                ):
                    return None
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    n += g.num_rows
                    dc = g.column(idx[DELETED_COL])
                    dst = dc.statistics
                    if dst is None or not dst.has_null_count:
                        return None
                    deleted += dc.num_values - dst.null_count
                    sst = g.column(idx[SEQ_COL]).statistics
                    if sst is None or not sst.has_min_max:
                        return None
                    mx_seq = sst.max if mx_seq is None else max(mx_seq, sst.max)
                    for c in zone_cols:
                        cc = g.column(idx[c])
                        zst = cc.statistics
                        if zst is None:
                            return None
                        if not zst.has_min_max:
                            # an all-null chunk has no bounds (Spark's
                            # min/max skip nulls too); a chunk with values
                            # but no min/max would make the bounds too
                            # narrow and zone pruning drop matching files
                            if zst.has_null_count and zst.null_count == cc.num_values:
                                continue
                            return None
                        if types[c] == "string":
                            lo, hi = zst.min, zst.max
                        else:
                            lo, hi = zst.min_raw, zst.max_raw
                        cur = zb[c]
                        cur[0] = lo if cur[0] is None else min(cur[0], lo)
                        cur[1] = hi if cur[1] is None else max(cur[1], hi)
            if n:
                stats_rows.append((b, mx_seq, n - deleted, deleted))
                z = {c: v for c, v in zb.items() if v[0] is not None}
                if z:
                    zones[b] = z
        return stats_rows, zones

    def _new_data_dir(self, m: dict[str, Any], suffix: str) -> str:
        """A fresh table-relative data dir for the commit after ``m``; the
        c%08d prefix is the version it is written FOR (expire_snapshots'
        in-flight guard reads it)."""
        return os.path.join(
            "data", f"c{m['version'] + 1:08d}_{uuid.uuid4().hex[:12]}{suffix}"
        )

    def _written_buckets(self, out_dir: str) -> set[int]:
        return {
            int(d.split("=", 1)[1]) for d in self.fs.listdir(out_dir) if d.startswith("b=")
        }

    @staticmethod
    def _entry(m: dict[str, Any], rel: str, b: int, zones: dict[int, dict]) -> dict[str, Any]:
        entry = {"path": os.path.join(rel, f"b={b}"), "schema_version": m["schema_version"]}
        if b in zones:
            entry["zones"] = zones[b]
        return entry

    def _write(self, m: dict[str, Any], rows: DataFrame, out_dir: str) -> set[int]:
        """Write ``rows`` (cols: data..., _seq, _deleted, b) as one
        directory per bucket and return the buckets written. On a table
        created with ``bloom_bits`` the parquet writer also builds a Bloom
        filter per key column, capped at ``bloom_bits/8`` bytes, inside
        the same job. Runs without AQE on the session of ``rows`` (a
        stream's own inside ``foreachBatch``): the plan is fixed-shape (an
        explicit bucket repartition feeding a partitioned write), so AQE
        could only re-plan it, and would split it into two jobs."""
        w = rows.write.partitionBy("b").mode("overwrite")
        bits = int(m.get("bloom_bits", 0) or 0)
        if bits:
            w = w.option("parquet.bloom.filter.max.bytes", str(max(bits // 8, 1)))
            for k in m["key"]:
                w = w.option(f"parquet.bloom.filter.enabled#{k}", "true")
        with _no_aqe(rows.sparkSession):
            w.parquet(out_dir)
        return self._written_buckets(out_dir)

    def _stats_zones(
        self, m: dict[str, Any], out_dir: str, written: set[int], zone_cols: list[str]
    ) -> tuple[list[tuple], dict[int, dict[str, list]]]:
        """Per-bucket ``(b, max _seq, live rows, tombstones)`` and zone
        bounds of the files just written to ``out_dir``. On a local FS the
        parquet footers answer with no Spark job; a non-local FS seam (an
        object store would add a ranged-GET footer method), no pyarrow or
        footers without the needed statistics take ONE read-back
        (``_readback``) instead."""
        if not written:
            return [], {}
        if type(self.fs) is LocalFS:
            footer = self._footer_stats_zones(out_dir, written, m, zone_cols)
            if footer is not None:
                return footer
        return self._readback(m, out_dir, zone_cols)

    def _readback(
        self, m: dict[str, Any], out_dir: str, zone_cols: list[str]
    ) -> tuple[list[tuple], dict[int, dict[str, list]]]:
        """``_stats_zones`` by a Spark job: one narrow pass over the files
        just written to ``out_dir`` that reads only the columns the
        aggregates use. The read takes ``m``'s schema plus the ``b``
        partition column, so it needs no schema-inference job."""
        aggs = [
            f"max({_q(SEQ_COL)}) AS applied_max_seq",
            "count(1) AS n",
            # coalesce: with the TRUE-or-NULL tombstone coding a
            # delete-free bucket sums NULL, not 0
            f"coalesce(sum(CAST({_q(DELETED_COL)} AS bigint)), 0) AS rows_deleted",
            *self._zone_aggs(m, zone_cols),
        ]
        schema = f"{_ddl(self.schema_fields(m))}, b int"
        agged = (
            self.spark.read.schema(schema)
            .parquet(out_dir)
            .groupBy("b")
            .agg(*(F.expr(a) for a in aggs))
        )
        with _no_aqe(self.spark):
            rows = agged.collect()
        stats = [
            (int(r["b"]), r["applied_max_seq"], r["n"] - r["rows_deleted"], r["rows_deleted"])
            for r in rows
        ]
        return stats, self._zones_from_rows(rows, zone_cols)

    def _finish_merge(
        self,
        m: dict[str, Any],
        out_rows: DataFrame,
        batch_key: tuple[str, int] | None,
        commit_retries: int = 3,
    ) -> MergeStats:
        """Write ``out_rows`` (cols: data..., _seq, _deleted, b) as delta
        files, derive lineage stats, and commit the manifest atomically.

        Stats and zone bounds come from ``_stats_zones``: the parquet
        footers just written, with no second Spark job, or the one
        read-back fallback."""
        rel = self._new_data_dir(m, "")
        out_dir = os.path.join(self.path, rel)

        # string zone bounds are skipped on delta appends: keys are
        # hash-scattered within a bucket, so a delta file's string min/max
        # spans ~the whole key range and never prunes, while computing it
        # forces the read-back to scan the long url strings (measured 33%
        # of the read-back pass). Numeric/temporal bounds stay (batches
        # correlate with event time — they DO prune), and the key-sorted
        # compaction/rebucket rewrites (_rewrite) record full bounds.
        # Readers keep entries with missing bounds by design.
        types = {f["name"]: f["type"] for f in self.schema_fields(m)}
        zone_cols = [c for c in self._zone_cols(m) if types[c] != "string"]
        written = self._write(m, out_rows, out_dir)
        if not written:  # empty batch: no-op commit
            return self._commit_noop(m, batch_key, commit_retries=commit_retries)
        affected = sorted(written)
        stats_rows, zones = self._stats_zones(m, out_dir, written, zone_cols)

        rows_upserted = sum(r[2] for r in stats_rows)
        rows_deleted = sum(r[3] for r in stats_rows)
        max_seq = max((r[1] for r in stats_rows), default=None)
        qid, bid = batch_key if batch_key else ("", -1)

        def _build(base: dict[str, Any]) -> dict[str, Any]:
            new_buckets = {b: list(entries) for b, entries in base["buckets"].items()}
            for b in affected:
                # schema_version pins the snapshot the files were WRITTEN
                # under (m, not base): after a rebase past a concurrent
                # schema commit, readers still resolve these files against
                # the schema their parquet footers actually carry
                new_buckets.setdefault(str(b), []).append(
                    self._entry(m, rel, b, zones)
                )

            ledger, floors = self._advance_ledger(base, batch_key, max_seq)
            # roll the per-bucket applied-seq watermark forward so resume
            # reads exactly ONE manifest (no chain walk)
            wms = dict(base.get("watermarks", {}))
            for b, mx, _up, _dl in stats_rows:
                if mx is not None and (str(b) not in wms or mx > wms[str(b)]):
                    wms[str(b)] = mx
            return dict(
                base,
                version=base["version"] + 1,
                parent=base["version"],
                buckets=new_buckets,
                ledger=ledger,
                ledger_floor=floors,
                watermarks=wms,
                # per-bucket lineage metrics ride in the manifest: no extra
                # Spark job per batch, and they commit atomically WITH the
                # data
                metrics=[
                    [base["version"] + 1, qid, bid, b, mx, up, dl]
                    for (b, mx, up, dl) in stats_rows
                ],
                summary={
                    "operation": "merge",
                    "affected_buckets": len(affected),
                    "rows_upserted": rows_upserted,
                    "rows_deleted": rows_deleted,
                    "max_seq": max_seq,
                },
            )

        # optimistic commit: a CAS loss means another writer landed a
        # version on our parent. A delta append is REBASEABLE — the written
        # files are valid under any interleaved merge/compact/schema
        # commit, so the retry rebuilds only the manifest on the fresh
        # snapshot. A concurrent rebucket is the exception: recompute
        # instead (merge() owns that loop).
        base = m
        for attempt in range(commit_retries + 1):
            m2 = _build(base)
            try:
                self._write_manifest(m2, expected_parent=base["version"])
                return MergeStats(
                    m2["version"], False, affected, rows_upserted, rows_deleted, max_seq
                )
            except CommitConflict:
                fresh = self.manifest()
                # exactly-once under contention: another writer (a restarted
                # driver, a competing replay) may have committed THIS batch
                if batch_key is not None and self._committed_in(fresh, *batch_key):
                    self.fs.delete(out_dir)
                    return MergeStats(fresh["version"], True, [], 0, 0, None)
                # a concurrent rebucket changed the layout: our b= dirs no
                # longer match bucket membership
                layout = ("n_buckets", "bucket_col")
                if attempt >= commit_retries or any(fresh[k] != m[k] for k in layout):
                    self.fs.delete(out_dir)
                    raise
                base = fresh
        raise AssertionError("unreachable")  # loop always returns or raises

    def _commit_noop(
        self,
        m: dict[str, Any],
        batch_key: tuple[str, int] | None,
        commit_retries: int = 3,
    ) -> MergeStats:
        base = m
        for attempt in range(commit_retries + 1):
            ledger, floors = self._advance_ledger(base, batch_key, None)
            m2 = dict(
                base,
                version=base["version"] + 1,
                parent=base["version"],
                ledger=ledger,
                ledger_floor=floors,
                metrics=[],
                summary={"operation": "merge", "affected_buckets": 0, "rows_upserted": 0, "rows_deleted": 0},
            )
            try:
                self._write_manifest(m2, expected_parent=base["version"])
                return MergeStats(m2["version"], False, [], 0, 0, None)
            except CommitConflict:
                fresh = self.manifest()
                if batch_key is not None and self._committed_in(fresh, *batch_key):
                    return MergeStats(fresh["version"], True, [], 0, 0, None)
                if attempt >= commit_retries:
                    raise
                base = fresh
        raise AssertionError("unreachable")

    # ------------------------------------------------------------- compact
    def entries_per_bucket(self) -> dict[int, int]:
        m = self.manifest()
        return {int(b): len(e) for b, e in m["buckets"].items()}

    def compact(
        self,
        buckets: list[int] | None = None,
        expire_tombstones: bool = False,
        min_entries: int = 2,
    ) -> int:
        """Fold a bucket's base+delta entries into one resolved base file.

        Returns the number of buckets compacted. ``expire_tombstones``
        additionally drops tombstone rows — only safe once no replay can
        deliver seqs older than the tombstones (e.g. after a full replay
        or when the offset ledger bounds redelivery).
        """
        m = self.manifest()
        targets = [
            int(b)
            for b, entries in m["buckets"].items()
            if (buckets is None or int(b) in buckets) and len(entries) >= min_entries
        ]
        if not targets:
            return 0
        entries, _ = self._rewrite(m, targets, m, "_compact", expire_tombstones)
        new_buckets = {
            b: list(es) for b, es in m["buckets"].items() if int(b) not in targets
        }
        new_buckets.update(entries)
        m2 = dict(
            m,
            version=m["version"] + 1,
            parent=m["version"],
            buckets=new_buckets,
            metrics=[],
            summary={"operation": "compact", "buckets": len(targets)},
        )
        self._write_manifest(m2, expected_parent=m["version"])
        return len(targets)

    def _rewrite_rows(
        self, m: dict[str, Any], buckets: list[int] | None, m_out: dict[str, Any]
    ) -> DataFrame | None:
        """The LWW-resolved rows (tombstones included) of ``buckets`` (None
        = all) of snapshot ``m``, with their bucket id ``b`` under
        ``m_out``'s layout. One exchange: the raw files are hash-
        partitioned on ``b``, then ``_first_per_key`` keeps each key's
        newest row within its bucket, as the mor merge does. Rows leave
        sorted by (b, key), so every rewritten file is key-sorted and its
        row-group min/max on the key columns are tight (zone reads push
        predicates down and skip row groups, not just buckets) — the
        offline counterpart of the merge's key-HASH sort, like Iceberg's
        sort-order rewrite. None when the buckets hold no files. The rows
        keep ``_first_per_key``'s ``__first`` column."""
        raw = self._read_raw(m, buckets)
        if raw is None:
            return None
        n = m_out["n_buckets"] if buckets is None else len(buckets)
        rows = raw.selectExpr("*", f"{self._bucket_expr(m_out)} AS b").repartition(
            max(n, 1), "b"
        )
        key = m["key"]
        order = [*(_q(k) for k in key), f"{_q(SEQ_COL)} DESC", f"{_q(DELETED_COL)} DESC"]
        return _first_per_key(rows, "b", key, order)

    def _rewrite(
        self,
        m: dict[str, Any],
        buckets: list[int] | None,
        m_out: dict[str, Any],
        suffix: str,
        expire_tombstones: bool = False,
    ) -> tuple[dict[str, list], dict[str, int]]:
        """Write ``_rewrite_rows`` as one file per bucket of ``m_out``'s
        layout. Returns the new ``{bucket: [entry]}`` map and each written
        bucket's max ``_seq``, both from ``_stats_zones``."""
        rel = self._new_data_dir(m, suffix)
        out_dir = os.path.join(self.path, rel)
        rows = self._rewrite_rows(m, buckets, m_out)
        written: set[int] = set()
        if rows is not None:
            if expire_tombstones:
                rows = rows.where(f"NOT {_q(DELETED_COL)}")
            # the merge's TRUE-or-NULL tombstone coding, so footer
            # null counts mean the same in every file
            # (_deleted is the last schema field)
            d = _q(DELETED_COL)
            rows = rows.selectExpr(
                *(_q(f["name"]) for f in self.schema_fields(m) if f["name"] != DELETED_COL),
                f"CASE WHEN {d} THEN true END AS {d}",
                "b",
            )
            written = self._write(m, rows, out_dir)
        stats, zones = self._stats_zones(m, out_dir, written, self._zone_cols(m))
        entries = {str(b): [self._entry(m, rel, b, zones)] for b in sorted(written)}
        return entries, {str(b): mx for b, mx, _up, _dl in stats}

    def rebucket(self, n_buckets: int) -> int:
        """Partition evolution: change the bucket count in ONE atomic
        commit (full rewrite — bucket membership is ``pmod(xxhash64(url),
        n)``, so every row can move). Re-derives the per-bucket watermark
        map under the new bucketing from the same footers (or read-back)
        that give the new zone bounds, so ``resume_watermarks()`` stays
        O(1) and correct across the evolution. Use when the table outgrows its
        bucket count (hot buckets, oversized files) — the CDC analog of
        Iceberg's partition-spec evolution, except eager: this format
        addresses files THROUGH bucket ids, so lazy multi-spec reads
        would put a spec-dispatch on every read; a one-time rewrite keeps
        the read path single-spec."""
        m = self.manifest()
        if n_buckets == m["n_buckets"]:
            return 0
        new_buckets, watermarks = self._rewrite(
            m, None, dict(m, n_buckets=n_buckets), "_rebucket"
        )
        m2 = dict(
            m,
            version=m["version"] + 1,
            parent=m["version"],
            n_buckets=n_buckets,
            buckets=new_buckets,
            watermarks=watermarks,
            metrics=[],
            summary={"operation": "rebucket", "n_buckets": n_buckets},
        )
        self._write_manifest(m2, expected_parent=m["version"])
        return len(new_buckets)

    # -------------------------------------------------------------- metrics
    _METRICS_SCHEMA = (
        "commit_version bigint, query_id string, batch_id bigint, bucket int, "
        "applied_max_seq bigint, rows_upserted bigint, rows_deleted bigint"
    )

    _METRICS_COLS = tuple(c.split()[0] for c in _METRICS_SCHEMA.split(", "))

    def metrics(self) -> DataFrame:
        """Lineage/metrics table: one row per (commit, bucket). Recent rows
        ride in the manifest chain (committed atomically with each merge);
        rows whose manifests were expired live in the spill under
        ``_lineage/``, and the union is the complete history.

        The spill is JSON lines, one object per row with the
        ``_METRICS_SCHEMA`` fields, one ``v<lo>_v<hi>.json`` file per
        expiry (``lo``..``hi`` = the expired versions it holds), read with
        that fixed schema. Spilled rows of versions the chain still holds
        (an expiry that stopped between its spill and its manifest
        deletes) are counted once, from the chain."""
        chain = list(self._walk_chain())
        rows = [tuple(r) for m in chain for r in m.get("metrics", [])]
        df = self.spark.createDataFrame(rows, self._METRICS_SCHEMA)
        spill = os.path.join(self.path, _LINEAGE)
        js = [os.path.join(spill, f) for f in self.fs.listdir(spill) if f.endswith(".json")]
        if js:
            df = (
                self.spark.read.schema(self._METRICS_SCHEMA).json(js)
                .where(f"commit_version < {int(chain[-1]['version'])}")
                .unionByName(df)
            )
        return df

    def resume_watermarks(self) -> dict[int, int]:
        """Per-bucket max applied seq — the resumable-replay watermark.
        O(1): read from the rolled-forward map in the LATEST manifest (no
        chain walk — bounded regardless of commit count)."""
        return {int(b): s for b, s in self.manifest().get("watermarks", {}).items()}

    def read_changes_since(
        self, seq: int, include_deleted: bool = True
    ) -> DataFrame:
        """Downstream-consumer incremental read: current SURVIVOR rows
        whose last applied change is newer than ``seq`` (exclusive) —
        i.e. "what changed since my checkpoint", tombstones included by
        default so consumers can propagate deletes. Resolution runs
        BEFORE the seq filter (a row whose key was later re-updated shows
        its latest state once, not every intermediate version). Buckets
        whose manifest watermark is <= ``seq`` are pruned without any
        storage access — an idle consumer on a mostly-cold table reads
        nothing but the manifest."""
        # ONE manifest read pins both the watermark pruning and the data
        # read to the same snapshot: deriving hot bucket ids from one
        # version and lazily reading another (e.g. after a concurrent
        # rebucket) would prune the new layout with stale ids
        m = self.manifest()
        wms = {int(b): s for b, s in m.get("watermarks", {}).items()}
        hot = [b for b, mx in wms.items() if mx > seq]
        if not hot:
            return self._empty(m, include_deleted)
        out = self.read(
            version=m["version"], buckets=hot, include_deleted=include_deleted
        )
        # seq is the caller's: a literal, never SQL text
        return out.where(F.expr(_q(SEQ_COL)) > F.lit(seq))

    # --------------------------------------------------------------- expiry
    def expire_snapshots(
        self, keep_n: int = 10, orphan_grace_sec: float = 24 * 3600
    ) -> dict[str, int]:
        """Truncate the manifest chain to the newest ``keep_n`` snapshots
        and GC data files no retained snapshot references.

        Expired manifests' lineage metrics are spilled first, so
        ``metrics()`` stays complete: JSON lines written on the driver
        through the FS seam (``write_atomic``, like every other metadata
        write; no Spark job), one ``_lineage/v<lo>_v<hi>.json`` file named
        after the versions it holds. A retry after a crash between the
        spill and the manifest deletes skips versions an existing spill
        file already holds, so no row is spilled twice. Without expiry an
        endless-tail deployment accumulates one manifest + delta files per
        batch forever; with it, metadata and storage are bounded by
        ``keep_n`` + live data. Time travel below the horizon is gone —
        that is the point."""
        chain = list(self._walk_chain())
        if len(chain) <= keep_n:
            # full stats shape even on the short-chain early return
            # (ADVICE r5, low: callers index 'group_files_removed')
            return {"expired": 0, "data_dirs_removed": 0,
                    "group_files_removed": 0}
        retained, expired = chain[:keep_n], chain[keep_n:]

        # the chain's versions are contiguous (parent = version - 1) and
        # each expiry spills the oldest ones, so the spill files cover a
        # prefix of the history: everything up to the highest spilled
        # version is already there
        spill = os.path.join(self.path, _LINEAGE)
        spilled = max(
            (int(f[:-5].rsplit("_v", 1)[1]) for f in self.fs.listdir(spill)
             if f.startswith("v") and f.endswith(".json")),
            default=-1,
        )
        todo = [m for m in expired if m["version"] > spilled]
        rows = [r for m in reversed(todo) for r in m.get("metrics", [])]
        if rows:
            self.fs.makedirs(spill)
            self.fs.write_atomic(
                os.path.join(
                    spill, f"v{todo[-1]['version']:08d}_v{todo[0]['version']:08d}.json"
                ),
                "".join(
                    json.dumps(dict(zip(self._METRICS_COLS, r))) + "\n" for r in rows
                ),
            )

        referenced = {
            e["path"]
            for m in retained
            for entries in m["buckets"].values()
            for e in entries
        }
        for m in expired:
            self.fs.delete(self._manifest_path(m["version"]))
            self._mcache.pop(m["version"], None)

        # entry-group GC: groups referenced by NO retained manifest are
        # dead (expired history, or a CAS-losing writer's orphan) — same
        # age grace as data dirs, since an in-flight commit writes its
        # group before its manifest CAS. Version guard (ADVICE r5,
        # medium), mirroring the data-dir GC's: a group whose g%08d
        # prefix is ABOVE the newest retained version belongs to a
        # CAS-committed-but-unpublished manifest (crashed writer) that
        # _repair_orphan_manifest may still validate and publish —
        # deleting its group would leave LATEST pointing at an
        # unresolvable snapshot.
        now = time.time()
        current = retained[0]["version"]
        refg = {g for m in retained for g in m["groups"]}
        groups_removed = 0
        mdir = os.path.join(self.path, _MANIFESTS)
        for f in self.fs.listdir(mdir):
            if not (f.startswith("g") and f.endswith(".json")) or f in refg:
                continue
            try:
                if int(f[1:9]) > current:
                    continue
            except ValueError:
                pass
            gp = os.path.join(mdir, f)
            try:
                if now - self.fs.mtime(gp) < orphan_grace_sec:
                    continue
            except OSError:
                continue
            self.fs.delete(gp)
            self._gcache.pop(f, None)
            groups_removed += 1

        removed = 0
        now = time.time()
        data_root = os.path.join(self.path, "data")
        for commit_dir in self.fs.listdir(data_root):
            # Commit dirs encode the version they were written FOR
            # (c%08d_...). A dir above the newest retained version belongs
            # to an in-flight concurrent merge that has written parquet but
            # not yet CAS-committed its manifest — GC'ing it would make
            # that writer commit a manifest pointing at deleted paths.
            # Unreferenced dirs AT/BELOW current are usually losers of past
            # CAS races — but a REBASING delta append is in flight with a
            # stale version prefix (it writes under its snapshot's v+1,
            # then commits at whatever version the rebase lands on), so age
            # is the second guard: only dirs older than ``orphan_grace_sec``
            # are treated as abandoned (Iceberg's remove_orphan_files
            # ``older_than`` rule). Keep the grace above the longest merge
            # duration; 0 is for tests/offline tables only.
            try:
                if int(commit_dir[1:9]) > current:
                    continue
            except ValueError:
                pass
            cdir = os.path.join(data_root, commit_dir)
            try:
                if now - self.fs.mtime(cdir) < orphan_grace_sec:
                    continue
            except OSError:
                continue
            for bdir in self.fs.listdir(cdir):
                if not bdir.startswith("b="):
                    continue
                rel = os.path.join("data", commit_dir, bdir)
                if rel not in referenced:
                    self.fs.delete(os.path.join(cdir, bdir))
                    removed += 1
            if not any(d.startswith("b=") for d in self.fs.listdir(cdir)):
                self.fs.delete(cdir)
        return {
            "expired": len(expired),
            "data_dirs_removed": removed,
            "group_files_removed": groups_removed,
        }
