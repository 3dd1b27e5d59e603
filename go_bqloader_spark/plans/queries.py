"""Driver-contract query registry: Spark implementation + DuckDB oracle.

Every operator the engine claims (SURVEY.md §2 + the training-data-pipeline
ops) is exposed here as a named query over the shared test tables so the
driver can verify it row-for-row against ANSI SQL. Conventions:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- money/statistics are emitted as integer-scaled fixed-point BIGINTs
  (``_cents``/``_e4``/``_e6`` suffixes): per-row ``floor(x * scale)`` in
  IEEE double (bit-identical on both engines) summed as exact integers.
  DECIMAL outputs are avoided entirely — the driver's hasher stringifies
  values after a pandas conversion, and DuckDB decimals become float64
  there (``Decimal('20706.60')`` vs ``20706.6`` — measured round-1 failure
  mode), so any decimal column is a latent hash mismatch;
- ratios use pure integer division (``DIV`` / ``//``) so no float ever
  reaches the output;
- queries are plans built from SQL text — no collect, no Python in the row
  path. Each leaf's glue is ``load`` (declared schema), then ``selectExpr``
  / ``where``, ``groupBy(...)`` with ``F.expr`` aggregates (``_agg``),
  window functions inside ``selectExpr``, and ``hint("broadcast")`` /
  ``repartition(n, "col")`` with string names; Python values enter the
  text only through ``sql_str``. No ``Column`` trees: under PySpark 4.1
  each ``Column`` call (``F.col``, ``.alias``, ``==``, ``F.when``) sends
  11–13 py4j round trips to capture its Python call site, so a leaf built
  from them spent 126–409 round trips from Python before Spark planned
  it; the same leaf from text costs a few dozen. The operator modules a
  leaf only calls (``similarity``, ``dedup``, ``textpipeline``,
  ``urlnorm``) keep their own form;
- every table is read with its declared schema (``TABLES``), as the lake
  reads with its manifest's: building a scan runs no schema-inference job.

CDC-shaped queries treat the ``events`` table as a change log:
``event_id`` is the total order (seq), ``user_id`` the change key, and
``event_type`` maps to op: signup→I, error→D, else U — mirroring the
engine's binlog semantics (SURVEY.md §2.4) in an oracle-checkable form.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData

from go_bqloader_spark.functions.transforms import (
    clean_number,
    normalize_date,
    normalize_date_compact,
    normalize_date_kanji,
    normalize_timestamp,
    parse_era_date,
    payment_month_from_path,
    sql_str,
)
from go_bqloader_spark.operators.merge import lww_dedup, salted_lww_dedup
from go_bqloader_spark.operators.similarity import lsh_topk

# name -> DDL of every input table, with the types Spark infers from the
# files (parquet ``timestamp[us]`` without a zone is ``timestamp_ntz``)
TABLES = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": (
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double"
    ),
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of ``sf_dir``, read with its declared schema: building
    the read runs no schema-inference job. A column missing from the file
    would read as NULL, so ``tests/test_queries.py`` checks every
    declaration against the files."""
    return spark.read.schema(TABLES[name]).parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, *key: str) -> DataFrame:
    """Explicit-N repartition right after a scan (guide §2.5, input skew).

    The driver-generated test tables are single-file, single-row-group
    parquet, so every scan is ONE input split and a compute-heavy map
    phase (tokenize/explode/md5/regex) runs serially regardless of core
    count — at sf1.0 that single task was the dominant cost of most text
    queries. The repartition shuffles only the narrow scanned bytes
    (≤ a few MB here) and buys full map parallelism. numPartitions is
    explicit and derived from the session's parallelism (cluster-
    proportional, not a local[32] constant): AQE coalesces small-byte
    shuffles back to one partition otherwise, which is exactly wrong
    ahead of explosive per-row work. Keyed when a downstream
    aggregation/window on the same key can reuse the partitioning;
    round-robin otherwise.

    Not for regex-light per-row work: there the exchange costs more than
    the parallel map buys. Without it, 8 interleaved reps on local[4] ran
    ``clean_number`` in 609 ms instead of 654 at sf0.01 (1155 vs 1229 at
    sf0.1) and ``token_stats`` in 207 ms instead of 314 (208 vs 272)."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(n, *key)


def _agg(grouped: GroupedData, *exprs: str) -> DataFrame:
    """``grouped`` aggregated by SQL text, each ``"<aggregate> AS <name>"``."""
    return grouped.agg(*map(F.expr, exprs))


# --------------------------------------------------------------------- CDC
def _events_as_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").selectExpr(
        "CASE WHEN event_type = 'signup' THEN 'I' "
        "WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op",
        "event_id AS seq",
        "user_id",
        "event_type",
        "ts",
        "value",
    )


_CHANGES_SQL = """
    SELECT CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error' THEN 'D'
                ELSE 'U' END AS op,
           event_id AS seq, user_id, event_type, ts, value
    FROM events
"""


# the registry's LWW output: the winner's seq, ts and value per key
_LAST = ("user_id", "event_type", "seq AS last_seq", "ts AS last_ts", "value AS last_value")


def q_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star op: last-writer-wins dedup via window ranking."""
    c = _events_as_changes(spark, sf_dir)
    return lww_dedup(c, key=["user_id", "event_type"], order_col="seq").selectExpr(*_LAST)


LWW_SQL = f"""
    SELECT user_id, event_type, seq AS last_seq, ts AS last_ts,
           value AS last_value
    FROM ({_CHANGES_SQL})
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY seq DESC) = 1
"""


def q_salted_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase skew-proof variant — must equal the plain window rank."""
    c = _events_as_changes(spark, sf_dir)
    return salted_lww_dedup(
        c, key=["user_id", "event_type"], order_col="seq", n_salts=8
    ).selectExpr(*_LAST)


def q_cdc_merge_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Converged table state after replaying the full change log:
    LWW per key, delete drops the key — the MERGE semantics in SQL form."""
    c = _events_as_changes(spark, sf_dir)
    return (
        c.selectExpr("*", "row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) AS rn")
        .where("rn = 1 AND op <> 'D'")
        .selectExpr(
            "user_id", "seq AS last_seq", "event_type AS last_event_type", "value AS last_value"
        )
    )


CDC_MERGE_SQL = f"""
    SELECT user_id, seq AS last_seq, event_type AS last_event_type,
           value AS last_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY seq DESC) AS rn
        FROM ({_CHANGES_SQL})
    )
    WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_batch_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-op lineage metrics (the Notifier analog,
    /root/reference/notifier.go:17-19): counts + offset watermarks."""
    c = _events_as_changes(spark, sf_dir)
    return _agg(
        c.groupBy("op"),
        "count(1) AS n_events",
        "min(seq) AS min_seq",
        "max(seq) AS max_seq",
        "count(DISTINCT user_id) AS n_keys",
        # integer cents, NOT decimal: per-row floor(value*100) in IEEE
        # double is bit-identical on both engines and sums exactly — a
        # DECIMAL output is the documented r1 hash-mismatch mode (module
        # docstring; r2 VERDICT flagged this query's decimal as a latent
        # reintroduction)
        "sum(floor(value * 100)) AS sum_value_cents",
    )


CDC_METRICS_SQL = f"""
    SELECT op, count(*) AS n_events, min(seq) AS min_seq, max(seq) AS max_seq,
           count(DISTINCT user_id) AS n_keys,
           CAST(sum(floor(value * 100)) AS BIGINT) AS sum_value_cents
    FROM ({_CHANGES_SQL})
    GROUP BY op
"""


# ------------------------------------------------- reference-parity (T1-T9)
def q_clean_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 CleanNumber over deterministically dirtied strings
    (/root/reference/contrib/handlers/handlers.go:36-51)."""
    # no _spread: the clean is a few regex replaces per row, cheaper
    # than the round-robin exchange that would feed it
    li = load(spark, sf_dir, "lineitem")
    ok, pk = "CAST(l_orderkey AS STRING)", "CAST(l_partkey AS STRING)"
    raw = (
        f"CASE WHEN l_linenumber % 4 = 0 THEN concat('¥', {ok}, ',', {pk}, '円') "
        f"WHEN l_linenumber % 4 = 1 THEN concat('-', {ok}, ',', {pk}) "
        f"WHEN l_linenumber % 4 = 2 THEN concat({ok}, '.', {pk}, 'USD') "
        "ELSE '-' END"
    )
    return li.selectExpr(
        "l_orderkey", "l_linenumber", f"{raw} AS raw", f"{clean_number(raw)} AS cleaned"
    )


CLEAN_NUMBER_SQL = """
    WITH d AS (
        SELECT l_orderkey, l_linenumber,
               CASE l_linenumber % 4
                   WHEN 0 THEN '¥' || l_orderkey || ',' || l_partkey || '円'
                   WHEN 1 THEN '-' || l_orderkey || ',' || l_partkey
                   WHEN 2 THEN l_orderkey || '.' || l_partkey || 'USD'
                   ELSE '-' END AS raw
        FROM lineitem
    ), c AS (
        SELECT *,
               CASE WHEN raw LIKE '-%'
                    THEN '-' || regexp_replace(raw, '[^0-9.]', '', 'g')
                    ELSE regexp_replace(raw, '[^0-9.]', '', 'g') END AS signed
        FROM d
    )
    SELECT l_orderkey, l_linenumber, raw,
           CASE WHEN signed = '-' THEN '' ELSE signed END AS cleaned
    FROM c
"""


def q_date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 date normalization round-trip over orders dates."""
    # r6: single-row-group scan → spread before the per-row date work
    o = _spread(load(spark, sf_dir, "orders").selectExpr("o_orderkey", "o_orderdate"))
    slash = "date_format(o_orderdate, 'yyyy/MM/dd')"
    compact = "date_format(o_orderdate, 'yyyyMMdd')"
    return o.selectExpr(
        "o_orderkey",
        f"{slash} AS raw_slash",
        f"{normalize_date(slash)} AS norm_slash",
        f"{normalize_date_compact(compact)} AS norm_compact",
    )


DATE_NORM_SQL = """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y/%m/%d') AS raw_slash,
           strftime(o_orderdate, '%Y-%m-%d') AS norm_slash,
           strftime(o_orderdate, '%Y-%m-%d') AS norm_compact
    FROM orders
"""


def q_era_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 wareki parsing (/root/reference/contrib/handlers/smbc.go:15-41):
    construct Heisei strings for even orderkeys and Reiwa (+24y shift) for
    odd ones, parse them back; the oracle computes the expected Gregorian
    date directly, so any era-base drift fails the match."""
    o = _spread(load(spark, sf_dir, "orders").selectExpr("o_orderkey", "o_orderdate"))
    mmdd = "date_format(o_orderdate, 'MM.dd')"
    heisei = f"concat('H', lpad(CAST(year(o_orderdate) - 1988 AS STRING), 2, '0'), '.', {mmdd})"
    reiwa = f"concat('R', lpad(CAST(year(o_orderdate) + 24 - 2018 AS STRING), 2, '0'), '.', {mmdd})"
    raw = f"CASE WHEN o_orderkey % 2 = 0 THEN {heisei} ELSE {reiwa} END"
    return o.selectExpr("o_orderkey", f"{raw} AS raw", f"{parse_era_date(raw)} AS parsed")


ERA_SQL = """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0
                THEN 'H' || lpad(CAST(year(o_orderdate) - 1988 AS VARCHAR), 2, '0')
                         || '.' || strftime(o_orderdate, '%m.%d')
                ELSE 'R' || lpad(CAST(year(o_orderdate) + 24 - 2018 AS VARCHAR), 2, '0')
                         || '.' || strftime(o_orderdate, '%m.%d') END AS raw,
           CASE WHEN o_orderkey % 2 = 0
                THEN strftime(o_orderdate, '%Y-%m-%d')
                ELSE strftime(o_orderdate + INTERVAL 24 YEAR, '%Y-%m-%d')
           END AS parsed
    FROM orders
"""


def q_timestamp_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-aware timestamp normalization (north-star invariant):
    JST wall-clock strings → UTC instants. The oracle computes the same
    instant via fixed-offset arithmetic (epoch - 9h), so a DST/zone-math
    error in the engine fails the hash."""
    e = _spread(load(spark, sf_dir, "events").selectExpr("event_id", "ts"))
    raw = "date_format(ts, 'yyyy/MM/dd HH:mm:ss')"
    utc = normalize_timestamp(raw, "yyyy/MM/dd HH:mm:ss", "Asia/Tokyo")
    return e.selectExpr(
        "event_id",
        f"{raw} AS raw_jst",
        f"unix_timestamp({utc}) AS epoch_utc",
        f"date_format({utc}, 'yyyy-MM-dd HH:mm:ss') AS utc_str",
    )


TS_NORM_SQL = """
    SELECT event_id,
           strftime(ts, '%Y/%m/%d %H:%M:%S') AS raw_jst,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) - 32400 AS epoch_utc,
           strftime(date_trunc('second', ts) - INTERVAL 9 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS utc_str
    FROM events
"""


def q_skip_leading_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/P1 — drop the first N rows per file
    (/root/reference/handler.go:121, handlers.go:61-77). Files ≈ the
    ``source`` groups of documents; order ≈ doc_id."""
    d = load(spark, sf_dir, "documents")
    return (
        d.selectExpr("*", "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn")
        .where("rn > 2")
        .selectExpr("doc_id", "source", "lang")
    )


SKIP_ROWS_SQL = """
    SELECT doc_id, source, lang FROM documents
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY doc_id) > 2
"""


def q_null_skip_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 null-row skip + T8 column reorder/select
    (/root/reference/contrib/handlers/smbc_card.go:62-64,
    sbi_securities.go:16-40)."""
    d = load(spark, sf_dir, "documents")
    return d.where("text IS NOT NULL AND length(text) > 0").selectExpr(
        "doc_id", "split(text, ' ')[0] AS first_word", "lang", "n_chars AS chars"
    )


NULL_SKIP_SQL = """
    SELECT doc_id, string_split(text, ' ')[1] AS first_word, lang,
           n_chars AS chars
    FROM documents
    WHERE text IS NOT NULL AND length(text) > 0
"""


def q_payment_month_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/O6 — column appended from a value derived from the file path
    (/root/reference/contrib/handlers/smbc_card.go:46-58)."""
    d = load(spark, sf_dir, "documents")
    path = "concat('gs://ingest/', source, '/', CAST(202000 + doc_id % 12 + 1 AS STRING), '.csv')"
    return d.selectExpr(
        "doc_id", f"{path} AS path", f"{payment_month_from_path(path)} AS payment_month"
    )


PAYMENT_MONTH_SQL = """
    SELECT doc_id,
           'gs://ingest/' || source || '/' ||
               CAST(202000 + (doc_id % 12) + 1 AS VARCHAR) || '.csv' AS path,
           strftime(make_date(2020, CAST(doc_id % 12 AS INT) + 1, 1),
                    '%Y-%m-%d') AS payment_month
    FROM documents
"""


def q_kanji_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 Japanese-locale date normalization round-trip
    (/root/reference/contrib/handlers/sony_bank.go:16-21): render orders
    dates as ``yyyy年MM月dd日`` strings and parse them back to ISO."""
    o = _spread(load(spark, sf_dir, "orders").selectExpr("o_orderkey", "o_orderdate"))
    kanji = sql_str("yyyy'年'MM'月'dd'日'")
    raw = f"date_format(o_orderdate, {kanji})"
    return o.selectExpr(
        "o_orderkey", f"{raw} AS raw", f"{normalize_date_kanji(raw)} AS parsed"
    )


KANJI_SQL = """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y年%m月%d日') AS raw,
           strftime(o_orderdate, '%Y-%m-%d') AS parsed
    FROM orders
"""


def q_column_shift_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 column shift/overwrite
    (/root/reference/contrib/handlers/amex_csv.go:52-65): the AMEX
    projector's in-place shift ``r[4]=clean(r[5]); r[5]=r[6]; r[6]=r[7];
    r[7]=''`` expressed as one snapshot-semantics ``select`` over columns
    derived deterministically from ``documents`` (the raw bank-export
    shapes, rebuilt so the oracle can compute the same strings)."""
    d = load(spark, sf_dir, "documents")
    raw_date = "concat('2023/07/', lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0'))"
    amount_raw = (
        "concat('-', CAST(doc_id % 9 + 1 AS STRING), ',', "
        "lpad(CAST(doc_id % 1000 AS STRING), 3, '0'))"
    )
    return d.selectExpr(
        "doc_id",
        f"{normalize_date(raw_date)} AS date",
        f"{clean_number(amount_raw)} AS amount",  # r[4] = clean(r[5])
        "CASE WHEN doc_id % 3 = 0 THEN concat(CAST(doc_id % 50 AS STRING), '.00 USD') "
        "ELSE '' END AS fx_currency_amount",  # r[5] = r[6]
        "CASE WHEN doc_id % 3 = 0 THEN '147.8' ELSE '' END AS exchange_rate",  # r[6] = r[7]
        "'' AS extra",  # r[7] = ""
    )


COLUMN_SHIFT_SQL = """
    SELECT doc_id,
           '2023-07-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
               AS date,
           '-' || CAST((doc_id % 9) + 1 AS VARCHAR)
               || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') AS amount,
           CASE WHEN doc_id % 3 = 0
                THEN CAST(doc_id % 50 AS VARCHAR) || '.00 USD'
                ELSE '' END AS fx_currency_amount,
           CASE WHEN doc_id % 3 = 0 THEN '147.8' ELSE '' END
               AS exchange_rate,
           '' AS extra
    FROM documents
"""


def _fixture_csv_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the deterministic SJIS CSV fixture files for the real
    extract→decode→parse pipeline query (O2/O3/O4/O5/P1/P2). Content is a
    pure function of the ``documents`` row count, so the DuckDB oracle can
    reproduce every parsed row from the ``documents`` view. Fixture
    generation is driver-side by design (it fakes the upstream bank-export
    producer, not part of the measured plan)."""
    import os
    import re
    import tempfile

    n = load(spark, sf_dir, "documents").count()
    base = os.path.join(
        tempfile.gettempdir(), "gbs_fixture_" + re.sub(r"\W+", "_", sf_dir)
    )
    marker = os.path.join(base, f".n{n}")
    if os.path.exists(marker):
        return base
    os.makedirs(base, exist_ok=True)
    for g in range(4):
        lines = ["タイトル行", "ヘッダ,グループ,金額"]  # 2 preamble lines
        for i, did in enumerate(range(g, n, 4)):
            if i % 5 == 0:
                lines.append(f"# メモ {g}")  # noise: line-shape filtered
            lines.append(f"D{did},{did % 7},￥{(did * 3) % 1000}円")
        lines.append("合計,end,999")  # 1 tail line
        with open(os.path.join(base, f"part{g}.csv"), "wb") as f:
            f.write("\n".join(lines).encode("shift_jis"))
    with open(marker, "w") as f:
        f.write(str(n))
    return base


# the documents row a fixture line ``D<doc_id>,...`` was made from
_FIXTURE_DOC_ID = "CAST(substring(tag, 2) AS BIGINT) AS doc_id"


def q_csv_file_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL file pipeline (binaryFile → Shift-JIS decode → head/tail
    skip → line-shape filter → from_csv → CleanNumber): O2/O3/O4/O5, P1
    (/root/reference/contrib/handlers/handlers.go:61-77), P2
    (smbc_card.go:23-44), T5 (handlers.go:36-51) end-to-end against an
    oracle that recomputes every row from the documents table."""
    from go_bqloader_spark.sources.csvlike import read_csv_files

    base = _fixture_csv_dir(spark, sf_dir)
    df = read_csv_files(
        spark,
        f"{base}/part*.csv",
        "tag string, grp string, amt string",
        encoding="shift_jis",
        skip_head_rows=2,
        skip_tail_rows=1,
        line_filter="startswith(line, 'D')",
    )
    return df.selectExpr(_FIXTURE_DOC_ID, "grp", f"{clean_number('amt')} AS cleaned")


CSV_PIPELINE_SQL = """
    SELECT doc_id,
           CAST(doc_id % 7 AS VARCHAR) AS grp,
           CAST((doc_id * 3) % 1000 AS VARCHAR) AS cleaned
    FROM documents
"""


def q_handler_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O10 oracle-checkable: ONE storage event dispatched through a
    2-worker ``Registry`` to TWO registered handlers over the same fixture
    files (/root/reference/bqloader.go:105-137 fan-out); the union of both
    handlers' outputs is compared to the union of two per-handler SQL
    recomputations. The error-isolation half of the contract stays
    pytest-verified (test_registry_fanout_and_error_semantics)."""
    from go_bqloader_spark.plans.handlers import Handler, Registry
    from go_bqloader_spark.sources.csvlike import read_csv_files

    base = _fixture_csv_dir(spark, sf_dir)

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, "tag string, grp string, amt string",
            encoding="shift_jis", skip_head_rows=2, skip_tail_rows=1,
            line_filter="startswith(line, 'D')",
        )

    def proj_clean(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            "'clean' AS handler", _FIXTURE_DOC_ID, "grp", f"{clean_number('amt')} AS out"
        )

    def proj_raw(df: DataFrame) -> DataFrame:
        return df.selectExpr("'raw' AS handler", _FIXTURE_DOC_ID, "grp", "amt AS out")

    captured: dict[str, DataFrame] = {}
    reg = Registry(concurrency=2)
    reg.add(Handler("clean", r"part.*\.csv$", reader, proj_clean,
                    sink=lambda df: (captured.__setitem__("clean", df), 0)[1]))
    reg.add(Handler("raw", r"part.*\.csv$", reader, proj_raw,
                    sink=lambda df: (captured.__setitem__("raw", df), 0)[1]))
    reg.dispatch(spark, f"{base}/part*.csv")
    return captured["clean"].unionByName(captured["raw"])


HANDLER_FANOUT_SQL = """
    WITH r AS (
        SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS grp,
               (doc_id * 3) % 1000 AS a
        FROM documents
    )
    SELECT 'clean' AS handler, doc_id, grp, CAST(a AS VARCHAR) AS out FROM r
    UNION ALL
    SELECT 'raw' AS handler, doc_id, grp,
           '￥' || CAST(a AS VARCHAR) || '円' AS out
    FROM r
"""


def _fixture_lazy_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic lazy-quote CSV fixture (P3): quoted fields with
    escaped inner quotes, UNQUOTED fields containing bare quotes (the Go
    ``LazyQuotes=true`` shape, rakuten_card.go:55-65), and plain rows —
    all derivable from the documents row count so DuckDB can recompute
    every parsed field."""
    import os
    import re
    import tempfile

    n = load(spark, sf_dir, "documents").count()
    base = os.path.join(
        tempfile.gettempdir(), "gbs_lazyfix_" + re.sub(r"\W+", "_", sf_dir)
    )
    marker = os.path.join(base, f".n{n}")
    if os.path.exists(marker):
        return base
    os.makedirs(base, exist_ok=True)
    lines = ['"店名","グループ","番号"']
    for did in range(n):
        if did % 3 == 0:
            lines.append(f'"s{did} ""x""",g{did % 7},{did}')
        elif did % 3 == 1:
            lines.append(f's{did} "y" end,g{did % 7},{did}')
        else:
            lines.append(f"s{did},g{did % 7},{did}")
    with open(os.path.join(base, "lazy.csv"), "wb") as f:
        f.write("\n".join(lines).encode("utf-8"))
    with open(marker, "w") as f:
        f.write(str(n))
    return base


def q_lazy_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 lazy-quote CSV parse vs oracle: Go ``LazyQuotes`` semantics via
    uniVocity ``unescapedQuoteHandling=STOP_AT_DELIMITER``
    (rakuten_card.go:55-65). Escaped quotes in quoted fields unescape;
    bare quotes in unquoted fields survive verbatim."""
    from go_bqloader_spark.sources.csvlike import read_csv_files

    base = _fixture_lazy_dir(spark, sf_dir)
    df = read_csv_files(
        spark, f"{base}/lazy.csv", "store string, grp string, id string",
        skip_head_rows=1,
        # escape='"' = Go csv's doubled-quote escaping (Spark's default
        # escape is backslash, which Go csv does not have)
        csv_options={
            "unescapedQuoteHandling": "STOP_AT_DELIMITER",
            "escape": '"',
        },
    )
    return df.selectExpr("CAST(id AS BIGINT) AS doc_id", "store", "grp")


LAZY_QUOTES_SQL = """
    SELECT doc_id,
           CASE doc_id % 3
               WHEN 0 THEN 's' || doc_id || ' "x"'
               WHEN 1 THEN 's' || doc_id || ' "y" end'
               ELSE 's' || CAST(doc_id AS VARCHAR) END AS store,
           'g' || CAST(doc_id % 7 AS VARCHAR) AS grp
    FROM documents
"""


# a top-k's rows with the cosine as floor(cos * 10^4); literals written
# as doubles (``1e-6D``) so the arithmetic stays IEEE double, as DuckDB's
_TOPK_E4 = (
    "query_id",
    "vec_id",
    "floor(cos_sim * 10000 + 1e-6D) AS cos_sim_e4",
    "CAST(`rank` AS BIGINT) AS `rank`",
)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate top-k (the ANN scale path): deterministic
    seeded bucketing, exact ranking within the query's bucket. Uses the
    ``sign="md5"`` hyperplane variant (±1 from the first hex digit of
    ``md5('lsh:seed:plane:i')``) so DuckDB computes bit-identical buckets
    — the same cross-engine trick as the md5 MinHash oracle. The fast
    xxhash64 sign path is recall-pytest-verified separately
    (tests/test_dedup_similarity.py)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    # r6: spread the single-split corpus scan — the 6-plane signed-sum
    # bucketing is the dominant per-row cost and ran in one task
    corpus = _spread(e.where("vec_id >= 3"))
    r = lsh_topk(corpus, q, k=5, n_bits=6, dim=64, seed=42, sign="md5")
    # +1e-6 boundary guard — same cross-engine floor() rationale as
    # q_ann_cosine_topk (Spark folds in array order, DuckDB SUM reorders)
    return r.selectExpr(*_TOPK_E4)


# DuckDB oracle for q_lsh_topk: identical md5-Rademacher buckets (6 bits,
# seed 42, 1-based dim index), equal-bucket candidate join, exact cosine
# rank within the bucket. Mirrors operators/similarity.py:_hyperplane_bit.
LSH_TOPK_SQL = """
    WITH ex AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    planes AS (SELECT unnest(range(0, 6)) AS j),
    bits AS (
        SELECT e.vec_id, p.j,
               CASE WHEN sum(CAST(e.x AS DOUBLE) *
                   (CASE WHEN substr(md5('lsh:42:' || p.j || ':' || e.i), 1, 1) < '8'
                         THEN 1.0 ELSE -1.0 END)) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM ex e CROSS JOIN planes p
        GROUP BY e.vec_id, p.j
    ),
    buckets AS (
        SELECT vec_id, sum(CAST(bit AS BIGINT) * CAST(2 ** j AS BIGINT)) AS bucket
        FROM bits GROUP BY vec_id
    ),
    norms AS (
        SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        FROM ex GROUP BY vec_id
    ),
    cand AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM buckets q JOIN buckets c ON q.bucket = c.bucket
        WHERE q.vec_id < 3 AND c.vec_id >= 3
    ),
    dots AS (
        SELECT cd.query_id, cd.vec_id,
               sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.query_id
        JOIN ex b ON b.vec_id = cd.vec_id AND b.i = a.i
        GROUP BY cd.query_id, cd.vec_id
    ),
    ranked AS (
        SELECT d.query_id, d.vec_id,
               d.dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS cos_sim,
               row_number() OVER (
                   PARTITION BY d.query_id
                   ORDER BY d.dot / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, d.vec_id
               ) AS rank
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.vec_id
    )
    SELECT query_id, vec_id,
           CAST(floor(cos_sim * 10000 + 1e-6) AS BIGINT) AS cos_sim_e4,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (the second ANN scale path alongside
    hyperplane LSH): deterministic coarse-quantizer cells (lowest-id
    corpus vectors stand in for trained k-means centroids — reproducible
    and oracle-expressible), nearest-cell assignment in one broadcast
    pass, exact cosine rank within the query's nprobe probed cells."""
    from go_bqloader_spark.operators.similarity import ivf_topk

    e = load(spark, sf_dir, "embeddings")
    q = e.where("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    # r6: spread the single-split corpus scan (round-robin — keyed vec_id
    # partitioning is not reused downstream and the audit asserts no
    # corpus-wide hashpartitioning(vec_id) exchange) so the per-row
    # 8-cell argmax assignment parallelizes
    corpus = _spread(e.where("vec_id >= 3"))
    r = ivf_topk(corpus, q, k=5, n_cells=8, nprobe=2)
    # +1e-6 floor guard — same cross-engine rationale as ann_cosine_topk
    return r.selectExpr(*_TOPK_E4)


# DuckDB mirror of q_ivf_topk: same deterministic cells (8 lowest corpus
# ids), same nearest-cell assignment (cos desc, cell_id tie-break), same
# nprobe=2 probe set, exact rank within probed cells.
IVF_TOPK_SQL = """
    WITH corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 3),
    cents AS (
        SELECT vec_id AS cell_id, embedding AS cv
        FROM corpus ORDER BY vec_id LIMIT 8
    ),
    ex AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    cex AS (
        SELECT cell_id, unnest(cv) AS x, generate_subscripts(cv, 1) AS i
        FROM cents
    ),
    norms AS (
        SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        FROM ex GROUP BY vec_id
    ),
    cnorms AS (
        SELECT cell_id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        FROM cex GROUP BY cell_id
    ),
    vc AS (  -- cosine of every vector (corpus + query) vs every centroid
        SELECT e.vec_id, c.cell_id,
               sum(CAST(e.x AS DOUBLE) * CAST(c.x AS DOUBLE))
                   / (sqrt(any_value(nv.n2)) * sqrt(any_value(nc.n2))) AS cos
        FROM ex e
        JOIN cex c ON c.i = e.i
        JOIN norms nv ON nv.vec_id = e.vec_id
        JOIN cnorms nc ON nc.cell_id = c.cell_id
        GROUP BY e.vec_id, c.cell_id
    ),
    assign AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cell_id) AS rn
            FROM vc WHERE vec_id >= 3
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell_id FROM (
            SELECT vec_id, cell_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cos DESC, cell_id) AS rn
            FROM vc WHERE vec_id < 3
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a ON a.cell_id = p.cell_id
    ),
    dots AS (
        SELECT cd.query_id, cd.vec_id,
               sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        FROM cand cd
        JOIN ex a ON a.vec_id = cd.query_id
        JOIN ex b ON b.vec_id = cd.vec_id AND b.i = a.i
        GROUP BY cd.query_id, cd.vec_id
    ),
    ranked AS (
        SELECT d.query_id, d.vec_id,
               d.dot / (sqrt(nq.n2) * sqrt(nc.n2)) AS cos_sim,
               row_number() OVER (
                   PARTITION BY d.query_id
                   ORDER BY d.dot / (sqrt(nq.n2) * sqrt(nc.n2)) DESC, d.vec_id
               ) AS rank
        FROM dots d
        JOIN norms nq ON nq.vec_id = d.query_id
        JOIN norms nc ON nc.vec_id = d.vec_id
    )
    SELECT query_id, vec_id,
           CAST(floor(cos_sim * 10000 + 1e-6) AS BIGINT) AS cos_sim_e4,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
"""


# ------------------------------------------------ training-data pipeline ops
_TOKENS = "filter(split(text, ' '), x -> x <> '')"
_TOKENS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the full text; representative = min id."""
    d = load(spark, sf_dir, "documents")
    return _agg(
        d.groupBy(F.expr("md5(text) AS fp")), "min(doc_id) AS rep_doc", "count(1) AS n_dupes"
    )


EXACT_DEDUP_SQL = """
    SELECT md5(text) AS fp, min(doc_id) AS rep_doc, count(*) AS n_dupes
    FROM documents GROUP BY md5(text)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: normalized-text digest + shingle count."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    return d.selectExpr(
        "doc_id",
        "md5(lower(trim(text))) AS fingerprint",
        f"size({_TOKENS}) AS n_tokens",
        f"size(array_distinct({_TOKENS})) AS n_distinct_tokens",
    )


FINGERPRINT_SQL = f"""
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint,
           len({_TOKENS_SQL}) AS n_tokens,
           len(list_distinct({_TOKENS_SQL})) AS n_distinct_tokens
    FROM documents
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting rolled up per language. All-BIGINT outputs: the mean
    is integer-scaled (``avg_tokens_e4`` = floor(avg * 10^4)) via pure
    integer division so both engines compute the identical value."""
    # no _spread: one split of each row's text, then a partial aggregate
    # by lang, is cheaper than an exchange ahead of it
    d = load(spark, sf_dir, "documents")
    n = f"CAST(size({_TOKENS}) AS BIGINT)"
    agg = _agg(
        d.groupBy("lang"),
        "count(1) AS n_docs",
        f"sum({n}) AS total_tokens",
        f"max({n}) AS max_tokens",
    )
    return agg.selectExpr(
        "lang",
        "n_docs",
        "total_tokens",
        "max_tokens",
        "total_tokens * 10000 DIV n_docs AS avg_tokens_e4",
    )


TOKEN_STATS_SQL = f"""
    WITH a AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens,
               CAST(max(len({_TOKENS_SQL})) AS BIGINT) AS max_tokens
        FROM documents GROUP BY lang
    )
    SELECT lang, n_docs, total_tokens, max_tokens,
           CAST((total_tokens * 10000) // n_docs AS BIGINT) AS avg_tokens_e4
    FROM a
"""


_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English stopword ratio over tokens, emitted
    as ``stop_ratio_e6`` = floor(ratio * 10^6) via integer division
    (zero-token docs → NULL ratio, 'other' — ANSI-safe, no DivideByZero)."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    stop_arr = ", ".join(map(sql_str, _STOPWORDS))
    base = d.selectExpr(
        "doc_id",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_toks",
        f"CAST(size(filter(split(text, ' '), x -> x IN ({stop_arr}))) AS BIGINT) AS n_stops",
    )
    ratio_e6 = "CASE WHEN n_toks > 0 THEN (n_stops * 1000000) DIV n_toks END"
    return base.selectExpr(
        "doc_id",
        f"{ratio_e6} AS stop_ratio_e6",
        f"CASE WHEN {ratio_e6} >= 50000 THEN 'en' ELSE 'other' END AS pred_lang",
    )


LANG_ID_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x IN ({", ".join(repr(w) for w in _STOPWORDS)})))
                    AS BIGINT) AS n_stops,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_toks
        FROM documents
    ), r AS (
        SELECT doc_id,
               CASE WHEN n_toks > 0
                    THEN CAST((n_stops * 1000000) // n_toks AS BIGINT)
               END AS stop_ratio_e6
        FROM t
    )
    SELECT doc_id, stop_ratio_e6,
           CASE WHEN stop_ratio_e6 >= 50000 THEN 'en' ELSE 'other' END
               AS pred_lang
    FROM r
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean token length, lexical diversity — all
    integer-scaled BIGINT (e4) via integer division; zero-token docs yield
    NULL metrics instead of DivideByZero (ANSI-safe)."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    base = d.selectExpr(
        "doc_id",
        "CAST(length(text) AS BIGINT) AS n_chars_actual",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_tokens",
        r"CAST(length(regexp_replace(text, r'\s+', '')) AS BIGINT) AS chars_ns",
        f"CAST(size(array_distinct({_TOKENS})) AS BIGINT) AS n_distinct",
    )
    return base.selectExpr(
        "doc_id",
        "n_chars_actual",
        "n_tokens",
        "CASE WHEN n_tokens > 0 THEN (chars_ns * 10000) DIV n_tokens END AS mean_token_len_e4",
        "CASE WHEN n_tokens > 0 THEN (n_distinct * 10000) DIV n_tokens END "
        "AS lexical_diversity_e4",
    )


QUALITY_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
               CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT)
                   AS chars_ns,
               CAST(len(list_distinct({_TOKENS_SQL})) AS BIGINT) AS n_distinct
        FROM documents
    )
    SELECT doc_id, n_chars_actual, n_tokens,
           CASE WHEN n_tokens > 0
                THEN CAST((chars_ns * 10000) // n_tokens AS BIGINT)
           END AS mean_token_len_e4,
           CASE WHEN n_tokens > 0
                THEN CAST((n_distinct * 10000) // n_tokens AS BIGINT)
           END AS lexical_diversity_e4
    FROM t
"""


# 3-word shingles (not unigrams): a unigram equi-join is quadratic on hot
# tokens (every doc shares "the" → D²/2 join rows); 3-shingles are near-
# unique so the candidate-pair count stays near-linear at corpus scale.
# Spark's sequence(1, 0) yields a DESCENDING [1, 0], so q_ngram_jaccard's
# shingles need an explicit size guard (DuckDB's generate_series(1, 0) is
# empty).
_SHINGLES3_SQL = (
    f"list_transform(generate_series(1, greatest(len({_TOKENS_SQL}) - 2, 0)), "
    f"i -> array_to_string(list_slice({_TOKENS_SQL}, i, i + 2), ' '))"
)
_NGRAM_DF_CAP = 50  # drop shingles present in > CAP docs (scale guard)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word-shingle Jaccard near-dup pairs — the exact baseline the
    MinHash-LSH path approximates. Shingle-explode + DF-cap + equi-join +
    group: no cross join, and a shingle present in more than
    ``_NGRAM_DF_CAP`` docs is excluded from the candidate universe (hot
    shingles carry no near-dup signal but create DF²/2 join rows). Jaccard
    is computed over the capped shingle universe on BOTH sides, emitted as
    ``jaccard_e4`` (floor(j * 10^4), pure integer division)."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    # tokenize once into a projected column; building shingles from the
    # raw text re-derives filter(split(...)) three times per row
    tk = d.selectExpr("doc_id", f"{_TOKENS} AS tk")
    shingles3 = (
        "CASE WHEN size(tk) >= 3 "
        "THEN transform(sequence(1, size(tk) - 2), "
        "i -> array_join(slice(tk, i, 3), ' ')) "
        "ELSE CAST(array() AS array<string>) END"
    )
    sh = tk.selectExpr("doc_id", f"explode(array_distinct({shingles3})) AS sh")
    rare = (
        _agg(sh.groupBy("sh"), "count(1) AS df")
        .where(f"df <= {_NGRAM_DF_CAP}")
        .selectExpr("sh")
    )
    # per-doc capped-set size rides ALONG the rows as a window count
    # instead of a separate groupBy frame: the old shape joined a `sizes`
    # aggregate back twice (d1, d2), and with the broadcast self-join each
    # of the 4 references re-evaluated the whole scan→shingle→DF-cap
    # pipeline (8 parquet scans in the plan). Now the pipeline is computed
    # once: window by doc_id, then a shuffle-hinted self-join whose two
    # sides are the identical Exchange hashpartitioning(sh) — AQE's
    # ReuseExchange materializes it once (same mechanics as minhash_lsh).
    capped = sh.join(rare, "sh").selectExpr(
        "*", "count(1) OVER (PARTITION BY doc_id) AS sz"
    )
    pairs = (
        capped.alias("a")
        .hint("merge")
        .join(capped.alias("b").hint("merge"), "sh")
        .where("a.doc_id < b.doc_id")
        .groupBy(F.expr("a.doc_id AS d1"), F.expr("b.doc_id AS d2"))
    )
    return (
        _agg(
            pairs,
            "count(1) AS inter",
            "max(a.sz) AS s1",  # constant within the group
            "max(b.sz) AS s2",
        )
        .selectExpr("*", "(inter * 10000) DIV (s1 + s2 - inter) AS jaccard_e4")
        .where("jaccard_e4 >= 8000")
        .selectExpr("d1", "d2", "jaccard_e4")
    )


NGRAM_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({_SHINGLES3_SQL}) AS sh FROM documents
    ), rare AS (
        SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {_NGRAM_DF_CAP}
    ), capped AS (
        SELECT doc_id, s.sh FROM sh s JOIN rare r ON s.sh = r.sh
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM capped GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS inter
        FROM capped a JOIN capped b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST((inter * 10000) // (s1.sz + s2.sz - inter) AS BIGINT)
               AS jaccard_e4
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE (inter * 10000) // (s1.sz + s2.sz - inter) >= 8000
"""


_MINHASH_SEEDS = ("s1", "s2", "s3", "s4")


def _minhash_sig(d: DataFrame) -> DataFrame:
    """(doc_id, h1..h4): the md5 minhash of each doc's distinct tokens
    under 4 seeds — the signature behind ``minhash_lsh`` and
    ``dedup_clusters``. r6: the document scan is spread on doc_id first —
    tokenize + 4 md5 min-hashes per token otherwise run inside the single
    scan task, and the signature aggregate reuses the doc_id partitioning
    (no second exchange)."""
    toks = _spread(d, "doc_id").selectExpr(
        "doc_id", f"explode(array_distinct({_TOKENS})) AS tok"
    )
    return _agg(
        toks.groupBy("doc_id"),
        *(f"min(md5(concat({sql_str(s)}, tok))) AS h{i + 1}" for i, s in enumerate(_MINHASH_SEEDS)),
    )


def _minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band, bi): the signature's 2 bands of 2 — the shared LSH
    bucketing behind ``dedup_clusters``."""
    # one posexplode instead of a self-union: the signature aggregate runs
    # ONCE (a union of two selects over an aggregate re-executes it)
    return _minhash_sig(d).selectExpr(
        "doc_id",
        "posexplode(array(md5(concat(h1, h2)), md5(concat(h3, h4)))) AS (bi0, band)",
    ).selectExpr("doc_id", "band", "bi0 + 1 AS bi")


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate PAIRS: shingle → md5 minhash (4
    seeds) → 2 bands of 2 → bucket-join. Cost is linear in tokens + band
    collisions, never all-pairs ACROSS buckets; the pair listing itself is
    quadratic in bucket size by definition (clustering should consume the
    star edges of ``dedup_clusters`` instead of this listing).

    r6 restructure (same result set, proven row-identical vs the oracle):

    1. **Skew**: the r5 single self-join on (band, bi) generated each
       bucket's pairs in ONE task — at sf1.0 the top dup-family bucket
       has 31.7k members ≈ 502M pairs in one straggler (driver-measured
       1784 s). Each band now goes through
       :func:`operators.dedup.blocked_self_join` (guide §2.5): buckets
       are sliced in doc_id order and every slice-pair is an independent
       join key, spreading the quadratic generation across the cluster.
    2. **No distinct exchange**: the old ``.distinct()`` shuffled the
       full ~1e9-row pair stream once more just to drop pairs colliding
       in BOTH bands. Band-1 pairs are emitted unconditionally; band-2
       pairs only where the two docs' band-1 buckets differ — a pure
       filter on columns already riding the rows. The union is exactly
       the distinct pair set (a pair is emitted by the b1-join iff b1
       collides, by the b2-join iff b2 collides and b1 does not), so the
       billion-row exchange and its HashAggregate disappear outright
       (guide §2.4); verified row-identical in DuckDB at sf0.1
       (7,707,125 pairs, EXCEPT both ways = 0).
    3. The per-band signature table (doc_id + two 32-char band hashes,
       ~90 B/doc) is localCheckpointed so the tokenize → min-md5
       aggregate runs ONCE for the four join sides instead of four
       times. This is an in-query materialization of a linear-size
       intermediate, recomputed on every invocation."""
    sigb = _minhash_sig(load(spark, sf_dir, "documents")).selectExpr(
        "doc_id", "md5(concat(h1, h2)) AS b1", "md5(concat(h3, h4)) AS b2"
    ).localCheckpoint(eager=True)

    from go_bqloader_spark.operators.dedup import blocked_self_join

    n_part = spark.sparkContext.defaultParallelism * 2

    # r6b: ONE fused join for both bands instead of a union of two
    # per-band joins. Buckets are keyed (band, bi) so a band-1 bucket can
    # never meet a band-2 bucket, and the band-2 "not already in band 1"
    # condition becomes a row filter (bi = 1 OR a.b1 != b.b1) — exactly
    # the two-join result set. Measured motivation: every phase of this
    # query runs 2-4x slower on its FIRST execution in a session
    # (codegen + JIT warmup of fresh generated classes); the fused join
    # compiles ONE pair-generation pipeline instead of two near-identical
    # ones and runs both bands' quadratic generation in one stage wave.
    bands = sigb.selectExpr(
        "doc_id", "b1", "posexplode(array(b1, b2)) AS (bi0, band)"
    ).selectExpr("doc_id", "b1", "bi0 + 1 AS bi", "band")

    lf, rt = blocked_self_join(bands, ["band", "bi"], "doc_id", chunk=1024)
    # explicit-N repartition on the join keys: the join INPUT is a few MB
    # of narrow rows, so AQE coalesces the planner's exchanges to 1-2
    # partitions — but the join OUTPUT is ~1000x its input (quadratic
    # pair generation), which AQE cannot see. User-fixed partitioning is
    # respected and satisfies the join's clustering requirement, keeping
    # the generation on N tasks.
    keys = ["band", "bi", "__ci", "__cj"]
    return (
        lf.repartition(n_part, *keys).alias("a")
        .join(rt.repartition(n_part, *keys).alias("b"), keys)
        .where("a.doc_id < b.doc_id")
        .where("a.bi = 1 OR a.b1 <> b.b1")
        .selectExpr("a.doc_id AS d1", "b.doc_id AS d2")
    )


# shared tok/sig/bands CTE body (DuckDB) — the md5 bucketing both oracle
# queries derive from
MINHASH_BANDS_CTE = f"""tok AS (
        SELECT DISTINCT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), sig AS (
        SELECT doc_id,
               {", ".join(f"min(md5('{s}' || tok)) AS h{i+1}" for i, s in enumerate(_MINHASH_SEEDS))}
        FROM tok GROUP BY doc_id
    ), bands AS (
        SELECT doc_id, md5(h1 || h2) AS band, 1 AS bi FROM sig
        UNION ALL
        SELECT doc_id, md5(h3 || h4) AS band, 2 AS bi FROM sig
    )"""

MINHASH_SQL = f"""
    WITH {MINHASH_BANDS_CTE}
    SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bi = b.bi AND a.doc_id < b.doc_id
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup END state: MinHash-LSH band buckets → connected
    components → ``(doc_id, cluster_id, is_rep)`` with cluster_id = min
    member id.

    The component graph uses per-bucket STAR edges (bucket-min → member),
    NOT the quadratic pair listing: within a band bucket, all-pairs and
    the star reach the identical transitive closure, but the star emits
    O(members) edges instead of O(members²) — at sf0.1 that is ~10k edges
    vs the 7.7M pairs ``minhash_lsh`` lists (a single 2.7k-doc near-dup
    family alone is 3.7M pairs). This is THE load-bearing choice at
    10^10 docs: candidate-bucket sizes follow a heavy-tailed dup-family
    distribution, and any bucket² materialization eventually explodes.
    Cluster membership is provably identical, so the recursive-closure
    oracle (also star-based) matches. Spark runs contract-then-iterate
    min-label propagation (``operators/dedup.py::connected_components``).
    Singletons are their own cluster; downstream keeps ``is_rep = 1``."""
    from go_bqloader_spark.operators.dedup import connected_components

    d = load(spark, sf_dir, "documents")
    bands = _minhash_bands(d)
    bmin = _agg(bands.groupBy("band", "bi"), "min(doc_id) AS d1")
    stars = (
        bands.join(bmin, ["band", "bi"])
        .where("doc_id <> d1")
        .selectExpr("d1", "doc_id AS d2")
        .distinct()
    )
    comp = connected_components(
        stars, vertices=d.selectExpr("doc_id"), src="d1", dst="d2", id_col="doc_id"
    )
    return comp.selectExpr(
        "doc_id", "cluster_id", "CAST(doc_id = cluster_id AS INT) AS is_rep"
    )


DEDUP_CLUSTERS_SQL = """
    WITH RECURSIVE {BANDS},
    bmin AS (
        SELECT band, bi, min(doc_id) AS d1 FROM bands GROUP BY band, bi
    ),
    stars AS (
        SELECT DISTINCT m.d1, b.doc_id AS d2
        FROM bands b JOIN bmin m ON b.band = m.band AND b.bi = m.bi
        WHERE b.doc_id <> m.d1
    ),
    und AS (
        SELECT d1 AS a, d2 AS b FROM stars
        UNION
        SELECT d2, d1 FROM stars
    ),
    r(a, b) AS (
        SELECT a, b FROM und
        UNION
        SELECT r.a, u.b FROM r JOIN und u ON r.b = u.a
    ),
    comp AS (
        SELECT d.doc_id,
               LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN r ON r.a = d.doc_id
        GROUP BY d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS INT)
               AS is_rep
    FROM comp
"""  # {BANDS} is bound right after MINHASH_BANDS_CTE's definition below


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs a query vector (vec_id=0) — the ANN
    baseline. Dot product via zip_with/aggregate in double precision;
    deterministic order by (rounded sim desc, vec_id)."""
    e = load(spark, sf_dir, "embeddings")
    q = e.where("vec_id = 0").selectExpr("embedding AS qv")
    dot = _dot("embedding", "qv")
    # +1e-6 boundary guard: Spark folds the dot in array order, DuckDB's
    # SUM in arbitrary order — a 1-ulp difference at an exact integer
    # boundary (e.g. cos == 1.0) would flip floor(); the nudge moves the
    # discontinuity off the representable boundary on BOTH engines
    cos_e4 = f"floor(({dot} / ({_norm('embedding')} * {_norm('qv')})) * 10000.0D + 1e-6D)"
    return (
        e.where("vec_id <> 0")
        .crossJoin(q.hint("broadcast"))
        .selectExpr("vec_id", "label", f"{cos_e4} AS cos_sim_e4")
        .orderBy(F.desc("cos_sim_e4"), F.asc("vec_id"))
        .limit(10)
    )


def _dot(a: str, b: str) -> str:
    """The dot product of float arrays ``a`` and ``b``, folded in double
    in array order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> str:
    """The L2 norm of float array ``a``, folded in double in array order."""
    return (
        f"sqrt(aggregate({a}, CAST(0.0 AS DOUBLE), "
        "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )


ANN_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ex AS (
        SELECT vec_id, label,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id <> 0
    ),
    qx AS (
        SELECT unnest(qv) AS y, generate_subscripts(qv, 1) AS i FROM q
    ),
    dots AS (
        SELECT e.vec_id, e.label,
               sum(CAST(e.x AS DOUBLE) * CAST(qx.y AS DOUBLE)) AS dot,
               sum(CAST(e.x AS DOUBLE) * CAST(e.x AS DOUBLE)) AS n1
        FROM ex e JOIN qx ON e.i = qx.i
        GROUP BY e.vec_id, e.label
    ),
    qn AS (SELECT sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)) AS n2 FROM qx)
    SELECT vec_id, label,
           CAST(floor(dot / (sqrt(n1) * sqrt(n2)) * 10000 + 1e-6) AS BIGINT)
               AS cos_sim_e4
    FROM dots, qn
    ORDER BY cos_sim_e4 DESC, vec_id LIMIT 10
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs — the exact blocked baseline for
    embedding dedup. Blocking on ``label`` (the natural shard/cluster key)
    keeps the pairwise work per block; the unblocked scale path is
    hyperplane-LSH bucketing (``lsh_topk``/``hyperplane_lsh_buckets``).
    Output is ``cos_e4`` BIGINT (floor(cos * 10^4)) for hash stability.

    r6 optimization (identical results; r5 driver-measured 330 s at
    sf1.0, all in ONE task): (1) per-vector norms are computed ONCE per
    vector below the join instead of twice per pair (the old plan folded
    both 64-element norms for every one of the ~20M pairs — 2/3 of the
    per-pair work thrown away, guide §1.2); (2) the streamed side is
    hash-repartitioned on ``v1`` before the broadcast join — the
    embeddings parquet is a single input split, so the whole quadratic
    pair generation otherwise runs in ONE task (guide §2.5). The pair
    dot stays an ``aggregate(zip_with(...))`` fold: a fully unrolled
    64-term ``element_at`` sum was tried and generates a method past
    HotSpot's 8 KB JIT limit — it compiles but runs in the bytecode
    interpreter at ~10x the fold's cost (measured 74 s vs ~5 s at
    sf1.0)."""
    e = load(spark, sf_dir, "embeddings")
    # same fold expression as ann_cosine_topk's for the norm — per-vector
    # cost is linear and bit-compatibility with the oracle is already proven
    a, b = (
        e.selectExpr(f"vec_id AS v{i}", "label", f"embedding AS e{i}", f"{_norm('embedding')} AS n{i}")
        for i in (1, 2)
    )
    # +1e-6 boundary guard — same cross-engine floor() rationale as
    # q_ann_cosine_topk (sum order differs between Spark and DuckDB)
    cos_e4 = f"floor({_dot('e1', 'e2')} / (n1 * n2) * 10000.0D + 1e-6D)"
    # explicit partition count: repartition("v1") without N is a tiny
    # (~vector-table-sized) shuffle that AQE happily coalesces back to ONE
    # partition — the quadratic pair generation downstream would then run
    # in one task again. A user-fixed N is respected by AQE; derived from
    # the session's parallelism, so it scales with the cluster, not a
    # constant tuned to local[32].
    n_part = spark.sparkContext.defaultParallelism * 2
    return (
        a.repartition(n_part, "v1")
        .join(b.hint("broadcast"), "label")
        .where("v1 < v2")
        .selectExpr("label", "v1", "v2", f"{cos_e4} AS cos_e4")
        # the synthetic corpus has no true near-dups (max within-label cos
        # = 0.475); 0.35 exercises the full plan + threshold semantics
        .where("cos_e4 >= 3500")
    )


EMB_NEAR_DUP_SQL = """
    WITH ex AS (
        SELECT vec_id, label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ), norms AS (
        SELECT vec_id, sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS n2
        FROM ex GROUP BY vec_id
    ), dots AS (
        SELECT a.label, a.vec_id AS v1, b.vec_id AS v2,
               sum(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)) AS dot
        FROM ex a JOIN ex b
          ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.label, a.vec_id, b.vec_id
    )
    SELECT d.label, d.v1, d.v2,
           CAST(floor(d.dot / (sqrt(na.n2) * sqrt(nb.n2)) * 10000 + 1e-6) AS BIGINT)
               AS cos_e4
    FROM dots d
    JOIN norms na ON na.vec_id = d.v1
    JOIN norms nb ON nb.vec_id = d.v2
    WHERE floor(d.dot / (sqrt(na.n2) * sqrt(nb.n2)) * 10000 + 1e-6) >= 3500
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (alpha runs / digit runs / single
    punctuation — the pre-tokenizer split every BPE vocab starts from),
    alongside the whitespace count. Disjoint classes, so the class counts
    sum to the total; pure counts → hash-stable."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    # r6: regexp_count counts matches without materializing the match
    # array regexp_extract_all builds (same non-overlapping match
    # semantics, oracle-verified)
    base = d.selectExpr(
        "doc_id",
        "CAST(regexp_count(text, '[A-Za-z]+') AS BIGINT) AS n_alpha",
        "CAST(regexp_count(text, '[0-9]+') AS BIGINT) AS n_num",
        r"CAST(regexp_count(text, r'[^A-Za-z0-9\s]') AS BIGINT) AS n_punct",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_ws_tokens",
    )
    return base.selectExpr(
        "doc_id",
        "n_alpha + n_num + n_punct AS n_bpe_tokens",
        "n_alpha",
        "n_num",
        "n_punct",
        "n_ws_tokens",
    )


BPE_TOKEN_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
                   AS n_alpha,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
               CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS BIGINT)
                   AS n_punct,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_ws_tokens
        FROM documents
    )
    SELECT doc_id, n_alpha + n_num + n_punct AS n_bpe_tokens,
           n_alpha, n_num, n_punct, n_ws_tokens
    FROM t
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary: top-50 whitespace tokens by total count
    with document frequency — the corpus-wide half of token counting
    (per-doc stats live in ``token_stats``). One explode + one hash agg
    with map-side partials; at 100 TB this is the canonical two-phase
    word count and the input to BPE vocab induction / DF-based stopword
    lists. Deterministic order: (n_total desc, token asc)."""
    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    tok = d.selectExpr("doc_id", f"explode({_TOKENS}) AS token")
    return (
        _agg(tok.groupBy("token"), "count(1) AS n_total", "count(DISTINCT doc_id) AS doc_freq")
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(50)
    )


VOCAB_SQL = f"""
    SELECT tok AS token, count(*) AS n_total,
           count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n_total DESC, token
    LIMIT 50
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over the corpus
    vocabulary — the mergeable cardinality sketch whose estimate is a
    PURE function of the value multiset: hash every distinct token,
    keep the k smallest hashes, estimate = (k-1) / h_(k) with hashes
    normalized to (0,1). Unlike HLL (whose register layout differs per
    engine), the md5-derived KMV is bit-identical in Spark and DuckDB,
    so the APPROXIMATE answer itself is oracle-checked — the sketch the
    engine would broadcast per partition and merge (union the minheaps,
    re-take k smallest) for 10^10-scale distinct counts.

    The sketched domain is DISTINCT DOCUMENT CONTENT (normalized-text
    fingerprints) — "how many unique documents does this corpus hold" is
    the question a dedup pass answers after the fact; KMV answers it in
    one cheap pass first (and, unlike the tiny synthetic token vocab,
    its cardinality exceeds k at every SF, so the ESTIMATION path is
    what gets verified, not the exact-fallback).

    Output: k, the exact distinct count, the KMV estimate (scaled e2),
    and the relative error in e4 — all BIGINT for hash stability."""
    k = 256
    d = load(spark, sf_dir, "documents")  # md5-per-doc is scan-bound; a
    # spread shuffle measured as pure overhead at both sf0.1 and sf1.0
    toks = d.selectExpr("md5(lower(trim(text))) AS tok").distinct()
    # 52-bit prefix of md5 (13 hex chars), normalized to (0,1): <= 2^52
    # is EXACTLY representable in double, so both engines compute the
    # identical fraction with zero parse-rounding
    h = f"CAST(conv(substring(md5(tok), 1, 13), 16, 10) AS DOUBLE) / {1 << 52}D"
    # the whole sketch is ONE plan (TakeOrdered k → 1-row agg, broadcast
    # cross-joined with the exact count) — no driver-side math/collect
    kth = _agg(
        toks.selectExpr(f"{h} AS h").orderBy(F.asc("h")).limit(k).groupBy(),
        "max(h) AS hk",
        "count(1) AS n",
    )
    ex = _agg(toks.groupBy(), "count(1) AS exact")
    # exact when corpus < k
    est = f"CASE WHEN n >= {k} THEN (n - 1) / hk ELSE CAST(n AS DOUBLE) END"
    return kth.crossJoin(ex).selectExpr(
        f"CAST({k} AS BIGINT) AS k",
        "CAST(exact AS BIGINT) AS exact_distinct",
        f"CAST(floor({est} * 100) AS BIGINT) AS kmv_estimate_e2",
        f"CAST(floor(abs({est} - exact) / exact * 10000) AS BIGINT) AS rel_err_e4",
    )


KMV_SQL = """
    WITH toks AS (
        SELECT DISTINCT md5(lower(trim(text))) AS tok FROM documents
    ),
    h AS (
        SELECT CAST(concat('0x', substr(md5(tok), 1, 13)) AS BIGINT)
               / CAST(4503599627370496 AS DOUBLE) AS h
        FROM toks
    ),
    kth AS (
        SELECT max(h) AS hk, count(*) AS n
        FROM (SELECT h FROM h ORDER BY h LIMIT 256)
    ),
    ex AS (SELECT count(*) AS exact FROM toks)
    SELECT CAST(256 AS BIGINT) AS k,
           CAST(ex.exact AS BIGINT) AS exact_distinct,
           -- floor, not round: Python's int() / Spark's int cast truncate
           CAST(floor((CASE WHEN kth.n >= 256 THEN (kth.n - 1) / kth.hk
                            ELSE CAST(kth.n AS DOUBLE) END) * 100)
                AS BIGINT) AS kmv_estimate_e2,
           CAST(floor(abs((CASE WHEN kth.n >= 256 THEN (kth.n - 1) / kth.hk
                                ELSE CAST(kth.n AS DOUBLE) END) - ex.exact)
                      / ex.exact * 10000) AS BIGINT) AS rel_err_e4
    FROM kth, ex
"""


# ------------------------------------------------ corpus-prep pipeline
# (operators/textpipeline.py — paragraph dedup, quality filters,
# sampling, TF-IDF, PII scrub, sequence packing)

_TP_TOKS_SQL = "list_filter(string_split(text, ' '), x -> x <> '')"


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style chunk-level dedup over the corpus (20-token chunks,
    first occurrence wins; see ``operators/textpipeline.paragraph_dedup``
    for the 100 TB shuffle story: one narrow hash exchange + one doc-id
    rollup)."""
    from go_bqloader_spark.operators.textpipeline import paragraph_dedup

    return paragraph_dedup(_spread(load(spark, sf_dir, "documents"), "doc_id"))


PARAGRAPH_DEDUP_SQL = f"""
    WITH t AS (
        SELECT doc_id, {_TP_TOKS_SQL} AS toks FROM documents
    ), c AS (
        SELECT doc_id,
               unnest(list_transform(range(0, ((len(toks) - 1) // 20) + 1),
                   i -> {{'idx': i,
                          'h': md5(array_to_string(
                                   list_slice(toks, i * 20 + 1, i * 20 + 20),
                                   ' '))}})) AS u
        FROM t WHERE len(toks) > 0
    ), r AS (
        SELECT doc_id, u.idx AS chunk_idx,
               row_number() OVER (PARTITION BY u.h
                                  ORDER BY doc_id, u.idx) AS rn
        FROM c
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_chunks,
           CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dropped_chunks
    FROM r GROUP BY doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (duplicate-token fraction
    + top-bigram mass), integer-scaled; the boolean flag is emitted as
    BIGINT 0/1 for hash stability."""
    from go_bqloader_spark.operators.textpipeline import repetition_stats

    r = repetition_stats(_spread(load(spark, sf_dir, "documents"), "doc_id"))
    return r.selectExpr(
        "doc_id", "n_tokens", "dup_ratio_e6", "top_bigram_n",
        "top_bigram_e6", "CAST(low_quality AS BIGINT) AS low_quality",
    )


REPETITION_SQL = f"""
    WITH t AS (
        SELECT doc_id, {_TP_TOKS_SQL} AS toks FROM documents
    ), b AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
               unnest(list_transform(range(1, len(toks)),
                   i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        FROM t WHERE len(toks) >= 2
    ), g AS (
        SELECT doc_id, n_tokens, n_distinct, bigram, count(*) AS c
        FROM b GROUP BY ALL
    ), d AS (
        SELECT doc_id, n_tokens, n_distinct,
               CAST(max(c) AS BIGINT) AS top_bigram_n,
               CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM g GROUP BY doc_id, n_tokens, n_distinct
    )
    SELECT doc_id, n_tokens,
           (n_tokens - n_distinct) * 1000000 // n_tokens AS dup_ratio_e6,
           top_bigram_n,
           top_bigram_n * 1000000 // n_bigrams AS top_bigram_e6,
           CAST(CASE WHEN (n_tokens - n_distinct) * 1000000 // n_tokens
                          > 300000
                       OR top_bigram_n * 1000000 // n_bigrams > 180000
                     THEN 1 ELSE 0 END AS BIGINT) AS low_quality
    FROM d
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source stratified sampling (md5 draw vs a
    seeded per-stratum rate) — zero shuffles, reproducible on any
    cluster size / retry."""
    from go_bqloader_spark.operators.textpipeline import stratified_sample

    s = stratified_sample(load(spark, sf_dir, "documents"), "source")
    return s.selectExpr("doc_id", "source", "_rate_e6 AS rate_e6")


STRATIFIED_SAMPLE_SQL = """
    WITH r AS (
        SELECT doc_id, source,
               (CAST(concat('0x', substr(md5(concat('rate:', source)), 1, 13))
                     AS BIGINT) % 500000) + 100000 AS rate_e6,
               CAST(concat('0x', substr(md5(concat('samp:',
                        CAST(doc_id AS VARCHAR))), 1, 13))
                    AS BIGINT) % 1000000 AS draw
        FROM documents
    )
    SELECT doc_id, source, rate_e6 FROM r WHERE draw < rate_e6
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by integer TF-IDF surrogate
    (``tf * ((N * 1e6) DIV df)`` — monotone in N/df, bit-exact)."""
    from go_bqloader_spark.operators.textpipeline import tfidf_topk

    return tfidf_topk(_spread(load(spark, sf_dir, "documents"), "doc_id"), k=3)


TFIDF_SQL = f"""
    WITH t AS (
        SELECT doc_id, {_TP_TOKS_SQL} AS toks FROM documents
    ), n AS (
        SELECT count(*) AS n_docs FROM t WHERE len(toks) > 0
    ), tfc AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(toks) AS token FROM t)
        GROUP BY doc_id, token
    ), dfc AS (
        SELECT token, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM t)
        GROUP BY token
    ), s AS (
        SELECT tfc.doc_id, tfc.token, tf, df,
               tf * ((n.n_docs * 1000000) // df) AS score_e6
        FROM tfc JOIN dfc USING (token) CROSS JOIN n
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                   ORDER BY score_e6 DESC, token) AS rank
        FROM s
    )
    SELECT doc_id, token, tf, df, score_e6, rank FROM r WHERE rank <= 3
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact parity: deterministic emails/phones are
    planted into the synthetic text (it contains none), then counted and
    redacted; the redacted text is emitted as its md5 so byte-level
    redaction parity is hash-checked without shipping the text."""
    from go_bqloader_spark.operators.textpipeline import pii_scrub

    planted = (
        "concat(text, "
        "CASE WHEN doc_id % 7 = 0 "
        "THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com now') "
        "ELSE '' END, "
        "CASE WHEN doc_id % 11 = 0 THEN ' call 415-555-0134 today' ELSE '' END)"
    )
    d = _spread(load(spark, sf_dir, "documents"), "doc_id").withColumn("text", F.expr(planted))
    return pii_scrub(d).selectExpr(
        "doc_id", "n_emails", "n_phones", "md5(redacted) AS redacted_md5"
    )


PII_SCRUB_SQL = """
    WITH t AS (
        SELECT doc_id,
               concat(text,
                   CASE WHEN doc_id % 7 = 0
                        THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                                    '@example.com now')
                        ELSE '' END,
                   CASE WHEN doc_id % 11 = 0
                        THEN ' call 415-555-0134 today' ELSE '' END) AS t2
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
                '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t2,
                '[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(t2,
                '[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+', '<EMAIL>', 'g'),
                '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g'))
               AS redacted_md5
    FROM t
"""


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream sequence packing (concat-then-cut at 512 tokens,
    64-way sharded so no global sort exists at any scale)."""
    from go_bqloader_spark.operators.textpipeline import pack_sequences

    return pack_sequences(load(spark, sf_dir, "documents"), capacity=512,
                          n_shards=64)


SEQ_PACKING_SQL = f"""
    WITH t AS (
        SELECT doc_id, doc_id % 64 AS shard,
               CAST(len({_TP_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ), p AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM t WHERE n_tokens > 0
    )
    SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM p GROUP BY shard, CAST((cum - n_tokens) // 512 AS BIGINT)
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization parity (``functions/urlnorm.py``): synthetic
    URL variants (case, default ports, fragments, tracking params,
    trailing slash) are derived deterministically from doc_id, then
    canonicalized — the full regex pipeline is compared byte-for-byte
    against the oracle, plus the canonical key each variant collapses
    to. Pure projection (zero shuffles at any scale)."""
    from go_bqloader_spark.functions.urlnorm import canonical_url

    d = _spread(load(spark, sf_dir, "documents").selectExpr("doc_id"), "doc_id")
    host = "concat('ex', CAST(doc_id % 40 AS STRING))"
    i = "CAST(doc_id AS STRING)"
    url = (
        f"CASE WHEN doc_id % 5 = 0 THEN concat('HTTP://', upper({host}), '.ORG/Path/', {i}, "
        "'?utm_source=x&id=', CAST(doc_id % 7 AS STRING)) "
        f"WHEN doc_id % 5 = 1 THEN concat('http://', {host}, '.org:80/Path/', {i}, '#frag') "
        f"WHEN doc_id % 5 = 2 THEN concat('https://', initcap({host}), '.org:443/p', {i}, "
        "'?gclid=abc') "
        f"WHEN doc_id % 5 = 3 THEN concat('https://', {host}, '.org/') "
        f"ELSE concat('http://', {host}, '.org/a', {i}, '?id=1&fbclid=z&b=2') END"
    )
    # canonical_url builds a Column tree (functions/urlnorm.py); the
    # variant it reads is this leaf's text
    return d.select(
        F.expr("doc_id"), F.expr(f"{url} AS url"), canonical_url(F.expr(url)).alias("canon_url")
    )


URL_CANON_SQL = """
    WITH v AS (
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN concat('HTTP://', upper(host), '.ORG/Path/', i,
                                    '?utm_source=x&id=',
                                    CAST(doc_id % 7 AS VARCHAR))
                 WHEN 1 THEN concat('http://', host, '.org:80/Path/', i,
                                    '#frag')
                 WHEN 2 THEN concat('https://',
                                    concat(upper(substr(host, 1, 1)),
                                           substr(host, 2)),
                                    '.org:443/p', i, '?gclid=abc')
                 WHEN 3 THEN concat('https://', host, '.org/')
                 ELSE concat('http://', host, '.org/a', i,
                             '?id=1&fbclid=z&b=2')
               END AS url
        FROM (SELECT doc_id,
                     concat('ex', CAST(doc_id % 40 AS VARCHAR)) AS host,
                     CAST(doc_id AS VARCHAR) AS i
              FROM documents)
    ), s1 AS (
        SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS u FROM v
    ), s2 AS (
        SELECT doc_id, url,
               concat(lower(regexp_extract(u,
                          '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
                      substr(u, len(regexp_extract(u,
                          '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1))
                   AS u
        FROM s1
    ), s3 AS (
        SELECT doc_id, url,
               regexp_replace(regexp_replace(u,
                   '^(http://[^/?#:]+):80($|[/?])', '\\1\\2'),
                   '^(https://[^/?#:]+):443($|[/?])', '\\1\\2') AS u
        FROM s2
    ), s4 AS (
        SELECT doc_id, url,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(u,
                '&(utm_[a-z]+|gclid|fbclid|ref)=[^&]*', '', 'g'),
                '[?](utm_[a-z]+|gclid|fbclid|ref)=[^&]*&', '?', 'g'),
                '[?](utm_[a-z]+|gclid|fbclid|ref)=[^&]*$', '', 'g'),
                '[?&]$', '', 'g') AS u
        FROM s3
    )
    SELECT doc_id, url,
           regexp_replace(u, '^([a-z][a-z0-9+.-]*://[^/?#]+)/$', '\\1', 'g')
               AS canon_url
    FROM s4
"""


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per language stratum
    (``operators/textpipeline.corpus_stats``): docs, token/char volume,
    exact-dup count (vs the shared normalized md5 fingerprint), short-doc
    count, integer mean length. One scan; the exchange carries a narrow
    ``(lang, 2 ints, fp)`` projection, never the text."""
    from go_bqloader_spark.operators.textpipeline import corpus_stats

    return corpus_stats(
        _spread(load(spark, sf_dir, "documents"), "doc_id"), group_col="lang"
    )


CORPUS_STATS_SQL = f"""
    WITH t AS (
        SELECT lang AS stratum,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_toks,
               CAST(length(text) AS BIGINT) AS n_chars,
               md5(lower(trim(text))) AS fp
        FROM documents
    )
    SELECT stratum,
           count(*) AS docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(*) - count(DISTINCT fp) AS exact_dup_docs,
           CAST(sum(CASE WHEN n_toks < 32 THEN 1 ELSE 0 END) AS BIGINT)
               AS short_docs,
           CAST((sum(n_toks) * 100) // count(*) AS BIGINT) AS mean_tokens_e2
    FROM t
    GROUP BY stratum
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site rollup on the registrable ("eTLD+1") domain
    (``functions/urlnorm.registrable_domain``): synthetic hosts with
    subdomain depth 0-2 and a TLD mix including two-level public
    suffixes (``co.uk``, ``com.au``) are derived deterministically from
    doc_id, reduced to their registrable domain, and rolled up — the
    standard per-site statistics / politeness-cap / domain-dedup key for
    a crawl corpus. Pure projection + ONE narrow groupBy on the domain
    string; the text reduces map-side to two integers."""
    from go_bqloader_spark.functions.urlnorm import registrable_domain

    d = _spread(load(spark, sf_dir, "documents"), "doc_id")
    host = (
        "concat("
        "CASE WHEN doc_id % 3 = 0 THEN '' WHEN doc_id % 3 = 1 THEN 'www.' "
        "ELSE 'cdn.media.' END, "
        "concat('site', CAST(doc_id % 50 AS STRING)), '.', "
        "CASE WHEN doc_id % 4 = 0 THEN 'com' WHEN doc_id % 4 = 1 THEN 'org' "
        "WHEN doc_id % 4 = 2 THEN 'co.uk' ELSE 'com.au' END)"
    )
    # registrable_domain builds a Column tree (functions/urlnorm.py); the
    # host it reads is this leaf's text
    base = d.select(
        registrable_domain(F.expr(host)).alias("domain"),
        F.expr(f"{host} AS host"),
        F.expr(f"CAST(size({_TOKENS}) AS BIGINT) AS n_toks"),
    )
    return _agg(
        base.groupBy("domain"),
        "count(1) AS docs",
        "count(DISTINCT host) AS distinct_hosts",
        "sum(n_toks) AS total_tokens",
    )


DOMAIN_ROLLUP_SQL = f"""
    WITH v AS (
        SELECT doc_id,
               concat(CASE doc_id % 3 WHEN 0 THEN ''
                                      WHEN 1 THEN 'www.'
                                      ELSE 'cdn.media.' END,
                      'site', CAST(doc_id % 50 AS VARCHAR), '.',
                      CASE doc_id % 4 WHEN 0 THEN 'com'
                                      WHEN 1 THEN 'org'
                                      WHEN 2 THEN 'co.uk'
                                      ELSE 'com.au' END) AS host,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_toks
        FROM documents
    ), r AS (
        SELECT host, n_toks,
               CASE WHEN len(string_split(host, '.')) >= 3
                         AND array_to_string(list_slice(
                                 string_split(host, '.'), -2, -1), '.')
                             IN ('co.uk', 'org.uk', 'ac.uk', 'gov.uk',
                                 'co.jp', 'ne.jp', 'or.jp', 'ac.jp',
                                 'com.au', 'net.au', 'org.au',
                                 'com.br', 'com.cn', 'com.mx', 'com.ar',
                                 'co.in', 'co.kr', 'com.tw', 'com.sg',
                                 'co.za')
                    THEN array_to_string(list_slice(
                             string_split(host, '.'), -3, -1), '.')
                    WHEN len(string_split(host, '.')) >= 2
                    THEN array_to_string(list_slice(
                             string_split(host, '.'), -2, -1), '.')
                    ELSE host END AS domain
        FROM v
    )
    SELECT domain,
           count(*) AS docs,
           count(DISTINCT host) AS distinct_hosts,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens
    FROM r
    GROUP BY domain
"""


def q_windowed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows: per-hour ingest metrics, the windowed
    aggregation a stream would run, in batch mode for oracle checkability."""
    e = load(spark, sf_dir, "events")
    return _agg(
        e.groupBy(F.expr("window(ts, '1 hour') AS w"), "event_type"),
        "count(1) AS n_events",
        "count(DISTINCT user_id) AS n_users",
        "max(event_id) AS max_seq",
    ).selectExpr("w.start AS window_start", "event_type", "n_events", "n_users", "max_seq")


WINDOWED_SQL = """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users,
           max(event_id) AS max_seq
    FROM events GROUP BY 1, 2
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gaps-and-islands: a >30-minute silence per user
    starts a new session (the batch formulation of a session window)."""
    e = load(spark, sf_dir, "events")
    w = "PARTITION BY user_id ORDER BY ts, event_id"
    # microsecond-precise gap (unix_timestamp would truncate to seconds
    # and disagree with the oracle's epoch_us at exact-boundary gaps)
    ts_tz = "CAST(ts AS TIMESTAMP)"  # parquet NTZ → session-UTC instant
    gap = f"unix_micros({ts_tz}) - unix_micros(lag({ts_tz}) OVER ({w}))"
    new_sess = f"CASE WHEN ({gap}) IS NULL OR ({gap}) > 1800000000 THEN 1 ELSE 0 END"
    sess = e.selectExpr("*", f"{new_sess} AS new_sess").selectExpr(
        "*",
        f"sum(new_sess) OVER ({w} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS session_no",
    )
    # epoch-micros BIGINT bounds + integer cents: no timestamp or decimal
    # rendering reaches the driver's hasher
    return _agg(
        sess.groupBy("user_id", "session_no"),
        f"min(unix_micros({ts_tz})) AS session_start_us",
        f"max(unix_micros({ts_tz})) AS session_end_us",
        "count(1) AS n_events",
        "sum(floor(value * 100)) AS sum_value_cents",
    )


SESSIONIZE_SQL = """
    WITH flagged AS (
        SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_no
        FROM flagged
    )
    SELECT user_id, session_no,
           min(epoch_us(ts)) AS session_start_us,
           max(epoch_us(ts)) AS session_end_us,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM numbered GROUP BY user_id, session_no
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detection (the skew the salted dedup absorbs): top-20 keys
    by change volume, deterministic tie-break."""
    e = load(spark, sf_dir, "events")
    return (
        _agg(e.groupBy("user_id"), "count(1) AS n_events")
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(20)
    )


HEAVY_SQL = """
    SELECT user_id, count(*) AS n_events FROM events
    GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 20
"""


# ----------------------------------------------------- relational breadth
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate over lineitem (partial+final hash agg).
    Money is fixed-point: per-row ``floor(x * scale)`` in IEEE double
    (bit-identical across engines) summed as exact BIGINTs, so the result
    is independent of summation order AND hash-stable."""
    li = load(spark, sf_dir, "lineitem")
    # double literals (1.0D): a bare 1.0 is DECIMAL in Spark SQL
    disc = "l_extendedprice * (1.0D - l_discount) * 1000000.0D"
    return _agg(
        li.where("l_shipdate <= '1998-09-01'").groupBy("l_returnflag", "l_linestatus"),
        "sum(floor(l_quantity * 100)) AS sum_qty_e2",
        "sum(floor(l_extendedprice * 100)) AS sum_base_price_e2",
        f"sum(floor({disc})) AS sum_disc_price_e6",
        "count(1) AS count_order",
    )


PRICING_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty_e2,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_base_price_e2,
           CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 1000000.0)
                         AS BIGINT)) AS BIGINT) AS sum_disc_price_e6,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
"""


def q_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join enrichment: events → nation dim (25 rows) — the
    canonical small-dim join a CDC pipeline does per batch; the dim is
    explicitly broadcast so no shuffle of the fact side."""
    e = load(spark, sf_dir, "events")
    n = load(spark, sf_dir, "nation")
    joined = e.selectExpr("*", "CAST(user_id % 25 AS BIGINT) AS nk").join(
        n.hint("broadcast"), F.expr("nk = n_nationkey")
    )
    return _agg(
        joined.groupBy("n_name"),
        "count(1) AS n_events",
        "sum(floor(value * 100)) AS sum_value_cents",
    )


BROADCAST_SQL = """
    SELECT n_name, count(*) AS n_events,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_cents
    FROM events JOIN nation ON (user_id % 25) = n_nationkey
    GROUP BY n_name
"""


DEDUP_CLUSTERS_SQL = DEDUP_CLUSTERS_SQL.format(BANDS=MINHASH_BANDS_CTE)

# ------------------------------------------------------------------ registry
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lww_dedup": q_lww_dedup,
    "salted_lww_dedup": q_salted_lww_dedup,
    "cdc_merge_state": q_cdc_merge_state,
    "cdc_batch_metrics": q_cdc_batch_metrics,
    "clean_number": q_clean_number,
    "date_normalize": q_date_normalize,
    "era_dates": q_era_dates,
    "timestamp_normalize": q_timestamp_normalize,
    "skip_leading_rows": q_skip_leading_rows,
    "null_skip_project": q_null_skip_project,
    "payment_month_append": q_payment_month_append,
    "kanji_dates": q_kanji_dates,
    "column_shift_project": q_column_shift_project,
    "csv_file_pipeline": q_csv_file_pipeline,
    "handler_fanout": q_handler_fanout,
    "lazy_quotes": q_lazy_quotes,
    "lsh_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "exact_dedup": q_exact_dedup,
    "doc_fingerprint": q_doc_fingerprint,
    "token_stats": q_token_stats,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh": q_minhash_lsh,
    "dedup_clusters": q_dedup_clusters,
    "ann_cosine_topk": q_ann_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "bpe_token_stats": q_bpe_token_stats,
    "vocab_topk": q_vocab_topk,
    "kmv_distinct": q_kmv_distinct,
    "paragraph_dedup": q_paragraph_dedup,
    "repetition_stats": q_repetition_stats,
    "stratified_sample": q_stratified_sample,
    "tfidf_topk": q_tfidf_topk,
    "pii_scrub": q_pii_scrub,
    "seq_packing": q_seq_packing,
    "url_canonicalize": q_url_canonicalize,
    "corpus_stats": q_corpus_stats,
    "domain_rollup": q_domain_rollup,
    "windowed_metrics": q_windowed_metrics,
    "sessionize": q_sessionize,
    "heavy_hitters": q_heavy_hitters,
    "pricing_summary": q_pricing_summary,
    "broadcast_enrich": q_broadcast_enrich,
}

ORACLE_SQL: dict[str, str] = {
    "lww_dedup": LWW_SQL,
    "salted_lww_dedup": LWW_SQL,
    "cdc_merge_state": CDC_MERGE_SQL,
    "cdc_batch_metrics": CDC_METRICS_SQL,
    "clean_number": CLEAN_NUMBER_SQL,
    "date_normalize": DATE_NORM_SQL,
    "era_dates": ERA_SQL,
    "timestamp_normalize": TS_NORM_SQL,
    "skip_leading_rows": SKIP_ROWS_SQL,
    "null_skip_project": NULL_SKIP_SQL,
    "payment_month_append": PAYMENT_MONTH_SQL,
    "kanji_dates": KANJI_SQL,
    "column_shift_project": COLUMN_SHIFT_SQL,
    "csv_file_pipeline": CSV_PIPELINE_SQL,
    "handler_fanout": HANDLER_FANOUT_SQL,
    "lazy_quotes": LAZY_QUOTES_SQL,
    "lsh_topk": LSH_TOPK_SQL,
    "ivf_topk": IVF_TOPK_SQL,
    "exact_dedup": EXACT_DEDUP_SQL,
    "doc_fingerprint": FINGERPRINT_SQL,
    "token_stats": TOKEN_STATS_SQL,
    "lang_id": LANG_ID_SQL,
    "quality_score": QUALITY_SQL,
    "ngram_jaccard": NGRAM_JACCARD_SQL,
    "minhash_lsh": MINHASH_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "ann_cosine_topk": ANN_SQL,
    "embedding_near_dup": EMB_NEAR_DUP_SQL,
    "bpe_token_stats": BPE_TOKEN_SQL,
    "vocab_topk": VOCAB_SQL,
    "kmv_distinct": KMV_SQL,
    "paragraph_dedup": PARAGRAPH_DEDUP_SQL,
    "repetition_stats": REPETITION_SQL,
    "stratified_sample": STRATIFIED_SAMPLE_SQL,
    "tfidf_topk": TFIDF_SQL,
    "pii_scrub": PII_SCRUB_SQL,
    "seq_packing": SEQ_PACKING_SQL,
    "url_canonicalize": URL_CANON_SQL,
    "corpus_stats": CORPUS_STATS_SQL,
    "domain_rollup": DOMAIN_ROLLUP_SQL,
    "windowed_metrics": WINDOWED_SQL,
    "sessionize": SESSIONIZE_SQL,
    "heavy_hitters": HEAVY_SQL,
    "pricing_summary": PRICING_SQL,
    "broadcast_enrich": BROADCAST_SQL,
}
