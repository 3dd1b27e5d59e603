"""Handler registry + event fan-out (O1) and pre-configured handlers.

The reference dispatches one storage event to every handler whose regex
matches the object name, concurrently, failing the event if ANY handler
fails while still running the others (``/root/reference/bqloader.go:105-137``,
errgroup at 119-128), and ALWAYS notifies per (event, handler)
(``handler.go:67-98``). This module reproduces that contract:

- :class:`Handler` — (name, pattern, reader, projector, sink): the Spark
  restatement of ``/root/reference/handler.go:20-48``. ``reader`` builds a
  DataFrame from the event path (extract+decode+parse); ``projector`` is a
  vectorized bundle of SQL expressions (never per-row Python) built from
  the text the ``functions.transforms`` library returns; ``sink``
  loads (LakeTable.merge / append / parquet write).
- :class:`Registry` — ``dispatch(path)`` fans out to all matching
  handlers; every matching handler runs even after a failure; the first
  error is raised after the fan-out completes (errgroup semantics);
  results (the Notifier payload, ``notifier.go:22-26``) go to an optional
  callback.
- Pre-configured handler factories mirroring the reference's contrib
  library (``contrib/handlers/handlers.go:25-33`` TableGenerator pattern),
  each citing the Go projector it reproduces.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_bqloader_spark.functions.transforms import (
    clean_number,
    normalize_date,
    normalize_date_compact,
    normalize_date_kanji,
    parse_era_date,
    payment_month_from_path,
)
from go_bqloader_spark.sources.csvlike import read_csv_files
from go_bqloader_spark.sources.xlsbiff import read_xls_files


@dataclass
class Result:
    """Per-(event, handler) outcome — the Notifier payload
    (``/root/reference/notifier.go:22-26``)."""

    handler: str
    path: str
    error: Exception | None = None
    rows: int = -1

    def message(self) -> str:
        """The reference's notification text, verbatim format
        (``/root/reference/notifier.go:70-74``)."""
        if self.error is None:
            return (
                f":white_check_mark: {self.handler} handler successfully "
                f"loaded {self.path}"
            )
        return f":x: {self.handler} handler failed to load {self.path}: {self.error}"


@dataclass
class Handler:
    name: str
    pattern: str
    reader: Callable[[SparkSession, str], DataFrame]
    projector: Callable[[DataFrame], DataFrame] = lambda df: df
    sink: Callable[[DataFrame], int] | None = None

    def matches(self, path: str) -> bool:
        return re.search(self.pattern, path) is not None

    def run(self, spark: SparkSession, path: str) -> DataFrame:
        return self.projector(self.reader(spark, path))


@dataclass
class Registry:
    """Handler registry with errgroup-style fan-out.

    ``concurrency`` mirrors the reference's ``WithConcurrency`` option
    (``/root/reference/option.go:41-47``, default 1 at ``bqloader.go:30``):
    matching handlers run in a thread pool of that size — Spark's scheduler
    is thread-safe, so concurrent handlers overlap their job scheduling
    exactly like the reference's goroutines overlap network IO."""

    handlers: list[Handler] = field(default_factory=list)
    notify: Callable[[Result], None] | None = None
    concurrency: int = 1

    def add(self, handler: Handler) -> None:
        if any(h.name == handler.name for h in self.handlers):
            raise ValueError(f"duplicate handler {handler.name}")
        self.handlers.append(handler)

    def _run_one(self, spark: SparkSession, h: Handler, path: str) -> Result:
        res = Result(handler=h.name, path=path)
        try:
            df = h.run(spark, path)
            res.rows = h.sink(df) if h.sink else df.count()
        except Exception as e:  # noqa: BLE001 — reference surfaces, not masks
            res.error = e
        return res

    def dispatch(self, spark: SparkSession, path: str) -> list[Result]:
        """Fan out one event; ALL matching handlers run (an error doesn't
        stop siblings — ``/root/reference/bqloader.go:119-128`` errgroup);
        notify per result (always, even on error — ``handler.go:89-95``);
        raise the first error after the fan-out completes. Results and
        notifications are in registration order (deterministic; the
        reference's completion order is scheduler-dependent)."""
        matched = [h for h in self.handlers if h.matches(path)]
        if self.concurrency > 1 and len(matched) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=self.concurrency) as pool:
                results = list(
                    pool.map(lambda h: self._run_one(spark, h, path), matched)
                )
        else:
            results = [self._run_one(spark, h, path) for h in matched]
        if self.notify:
            for res in results:
                self.notify(res)
        first_err = next((r.error for r in results if r.error), None)
        if first_err is not None:
            raise first_err
        return results


# ------------------------------------------------ pre-configured handlers
def _string_schema(cols: list[str]) -> str:
    return ", ".join(f"{c} string" for c in cols)


def _with(df: DataFrame, **exprs: str) -> DataFrame:
    """``df`` with each named column set to its SQL expression text, in
    place where the column exists (the transforms return text)."""
    return df.withColumns({name: F.expr(e) for name, e in exprs.items()})


def sbi_sumishin_net_bank_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/sbi_sumishin_net_bank.go:14-45``:
    Shift-JIS CSV, skip 1 header row, date ``yyyy/MM/dd``→ISO on col 0,
    CleanNumber on cols 2, 3, 4."""
    cols = ["date", "description", "withdrawal", "deposit", "balance", "memo"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(cols), encoding="shift_jis",
            skip_parsed_rows=1,
        )

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df,
            date=normalize_date("date"),
            withdrawal=clean_number("withdrawal"),
            deposit=clean_number("deposit"),
            balance=clean_number("balance"),
        )

    return Handler(name, pattern, reader, projector, sink)


def sony_bank_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/sony_bank.go:14-45``: UTF-8 CSV, skip 1
    header, kanji date (``2006年01月02日``) on col 0, CleanNumber cols 2-4."""
    cols = ["date", "description", "withdrawal", "deposit", "balance"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(spark, path, _string_schema(cols), skip_parsed_rows=1)

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df,
            date=normalize_date_kanji("date"),
            withdrawal=clean_number("withdrawal"),
            deposit=clean_number("deposit"),
            balance=clean_number("balance"),
        )

    return Handler(name, pattern, reader, projector, sink)


def rakuten_bank_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/rakuten_bank.go:14-40``: compact
    ``yyyyMMdd`` dates on col 0, CleanNumber on amounts."""
    cols = ["date", "description", "amount", "balance"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(spark, path, _string_schema(cols), skip_parsed_rows=1)

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df,
            date=normalize_date_compact("date"),
            amount=clean_number("amount"),
            balance=clean_number("balance"),
        )

    return Handler(name, pattern, reader, projector, sink)


def smbc_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/smbc.go:43-76``: wareki/era or
    non-padded Gregorian dates on col 0 (``parseSMBCDate``)."""
    cols = ["date", "withdrawal", "deposit", "description", "balance"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(cols), encoding="shift_jis",
            skip_parsed_rows=1,
        )

    def projector(df: DataFrame) -> DataFrame:
        return _with(df, date=parse_era_date("date"))

    return Handler(name, pattern, reader, projector, sink)


def smbc_card_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/smbc_card.go:14-90``: keep only lines
    whose 5th char is ``/`` (P2 line-shape filter, smbc_card.go:31-36),
    drop rows with empty col 0 (T6, :62-64), ISO-normalize the date, append
    ``payment_month`` derived from the file name ``/(\\d{6}).csv`` (T7/O6,
    :46-58)."""
    cols = ["date", "store", "amount", "installments", "month_count", "pay", "note"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(cols), encoding="shift_jis",
            line_filter="length(line) > 4 AND substring(line, 5, 1) = '/'",
            keep_path=True,
        )

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df.where("date IS NOT NULL AND date <> ''"),
            date=normalize_date("date"),
            payment_month=payment_month_from_path("path"),
        ).drop("path", "line_no")

    return Handler(name, pattern, reader, projector, sink)


def amex_statement_csv(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/amex_csv.go:13-85`` (T9 column
    shift/overwrite): Shift-JIS CSV, skip 1 header row; ISO-normalize cols
    0-1; then the in-place shift ``r[4]=CleanNumber(r[5]); r[5]=r[6];
    r[6]=r[7]; r[7]=""`` (amex_csv.go:52-62) and append ``payment_month``
    from ``/(\\d{4}-\\d{2})\\.csv$`` in the file name (amex_csv.go:16-30).

    Spark ``select`` has snapshot semantics — every expression reads the
    PRE-overwrite input row — which matches the Go code exactly because it
    reads each ``r[k]`` before writing it (left-to-right shift)."""
    cols = [
        "date", "proc_date", "description", "member",
        "member_no", "amount_raw", "fx_amount", "fx_rate",
    ]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(cols), encoding="shift_jis",
            skip_parsed_rows=1, keep_path=True,
        )

    def projector(df: DataFrame) -> DataFrame:
        month = payment_month_from_path("path", r"/(\d{4}-\d{2})\.csv$", "yyyy-MM")
        return df.selectExpr(
            f"{normalize_date('date')} AS date",
            f"{normalize_date('proc_date')} AS proc_date",
            "description",
            "member",
            f"{clean_number('amount_raw')} AS amount",  # r[4] = clean(r[5])
            "fx_amount AS fx_currency_amount",  # r[5] = r[6]
            "fx_rate AS exchange_rate",  # r[6] = r[7]
            "'' AS extra",  # r[7] = ""
            f"{month} AS payment_month",
        )

    return Handler(name, pattern, reader, projector, sink)


def rakuten_card_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/rakuten_card.go:17-89`` (P3 lazy-quote
    CSV): UTF-8 CSV parsed with Go's ``LazyQuotes=true`` semantics
    (rakuten_card.go:55-65) — reproduced via uniVocity
    ``unescapedQuoteHandling=STOP_AT_DELIMITER`` — skip 1 header row, drop
    rows with empty first field (rakuten_card.go:35-37), ISO-normalize the
    date, append ``payment_month`` from ``enavi(\\d{6})\\(`` in the file
    name (rakuten_card.go:20-32)."""
    cols = [
        "date", "store", "user", "method", "amount",
        "fee", "total", "monthly_pay", "carryover", "flag",
    ]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(cols), skip_parsed_rows=1,
            csv_options={"unescapedQuoteHandling": "STOP_AT_DELIMITER"},
            keep_path=True,
        )

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df.where("date <> ''"),
            date=normalize_date("date"),
            payment_month=payment_month_from_path("path", r"enavi(\d{6})\(", "yyyyMM"),
        ).drop("path", "line_no")

    return Handler(name, pattern, reader, projector, sink)


def amex_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/amex.go:22-135`` (P4 XLS parser): open
    the BIFF8 workbook, first sheet, keep only rows whose first cell
    matches ``^\\d\\d\\d\\d/\\d\\d/\\d\\d$`` (amex.go:36,55-57), then the Go
    projector (amex.go:91-120): drop empty dates, ISO-normalize cols 0-1,
    CleanNumber col 4, append ``payment_month`` parsed from the object
    name ``/(\\d{4}-\\d{2})\\.xls$`` (amex.go:73-88). Parsing runs on a
    pure-Python [MS-XLS] reader inside ``mapInPandas`` — one executor task
    per workbook file (``sources/xlsbiff.py``)."""
    cols = [
        "date", "proc_date", "description", "member",
        "amount", "fx_currency_amount", "exchange_rate", "extra",
    ]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_xls_files(
            spark, path, cols,
            first_col_pattern=r"^\d\d\d\d/\d\d/\d\d$", keep_path=True,
        )

    def projector(df: DataFrame) -> DataFrame:
        month = payment_month_from_path("path", r"/(\d{4}-\d{2})\.xls$", "yyyy-MM")
        return df.where("date <> ''").selectExpr(
            f"{normalize_date('date')} AS date",
            f"{normalize_date('proc_date')} AS proc_date",
            "description",
            "member",
            f"{clean_number('amount')} AS amount",
            "fx_currency_amount",
            "exchange_rate",
            "extra",
            f"{month} AS payment_month",
        )

    return Handler(name, pattern, reader, projector, sink)


def sbi_securities_global_banking_statement(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/sbi_securities.go:14-57``: Shift-JIS,
    skip a 6-line raw preamble (P1 PartialCSVParser with (6, 0, "\\n"),
    sbi_securities.go:49) THEN one parsed header row (SkipLeadingRows=1,
    :46 — parsed-row semantics, so blank preamble lines don't miscount),
    then project 6 fields in the order [date, r1, r5, r2, clean(r3),
    clean(r4)] (T8 column reorder)."""
    in_cols = ["date", "trade", "summary", "out_amt", "in_amt", "currency"]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(in_cols), encoding="shift_jis",
            skip_head_rows=6, skip_parsed_rows=1,
        )

    def projector(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            f"{normalize_date('date')} AS date",
            "trade",
            "currency",
            "summary",
            f"{clean_number('out_amt')} AS out_amt",
            f"{clean_number('in_amt')} AS in_amt",
        )

    return Handler(name, pattern, reader, projector, sink)


def sbi_securities_global_execution_history(name: str, pattern: str, sink=None) -> Handler:
    """Mirror of ``contrib/handlers/sbi_securities.go:60-103``: Shift-JIS,
    raw preamble skip (6, 0, "\\n") + 1 parsed header row, 12 columns kept
    IN PLACE with dates ISO-normalized at 0 and 10 and CleanNumber at
    8, 9, 11 (sbi_securities.go:62-86)."""
    in_cols = [
        "contract_date", "name", "ticker", "market", "product", "order_type",
        "trade", "account", "quantity", "unit_price", "delivery_date",
        "delivery_amount",
    ]

    def reader(spark: SparkSession, path: str) -> DataFrame:
        return read_csv_files(
            spark, path, _string_schema(in_cols), encoding="shift_jis",
            skip_head_rows=6, skip_parsed_rows=1,
        )

    def projector(df: DataFrame) -> DataFrame:
        return _with(
            df,
            contract_date=normalize_date("contract_date"),
            quantity=clean_number("quantity"),
            unit_price=clean_number("unit_price"),
            delivery_date=normalize_date("delivery_date"),
            delivery_amount=clean_number("delivery_amount"),
        )

    return Handler(name, pattern, reader, projector, sink)
