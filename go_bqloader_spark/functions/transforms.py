"""Reference-parity vectorized transforms (the ``Projector`` library).

Each function here reproduces, column-vectorized and JVM-side, one of the
per-row Go projector behaviors catalogued in SURVEY.md §2.2 (T1-T10). The
reference applies these row-at-a-time inside goroutine batches
(``/root/reference/handler.go:141-186``); here they are plain Catalyst
expressions, so they stay inside whole-stage codegen — no Python in the
hot path at all.

Every function takes SQL expression text — a column name is one
(``clean_number("amount")``), so is any expression
(``clean_number("concat('-', raw)")``) — and returns SQL expression text.
The results compose by nesting and go into one ``selectExpr`` (or
``F.expr``), exactly like the reference composes projector closures. Text
rather than ``Column`` trees: every ``Column`` call costs 11–13 py4j round
trips from Python, while a text expression is parsed in the JVM in one.
The input text is inlined wherever the transform reads it, as a
``Column`` tree would be. Values from the caller (formats, patterns, time
zones) enter the text only through :func:`sql_str`.
"""

from __future__ import annotations


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal: in single quotes, each
    backslash and quote escaped, so any text (a regex, a format with quoted
    literal text) reads back verbatim. The one way a Python string becomes
    a literal in the plans' SQL text."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_name(name: str) -> str:
    """``name`` as a SQL identifier: in backticks, an inner backtick
    doubled. The one way a caller's column name enters the plans' SQL text."""
    return "`" + name.replace("`", "``") + "`"


def clean_number(expr: str) -> str:
    """T5 — CleanNumber (``/root/reference/contrib/handlers/handlers.go:36-51``).

    Keep digits and ``.``; keep ``-`` only when it is the first character of
    the original string; a result of exactly ``-`` becomes ``""``.
    Golden cases (``handlers_test.go:80-90``): ``¥12345-`` → ``12345``,
    ``-12,345`` → ``-12345``, ``306.4800USD`` → ``306.4800``, ``-`` → ``""``.

    Implemented without lookahead so an identical RE2-safe formulation runs
    in the DuckDB oracle: strip everything outside ``[0-9.]``, then re-apply
    a leading ``-`` if the original started with one.
    """
    stripped = f"regexp_replace({expr}, '[^0-9.]', '')"
    signed = (
        f"CASE WHEN startswith({expr}, '-') THEN concat('-', {stripped}) "
        f"ELSE {stripped} END"
    )
    return f"CASE WHEN {signed} = '-' THEN '' ELSE {signed} END"


def normalize_date(expr: str, fmt: str = "yyyy/MM/dd") -> str:
    """T1 — date normalize ``yyyy/MM/dd`` → ``yyyy-MM-dd``.

    Reference: ``/root/reference/contrib/handlers/sbi_sumishin_net_bank.go:16-21``
    (Go ``time.Parse("2006/01/02")`` then ISO format). Unparseable input
    yields NULL (the Go version aborts the load; the engine surfaces NULLs
    to a quarantine filter instead — see operators.merge).
    """
    return f"date_format(try_to_date({expr}, {sql_str(fmt)}), 'yyyy-MM-dd')"


def normalize_date_compact(expr: str) -> str:
    """T2 — ``yyyyMMdd`` → ``yyyy-MM-dd``
    (``/root/reference/contrib/handlers/rakuten_bank.go:16-21``)."""
    return normalize_date(expr, "yyyyMMdd")


def normalize_date_kanji(expr: str) -> str:
    """T3 — Japanese-locale ``2006年01月02日`` → ``yyyy-MM-dd``
    (``/root/reference/contrib/handlers/sony_bank.go:16-21``).

    DateTimeFormatter accepts quoted literal text, so the kanji delimiters
    are matched directly — still a JVM-side expression.
    """
    return normalize_date(expr, "yyyy'年'MM'月'dd'日'")


# Era bases from /root/reference/contrib/handlers/smbc.go:24-31:
# Heisei N -> 1988+N, Reiwa N -> 2018+N. Showa is explicitly unsupported.
_ERA_BASE = {"H": 1988, "R": 2018}
_GREGORIAN_RE = r"^\d{4}/\d{1,2}/\d{1,2}$"
_ERA_RE = r"^[HR]\d{2}\.\d{2}\.\d{2}$"


def parse_era_date(expr: str) -> str:
    """T4 — wareki (era) date parse
    (``/root/reference/contrib/handlers/smbc.go:15-41``).

    Accepts non-padded Gregorian ``yyyy/M/d`` OR the 9-char era form
    ``[HR]NN.MM.DD`` (H=Heisei base 1988, R=Reiwa base 2018). Anything else
    (including Showa ``S``) is NULL, mirroring the reference's error path.
    Returns ``yyyy-MM-dd`` strings. Pure Catalyst expression: regex branch +
    ``try_to_date``.
    """
    gregorian = normalize_date(expr, "yyyy/M/d")
    letter = f"substring({expr}, 1, 1)"
    base = " ".join(f"WHEN {letter} = {sql_str(k)} THEN {v}" for k, v in _ERA_BASE.items())
    year, month, day = (f"CAST(substring({expr}, {i}, 2) AS INT)" for i in (2, 5, 8))
    # build the Gregorian string then try_to_date, so out-of-range month/day
    # degrades to NULL (ANSI-safe) exactly like Go's time.Parse error path
    ymd = (
        f"concat_ws('-', CAST(CASE {base} ELSE CAST(NULL AS INT) END + {year} AS STRING), "
        f"CAST({month} AS STRING), CAST({day} AS STRING))"
    )
    era = normalize_date(ymd, "yyyy-M-d")
    return (
        f"CASE WHEN {expr} RLIKE {sql_str(_GREGORIAN_RE)} THEN {gregorian} "
        f"WHEN {expr} RLIKE {sql_str(_ERA_RE)} THEN {era} "
        "ELSE CAST(NULL AS STRING) END"
    )


def normalize_timestamp(
    expr: str,
    fmt: str = "yyyy/MM/dd HH:mm:ss",
    assume_tz: str = "Asia/Tokyo",
) -> str:
    """Timezone-aware timestamp normalization (north-star invariant).

    The reference's inputs are Japanese bank exports whose timestamps are
    implicitly JST wall-clock; BigQuery coerces the projected strings
    server-side. The engine makes the conversion explicit and lossless:
    parse the wall-clock string with ``fmt``, interpret it in ``assume_tz``
    (strings carrying an explicit offset pattern in ``fmt`` win), and
    return a UTC timestamp. Unparseable input → NULL (ANSI-safe).
    """
    # session TZ is UTC (session.py), so try_to_timestamp yields the
    # wall-clock instant AS IF UTC; reinterpret it as assume_tz wall time
    return f"to_utc_timestamp(try_to_timestamp({expr}, {sql_str(fmt)}), {sql_str(assume_tz)})"


def payment_month_from_path(
    path_expr: str,
    pattern: str = r"/(\d{6})\.csv$",
    fmt: str = "yyyyMM",
) -> str:
    """T7/O6 — preprocessor-derived column: payment month from the file name
    (``/root/reference/contrib/handlers/smbc_card.go:46-58``).

    The reference stashes the month in ``context.Context`` per file and
    appends it per row; here it is a derived column from the path —
    a month token in the name becomes a ``yyyy-MM-01`` date string.
    ``pattern``/``fmt`` vary per handler: smbc_card ``/(\\d{6})\\.csv$`` +
    ``yyyyMM``; amex_csv ``/(\\d{4}-\\d{2})\\.csv$`` + ``yyyy-MM``
    (``amex_csv.go:16-30``); rakuten_card ``enavi(\\d{6})\\(`` + ``yyyyMM``
    (``rakuten_card.go:20-32``).
    """
    ym = f"regexp_extract({path_expr}, {sql_str(pattern)}, 1)"
    return (
        f"CASE WHEN {ym} = '' THEN CAST(NULL AS STRING) "
        f"ELSE {normalize_date(ym, fmt)} END"
    )
