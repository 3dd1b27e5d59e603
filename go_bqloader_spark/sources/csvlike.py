"""CSV-variant file sources: the reference's extract→decode→parse stages.

The reference reads ONE storage object per event, fully materialized
(``/root/reference/parser.go:15-23`` ReadAll), optionally Shift-JIS decoded
(``handler.go:112-114``), with custom parsers that pre-filter raw lines
(``contrib/handlers/handlers.go:61-77`` PartialCSVParser;
``smbc_card.go:23-44`` line-shape filter). This module reproduces those
semantics as ONE Catalyst pipeline over the ``binaryFile`` source:

    binaryFile → decode(charset) → split(lines) → slice(head/tail skip)
    → posexplode → line filter → from_csv

Everything stays JVM-side; a whole file is one row until the explode, which
matches the reference's whole-file materialization exactly — and because it
is a DataFrame source, thousands of files parse in parallel across the
cluster (the reference does one goroutine per event).

For bulk ingest of well-formed CSV at scale prefer ``spark.read.csv``
(streaming, splittable); these readers are for parity with the quirky
per-file formats (bank exports with preambles, noise lines, SJIS).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _enable_jvm_charsets(spark: SparkSession) -> None:
    # Spark 4 limits decode() to a short charset allowlist by default;
    # Shift-JIS (O3, /root/reference/handler.go:112-114) needs the full
    # JVM charset set back
    spark.conf.set("spark.sql.legacy.javaCharsets", "true")


_GLOB_CHARS = frozenset("*?[{")


def _load_files(spark: SparkSession, path: str) -> DataFrame:
    """The ``binaryFile`` rows of ``path``, a file, a directory or a glob.
    Spark probes a lone load path for a streaming sink's metadata
    directory, and a glob names no file, so the probe logged a
    ``FileNotFoundException`` stack trace on every load. A glob in the
    last path part alone loads the parent directory instead, keeping the
    files whose names match (``pathGlobFilter``): for a directory of
    plain files (no partition-style ``k=v`` subdirectory, no file whose
    name starts with ``_`` or ``.``), the files the glob names."""
    reader = spark.read.format("binaryFile")
    parent, _, name = path.rpartition("/")
    if parent and _GLOB_CHARS.intersection(name) and not _GLOB_CHARS.intersection(parent):
        return reader.option("pathGlobFilter", name).load(parent)
    return reader.load(path)


def _sliced_lines(encoding: str, sep: str, skip_head: int, skip_tail: int) -> Column:
    """Exact PartialCSVParser slicing
    (``/root/reference/contrib/handlers/handlers.go:61-77``): split the raw
    body on ``sep`` and take ``lines[head : len-tail]`` — the tail skip
    counts the trailing empty element a final newline produces, exactly
    like the reference (callers of newline-terminated files pass
    ``skip_tail_rows = n_noise_lines + 1``)."""
    body = F.decode(F.col("content"), encoding)
    lines = F.split(body, sep)
    n = F.size(lines)
    keep = F.greatest(n - skip_head - skip_tail, F.lit(0))
    return F.slice(lines, skip_head + 1, keep)


def read_csv_files(
    spark: SparkSession,
    path: str,
    schema: str,
    encoding: str = "UTF-8",
    sep: str = "\n",
    skip_head_rows: int = 0,
    skip_tail_rows: int = 0,
    skip_parsed_rows: int = 0,
    line_filter: Column | str | None = None,
    csv_options: dict[str, str] | None = None,
    keep_path: bool = False,
) -> DataFrame:
    """P1 PartialCSVParser (+O5 leading-row skip, +P2 line filters) as one
    declarative plan.

    - ``skip_head_rows``/``skip_tail_rows``: drop N raw lines at each end
      per file (``/root/reference/contrib/handlers/handlers.go:61-77``).
    - ``skip_parsed_rows``: drop the first N PARSED rows per file — the
      exact ``SkipLeadingRows`` semantics (``handler.go:121``: the slice
      happens AFTER csv parsing, so blank lines between the raw head and
      the header do not count). Differs from ``skip_head_rows`` exactly
      when blank/filtered lines precede the header.
    - ``line_filter``: predicate over the ``line`` column, SQL text or a
      ``Column``, applied BEFORE CSV parsing — e.g. the SMBC-card
      date-prefix shape filter (``smbc_card.go:31-36``):
      ``"substring(line, 5, 1) = '/'"``.
    - ``schema``: DDL for the parsed columns (all-string for parity with
      the reference's ``[]string`` rows).
    """
    _enable_jvm_charsets(spark)
    raw = _load_files(spark, path)
    body = _sliced_lines(encoding, sep, skip_head_rows, skip_tail_rows)
    df = raw.select(F.col("path"), F.posexplode(body).alias("line_no", "line"))
    if sep == "\n":
        # CRLF robustness beyond the reference (which expects callers to
        # pass sep="\r\n"): strip one trailing \r so mixed-ending exports
        # parse identically
        df = df.withColumn("line", F.regexp_replace("line", r"\r$", ""))
    # Go's csv reader skips blank lines entirely (RFC-4180 empty record);
    # mirror that AFTER the head/tail slice, exactly like the reference's
    # join-then-parse pipeline (handlers.go:69-70)
    df = df.filter(F.col("line") != "")
    if line_filter is not None:
        df = df.filter(line_filter)
    if skip_parsed_rows:
        from pyspark.sql import Window

        w = Window.partitionBy("path").orderBy("line_no")
        df = (
            df.withColumn("__prn", F.row_number().over(w))
            .filter(F.col("__prn") > skip_parsed_rows)
            .drop("__prn")
        )
    parsed = F.from_csv(F.col("line"), schema, csv_options or {})
    out = df.select("path", "line_no", parsed.alias("row")).select(
        "path", "line_no", "row.*"
    )
    # []string parity: Go's csv yields "" for empty fields where from_csv
    # yields NULL — coalesce string columns so golden matrices match
    # (/root/reference/parser.go:12)
    fixes = {
        f.name: F.coalesce(F.col(f.name), F.lit(""))
        for f in out.schema.fields
        if f.dataType.simpleString() == "string" and f.name not in ("path",)
    }
    out = out.withColumns(fixes)
    return out if keep_path else out.drop("path", "line_no")
