"""Web-page (Common-Crawl-style) column functions.

The engine's payload rows are ``(url, warc_ts, html binary, text, lang)``
per BASELINE.json ``input_hint``. ``text`` must be byte-identical to the
deterministic extraction of ``html`` after any replay — that invariant is
the engine's analog of the reference's per-row transform equivalence tests
(``/root/reference/contrib/handlers/*_test.go`` golden matrices).

``extract_text`` is a pure Catalyst expression (decode → strip tags →
collapse whitespace → trim), so extraction runs JVM-side inside codegen.
``extract_text_py`` is the same function in plain Python, used by tests and
oracles to cross-check byte identity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_TAG_RE = r"<[^>]*>"
_WS_RE = r"\s+"


def extract_text(html_col: Column | str) -> Column:
    """Deterministic html(binary, utf-8) → extracted text.

    Strip tags, collapse runs of whitespace to single spaces, trim.
    """
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    s = F.decode(c, "UTF-8")
    no_tags = F.regexp_replace(s, _TAG_RE, " ")
    return F.trim(F.regexp_replace(no_tags, _WS_RE, " "))


def extract_text_py(html: bytes) -> str:
    """Python mirror of :func:`extract_text` for oracle cross-checks."""
    s = html.decode("utf-8")
    no_tags = re.sub(_TAG_RE, " ", s)
    return re.sub(_WS_RE, " ", no_tags).strip()


def project_page_batch(df, html_col: str = "html"):
    """The per-batch page projector — the engine's analog of the reference's
    ``project`` stage (``/root/reference/handler.go:141-186``), fully
    vectorized as Catalyst expressions (no Python in the row path):

    - re-extract ``text`` from the html payload (so the byte-identity
      invariant is enforced at ingest, not trusted from the feed),
    - token count + stopword ratio (quality scoring),
    - heuristic language guess for rows whose feed ``lang`` is NULL
      (pre-schema-evolution rows).

    Null html (deletes) projects to NULL columns, mirroring the
    reference's nil-row tolerance.
    """
    from pyspark.sql import functions as F  # local to avoid cycle at import

    text = extract_text(F.col(html_col))
    df = df.withColumn("text", text)
    toks = F.expr("filter(split(text, ' '), x -> x <> '')")
    stops = F.expr(
        "filter(split(text, ' '), x -> x IN ('the','a','of','and','to','in','is'))"
    )
    n_tokens = F.size(toks)
    stop_ratio = F.when(
        n_tokens > 0, F.size(stops).cast("double") / n_tokens
    ).otherwise(F.lit(None).cast("double"))
    lang_guess = F.coalesce(
        F.col("lang"), F.when(stop_ratio >= 0.05, F.lit("en")).otherwise(F.lit("und"))
    )
    return (
        df.withColumn("n_tokens", F.when(F.col(html_col).isNull(), F.lit(None).cast("int")).otherwise(n_tokens))
        .withColumn("stop_ratio", F.when(F.col(html_col).isNull(), F.lit(None).cast("double")).otherwise(stop_ratio))
        .withColumn("lang", F.when(F.col(html_col).isNull(), F.lit(None).cast("string")).otherwise(lang_guess))
    )


def make_html(title_col: Column, body_col: Column) -> Column:
    """Render a deterministic pseudo-HTML page as binary (utf-8).

    Used by the synthetic change-feed generator; the container has no real
    HTML corpus, so pages are templated. ``extract_text(make_html(t, b))``
    == ``trim(t + ' ' + b)`` by construction, which makes the byte-identity
    invariant checkable end-to-end.
    """
    doc = F.concat(
        F.lit("<html><head><title>"),
        title_col,
        F.lit("</title></head><body><h1>"),
        title_col,
        F.lit("</h1><p>"),
        body_col,
        F.lit("</p></body></html>"),
    )
    return F.encode(doc, "UTF-8")
