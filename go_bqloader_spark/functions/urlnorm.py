"""URL canonicalization — the key-normalization pass for a crawl CDC feed.

The engine's change key is ``url``: two crawls of the same page that
differ only in host case, a default port, a fragment, or tracking query
parameters would otherwise occupy distinct keys and defeat LWW merging.
``canonical_url`` collapses those equivalence classes BEFORE the key is
formed (use :func:`canonicalize_projector` in
``start_cdc_stream(projector=...)``, or apply to a batch before
``merge``).

Built as a fixed pipeline of regex rewrites using patterns valid in both
java.util.regex and RE2 (backslash-free, no lookaround), so the exact
same normalization is reproducible in any engine for audits — only the
group-reference syntax differs per engine (``$1`` vs ``\\1``), which
lives in the replacement string, not the pattern.

Steps (order matters):
1. drop the fragment (``#...`` — never sent to the server);
2. lowercase the scheme and authority (host names are case-insensitive;
   paths are NOT touched);
3. drop default ports (``http://h:80`` / ``https://h:443``);
4. drop tracking query parameters (``utm_*``, ``gclid``, ``fbclid``,
   ``ref``) wherever they sit in the query string, then tidy dangling
   ``?``/``&``;
5. collapse a bare root path (``http://h/`` → ``http://h``).

Pure projection — zero shuffles; safe at scan speed on any corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# tracking parameters stripped from query strings (public convention:
# Google Analytics utm_*, Google/Facebook click ids, bare ref)
_TRACK = "(utm_[a-z]+|gclid|fbclid|ref)"

# scheme://authority (group 1) — everything up to the first /, ? or #
_AUTH_RE = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a URL column (see module doc for the steps)."""
    u = F.col(col) if isinstance(col, str) else col
    # 1. fragment
    u = F.regexp_replace(u, "#.*", "")
    # 2. lowercase scheme+authority, keep the rest byte-identical
    auth = F.regexp_extract(u, _AUTH_RE, 1)
    u = F.concat(F.lower(auth), F.substr(u, F.length(auth) + F.lit(1)))
    # 3. default ports
    u = F.regexp_replace(u, "^(http://[^/?#:]+):80($|[/?])", "$1$2")
    u = F.regexp_replace(u, "^(https://[^/?#:]+):443($|[/?])", "$1$2")
    # 4. tracking params: mid-query, leading-with-successor, lone
    u = F.regexp_replace(u, f"&{_TRACK}=[^&]*", "")
    u = F.regexp_replace(u, f"[?]{_TRACK}=[^&]*&", "?")
    u = F.regexp_replace(u, f"[?]{_TRACK}=[^&]*$", "")
    u = F.regexp_replace(u, "[?&]$", "")
    # 5. bare root path
    u = F.regexp_replace(u, "^([a-z][a-z0-9+.-]*://[^/?#]+)/$", "$1")
    return u


# Two-level public suffixes under which the registrable domain is THREE
# labels (a small embedded subset of the well-known public-suffix
# convention — the full Mozilla PSL is an external dataset this engine
# cannot ship; the subset covers the high-traffic ccTLD conventions and
# the heuristic is documented as such). Everything else: two labels.
_TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "co.jp", "ne.jp", "or.jp", "ac.jp",
    "com.au", "net.au", "org.au",
    "com.br", "com.cn", "com.mx", "com.ar",
    "co.in", "co.kr", "com.tw", "com.sg", "co.za",
)


def registrable_domain(host: Column | str) -> Column:
    """Registrable ("eTLD+1") domain of a host column — the key a crawl
    pipeline rolls pages up to for per-site statistics, politeness caps,
    and domain-level dedup.

    Heuristic, not PSL-exact: hosts ending in one of the embedded
    two-level suffixes (``co.uk`` etc., :data:`_TWO_LEVEL_SUFFIXES`) keep
    their last THREE labels; every other multi-label host keeps its last
    TWO; single-label hosts (``localhost``) pass through unchanged.

    Pure Catalyst projection (split + slice + concat_ws) — zero shuffles;
    the rollup that typically follows groups on this narrow string key.
    """
    h = F.col(host) if isinstance(host, str) else host
    labels = F.split(h, "[.]")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, -2, 2))
    last3 = F.concat_ws(".", F.slice(labels, -3, 3))
    return (
        F.when((n >= 3) & last2.isin(*_TWO_LEVEL_SUFFIXES), last3)
        .when(n >= 2, last2)
        .otherwise(h)
    )


def canonicalize_projector(url_col: str = "url"):
    """Projector for ``start_cdc_stream(projector=...)``: rewrite the
    change key to its canonical form per micro-batch, upstream of the
    merge, so equivalent URLs converge onto one LWW key."""

    def project(batch):
        return batch.withColumn(url_col, canonical_url(url_col))

    return project
