"""Corpus-preparation operators for LLM training-data pipelines.

These extend the near-dup and similarity operators (``operators/dedup.py``,
``operators/similarity.py``) with the remaining standard passes a
web-crawl → training-set pipeline runs between ingest and tokenization:

- **paragraph-level dedup** (CCNet-style): hash fixed-size token chunks,
  keep the first occurrence corpus-wide — removes boilerplate shared
  across pages that document-level MinHash misses.
- **repetition stats** (Gopher-style quality rules): within-document
  duplicate-token and top-bigram mass, the standard "generated/spammy
  text" filters.
- **deterministic stratified sampling**: per-stratum keep rates applied
  via a seeded md5 draw — reproducible on any cluster size, no RNG
  state, rerunning a failed stage cannot change the sample.
- **integer TF-IDF top-k terms**: per-document salient terms with a
  pure-integer surrogate score (``tf * ((N * 1e6) DIV df)``) so results
  are bit-identical across engines and replays.
- **PII scrub**: regex detect + redact for emails/phones, counts out.
- **token-stream packing**: assign documents to fixed-capacity training
  sequences (concat-then-cut at ``capacity`` tokens), sharded so the
  packing window never needs a global sort.

The reference engine (go-bqloader) has no corpus operators — this module
is part of the training-data-pipeline surface the build brief adds on
top of the reference inventory.

100 TB design notes, per operator, are in the docstrings; the common
rules: everything is pure Catalyst (no Python in the row path), chunking
and n-gramming happen array-side inside a single projection (no
explode-before-filter blowup), and every shuffle is on a narrow
``(hash)`` or ``(doc_id)`` key — the document text itself crosses an
exchange only where the semantics force it (never for sampling/packing,
once for chunk dedup's first-occurrence ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = [
    "chunk_documents",
    "paragraph_dedup",
    "repetition_stats",
    "stratified_sample",
    "tfidf_topk",
    "pii_scrub",
    "pack_assign",
    "pack_sequences",
    "corpus_stats",
]

# tokens = non-empty whitespace-split words (same convention as the
# lang-id / token-stats queries in plans/queries.py)
_TOKS = "filter(split({col}, ' '), x -> x <> '')"


def _toks(col: str) -> F.Column:
    return F.expr(_TOKS.format(col=col))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Split each document into fixed-size token chunks (the CCNet
    "paragraph" unit adapted to unstructured text): chunk *i* is tokens
    ``[i*C, (i+1)*C)``. Output one row per chunk:
    ``(id, chunk_idx, chunk, chunk_md5)``.

    Scale shape: the chunk list is built array-side in ONE projection
    (``transform`` over ``sequence`` + ``slice``) and exploded in place —
    no shuffle; a 100 TB corpus chunks map-side only. Zero-token
    documents produce no chunks (``sequence(0, -1)`` would descend —
    Spark gotcha — so they are filtered out first)."""
    c = chunk_tokens
    # tokenize ONCE into a column: CollapseProject keeps a non-cheap
    # multiply-referenced expression in its own projection, so the
    # split+filter runs once per row instead of once per chunk index
    t = df.select(
        F.col(id_col), _toks(text_col).alias("__toks")
    ).where(F.size("__toks") > 0)
    chunks = F.expr(
        f"transform(sequence(0, (size(__toks) - 1) div {c}),"
        f" i -> concat_ws(' ', slice(__toks, i * {c} + 1, {c})))"
    )
    return t.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    ).withColumn("chunk_md5", F.md5(F.col("chunk")))


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 20,
) -> DataFrame:
    """CCNet-style chunk-level dedup: corpus-wide, each distinct chunk
    hash survives only at its FIRST occurrence (lowest ``(id,
    chunk_idx)``); every later copy is dropped. Returns per-document
    ``(id, n_chunks, kept_chunks, dropped_chunks)``.

    Scale shape: one exchange on the 32-hex-char ``chunk_md5`` — narrow
    (hash + id + idx; the chunk text is NOT carried through the
    first-occurrence window), uniformly distributed (it is a hash), so
    no skew; then one exchange on ``id`` for the per-doc rollup.
    Hot boilerplate chunks (the reason this operator exists) concentrate
    rows per hash but the window computes only ``row_number`` — state is
    one counter, no buffering."""
    chunks = chunk_documents(df, id_col, text_col, chunk_tokens).select(
        id_col, "chunk_idx", "chunk_md5"
    )
    w = W.partitionBy("chunk_md5").orderBy(F.col(id_col), F.col("chunk_idx"))
    ranked = chunks.withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("kept_chunks"),
        F.sum(F.when(F.col("_rn") != 1, 1).otherwise(0)).alias("dropped_chunks"),
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup_ratio_max_e6: int = 300_000,
    top_bigram_max_e6: int = 180_000,
) -> DataFrame:
    """Gopher-style within-document repetition filters: the duplicate
    token fraction (``1 - distinct/total``) and the fraction of bigram
    mass held by the single most frequent bigram. Both are emitted as
    integer-scaled ``_e6`` ratios plus a combined ``low_quality`` flag
    (either ratio above its threshold).

    Only documents with >= 2 tokens appear (no bigrams otherwise).

    Scale shape (r6): ZERO exchanges. The per-document bigram mode is
    computed array-side — sort the bigram array and take the longest
    equal run (identical to max per-bigram count, exactly: sorting
    groups equal bigrams adjacently) — so the whole operator is one
    projection over the scan; the old shape exploded every bigram
    string through a ``(id, bigram)`` exchange plus a second ``id``
    rollup exchange (guide §2.4: remove shuffles outright). Per-row
    cost is O(tokens log tokens), bounded by document length, not
    corpus size."""
    # tokenize ONCE (see chunk_documents): the bigram lambda indexes the
    # materialized array instead of re-splitting the text per bigram
    t = df.select(F.col(id_col), _toks(text_col).alias("__toks"))
    grams = (
        "transform(sequence(1, size(__toks) - 1),"
        " i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
    )
    # longest equal run over the sorted bigram array == max bigram count
    top_run = (
        "aggregate(array_sort({g}), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, g) -> named_struct("
        " 'prev', g,"
        " 'run', IF(acc.prev IS NOT NULL AND g = acc.prev, acc.run + 1, 1L),"
        " 'best', GREATEST(acc.best,"
        "   IF(acc.prev IS NOT NULL AND g = acc.prev, acc.run + 1, 1L))), "
        "acc -> acc.best)"
    ).format(g=grams)
    per_doc = t.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).cast("long").alias("n_distinct"),
        F.expr(top_run).alias("top_bigram_n"),
        (F.size("__toks") - 1).cast("long").alias("n_bigrams"),
    ).where(F.col("n_tokens") >= 2)
    dup_e6 = F.expr("(n_tokens - n_distinct) * 1000000 DIV n_tokens")
    top_e6 = F.expr("top_bigram_n * 1000000 DIV n_bigrams")
    return per_doc.select(
        id_col,
        "n_tokens",
        dup_e6.alias("dup_ratio_e6"),
        F.col("top_bigram_n"),
        top_e6.alias("top_bigram_e6"),
        (
            (dup_e6 > F.lit(dup_ratio_max_e6))
            | (top_e6 > F.lit(top_bigram_max_e6))
        ).alias("low_quality"),
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rate_e6: F.Column | None = None,
    id_col: str = "doc_id",
    seed: str = "samp",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff a seeded
    md5 draw on its id lands under the stratum's ``rate_e6`` (parts per
    million). ``rate_e6`` defaults to a seeded per-stratum rate in
    [100000, 600000) derived from the stratum name itself — callers
    normally pass a CASE/map expression with their real quotas.

    The draw is the 52-bit md5-prefix trick (``conv(substr(md5(..),1,13),
    16, 10)``) — exactly reproducible in any engine, so the sample is
    stable under retries, re-partitioning, and cluster resizes, unlike
    ``rand(seed)`` whose stream depends on partition layout. Pure
    projection + filter: ZERO shuffles at any corpus size, and the
    filter sits directly on the scan."""
    if rate_e6 is None:
        rate_e6 = (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("rate:"), F.col(stratum_col))), 1, 13),
                16,
                10,
            ).cast("long")
            % 500_000
            + 100_000
        )
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 1_000_000
    )
    return df.withColumn("_rate_e6", rate_e6).where(draw < F.col("_rate_e6"))


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` salient terms by an integer TF-IDF
    surrogate: ``score_e6 = tf * ((N * 1e6) DIV df)`` where ``df`` is
    corpus document frequency and ``N`` the corpus size. The integer
    idf preserves the rare-term ordering of ``log(N/df)`` exactly (it is
    monotone in ``N/df``) while keeping every value an exact BIGINT —
    no float, so replays and cross-engine checks are bit-stable.
    Ties break on token asc. Output ``(id, token, tf, df, score_e6,
    rank)``.

    Scale shape: TF is one exchange on ``(id, token)`` with map-side
    partials; DF aggregates the DISTINCT per-doc tokens (array_distinct
    BEFORE explode, so a 10^5-repeat token costs one row) on ``token``;
    the df side joins back as a broadcast only if the vocabulary is
    small — by default it is a shuffle join on ``token``, the safe shape
    for open-vocabulary web text. Top-k is a bounded window on ``id``
    (WindowGroupLimit prunes to k rows per doc pre-shuffle)."""
    toks = _toks(text_col)
    # corpus size stays IN the plan (1-row agg cross-joined in, the KMV
    # shape) — no driver-side count action in the query builder
    n_docs = (
        df.where(F.size(toks) > 0)
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    )
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = (
        df.select(F.col(id_col), F.explode(F.array_distinct(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    # BIGINT arithmetic: N * 1e6 overflows INT32 past ~2k documents
    scored = tf.join(dfreq, "token").crossJoin(F.broadcast(n_docs)).withColumn(
        "score_e6",
        F.expr("tf * ((CAST(n_docs AS BIGINT) * 1000000) DIV df)"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("score_e6").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "score_e6", "rank")
    )


# public, RE2-and-Java-compatible patterns: backslash-free (dots live in
# character classes) so the SAME string survives Python, a Spark SQL
# string literal, java.util.regex, and any RE2 engine (DuckDB, Go)
# without a second escaping layer
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+"
PHONE_RE = "[0-9]{3}-[0-9]{3,4}-[0-9]{4}"


def pii_scrub(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Detect-and-redact pass for the two highest-volume PII classes in
    web text (emails, dashed phone numbers): emits per-document match
    counts and the redacted text (emails → ``<EMAIL>``, phones →
    ``<PHONE>``).

    Pure projection — zero shuffles, runs at scan speed on any corpus
    size; the patterns avoid constructs whose semantics differ between
    java.util.regex and RE2 so audits can replay the scrub in other
    engines byte-for-byte."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return df.select(
        F.col(id_col),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{EMAIL_RE}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{PHONE_RE}', 0)"))
        .cast("long")
        .alias("n_phones"),
        redacted.alias("redacted"),
    )


def pack_assign(
    df: DataFrame,
    capacity: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document packing assignment: which training sequence each
    document opens in (see :func:`pack_sequences` for the layout rules).
    Returns ``(id, shard, n_tokens, seq_id)`` — the frame a shard writer
    joins back to the payload.

    Scale shape is the packing window's: the only exchange is the narrow
    ``(shard, id, n_tokens)`` projection, text never shuffles."""
    base = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        F.size(_toks(text_col)).cast("long").alias("n_tokens"),
    ).where(F.col("n_tokens") > 0)
    w = (
        W.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # integer DIV, not `/` + cast: Spark's double->long cast truncates
    # while other engines round — keep the arithmetic integral throughout
    return (
        base.withColumn("_cum", F.sum("n_tokens").over(w))
        .withColumn("seq_id", F.expr(f"(_cum - n_tokens) DIV {capacity}"))
        .drop("_cum")
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-stream packing: concatenate documents in id order and cut
    the stream every ``capacity`` tokens — the standard pretraining
    sequence-packing layout. A document belongs to the sequence where it
    STARTS (``seq_id = start_offset DIV capacity``). Returns per-sequence
    ``(shard, seq_id, n_docs, first_doc, total_tokens)``.

    A single global stream would need a global ordered cumsum (one
    partition — does not scale), so the stream is sharded:
    ``shard = id % n_shards``, each shard packs independently under a
    ``partitionBy(shard) orderBy(id)`` window. With n_shards sized to
    the cluster (e.g. 10-100× executors), every shard's window state is
    one running counter and the only exchange is the narrow
    ``(shard, id, n_tokens)`` projection — the text never shuffles."""
    placed = pack_assign(df, capacity, n_shards, id_col, text_col)
    return placed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(id_col).alias("first_doc"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def corpus_stats(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    short_tokens: int = 32,
) -> DataFrame:
    """Dataset-card statistics per stratum — the summary table a corpus
    release ships alongside the shards (docs, token/char volume, exact-dup
    rate, short-doc count, mean length).

    One scan, one narrow aggregation: the text is reduced to three
    integers and one 32-hex fingerprint in a map-side projection, so the
    exchange carries ``(group, n_tokens, n_chars, fp)`` — never the text.
    The exact-duplicate count uses ``count(distinct md5)`` (the same
    normalized fingerprint as the ``doc_fingerprint`` and
    ``exact_dedup`` queries, so card numbers reconcile with what the
    dedup pass actually removes); with a single distinct column Spark
    plans it as a two-level hash aggregate — partial agg on
    ``(group, fp)`` map-side, then the final count — no Expand, and both
    exchange payloads are the narrow projection, not the text (asserted
    in ``test_corpus_stats_exchange_is_narrow``). All ratios are integer
    fixed-point (``_e2``), no floats in the output."""
    toks = _toks(text_col)
    base = df.select(
        F.col(group_col).alias("stratum"),
        F.size(toks).cast("long").alias("n_toks"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("fp"),
    )
    agg = base.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("fp").alias("distinct_docs"),
        F.sum(
            F.when(F.col("n_toks") < short_tokens, F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("short_docs"),
    )
    return agg.select(
        "stratum",
        "docs",
        "total_tokens",
        "total_chars",
        (F.col("docs") - F.col("distinct_docs")).alias("exact_dup_docs"),
        "short_docs",
        F.expr("(total_tokens * 100) DIV docs").alias("mean_tokens_e2"),
    )
