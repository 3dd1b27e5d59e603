"""Semantics tests for operators/textpipeline.py (corpus-prep passes:
chunk dedup, repetition filters, sampling, TF-IDF, PII scrub, packing).

The registry queries proxy these against the DuckDB oracle at both
scales; these tests pin the SEMANTICS on hand-built corpora where the
right answer is known by construction, plus the plan-shape claims
(sampling and scrubbing must be shuffle-free)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_bqloader_spark.operators.textpipeline import (
    chunk_documents,
    pack_sequences,
    paragraph_dedup,
    pii_scrub,
    repetition_stats,
    stratified_sample,
    tfidf_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


BOILER = " ".join(f"b{i}" for i in range(20))  # exactly one chunk


def test_chunk_documents_shapes(spark):
    d = _docs(spark, [(1, " ".join(f"w{i}" for i in range(45))), (2, "")])
    rows = chunk_documents(d).orderBy("chunk_idx").collect()
    # 45 tokens -> chunks of 20/20/5; empty doc -> no rows
    assert [r["chunk_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["chunk"].split(" ")[0] == "w0"
    assert len(rows[2]["chunk"].split(" ")) == 5
    assert all(r["doc_id"] == 1 for r in rows)


def test_paragraph_dedup_first_occurrence_wins(spark):
    uniq1 = " ".join(f"u{i}" for i in range(20))
    uniq2 = " ".join(f"v{i}" for i in range(20))
    d = _docs(
        spark,
        [
            (1, f"{BOILER} {uniq1}"),  # first occurrence of boilerplate
            (2, f"{BOILER} {uniq2}"),  # later copy -> dropped
            (3, BOILER),               # later copy -> dropped
        ],
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(d).collect()}
    assert out[1]["kept_chunks"] == 2 and out[1]["dropped_chunks"] == 0
    assert out[2]["kept_chunks"] == 1 and out[2]["dropped_chunks"] == 1
    assert out[3]["kept_chunks"] == 0 and out[3]["dropped_chunks"] == 1


def test_paragraph_dedup_window_carries_no_text(spark):
    """The first-occurrence exchange must ship (hash, id, idx) only —
    the chunk text stays behind the projection (the 100 TB claim)."""
    d = _docs(spark, [(1, BOILER)])
    plan = paragraph_dedup(d)._jdf.queryExecution().executedPlan().toString()
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert ex, "expected the chunk_md5 exchange"
    assert "chunk#" not in "".join(ex) and "chunk]" not in "".join(ex)


def test_repetition_stats_flags_repetitive_doc(spark):
    d = _docs(
        spark,
        [
            (1, "spam spam spam spam spam spam"),      # one bigram repeated
            (2, " ".join(f"t{i}" for i in range(50))),  # all distinct
        ],
    )
    out = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert out[1]["low_quality"] and out[1]["dup_ratio_e6"] == 833333
    assert out[1]["top_bigram_n"] == 5 and out[1]["top_bigram_e6"] == 1000000
    assert not out[2]["low_quality"] and out[2]["dup_ratio_e6"] == 0


def test_repetition_stats_matches_explode_groupby_reference(spark):
    """r6: the array-side longest-equal-run bigram mode must equal the
    old explode + per-bigram-count formulation exactly, and the operator
    plan must carry NO exchange (the r6 claim: zero shuffles)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for did in range(1, 41):
        n = rng.randint(2, 60)
        toks = [rng.choice(vocab) for _ in range(n)]
        if did % 3 == 0:  # plant a hot repeated bigram run
            toks[:0] = ["x", "y"] * rng.randint(2, 8)
        rows.append((did, " ".join(toks)))
    d = _docs(spark, rows)

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_ratio_e6"], r["top_bigram_n"],
                      r["top_bigram_e6"], r["low_quality"])
        for r in repetition_stats(d).collect()
    }

    # reference: the pre-r6 explode + groupBy formulation
    t = d.select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x <> '')").alias("tk"),
    )
    base = t.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("tk")).cast("long").alias("n_distinct"),
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1),"
                " i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
            )
        ).alias("bigram"),
    ).where(F.col("n_tokens") >= 2)
    ref_rows = (
        base.groupBy("doc_id", "n_tokens", "n_distinct", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_tokens", "n_distinct")
        .agg(F.max("c").alias("top_n"), F.sum("c").alias("n_bigrams"))
        .collect()
    )
    ref = {}
    for r in ref_rows:
        dup = (r["n_tokens"] - r["n_distinct"]) * 1_000_000 // r["n_tokens"]
        top = r["top_n"] * 1_000_000 // r["n_bigrams"]
        ref[r["doc_id"]] = (
            r["n_tokens"], dup, r["top_n"], top,
            dup > 300_000 or top > 180_000,
        )
    assert got == ref

    plan = repetition_stats(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    d = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(2000)],
        "doc_id bigint, source string",
    )
    s1 = stratified_sample(d, "source").select("doc_id").collect()
    s2 = stratified_sample(d, "source").select("doc_id").collect()
    assert sorted(s1) == sorted(s2), "sample must be replay-stable"
    # explicit rates: 0 keeps nothing, 1e6 keeps everything
    none = stratified_sample(d, "source", rate_e6=F.lit(0))
    allr = stratified_sample(d, "source", rate_e6=F.lit(1_000_000))
    assert none.count() == 0 and allr.count() == 2000


def test_stratified_sample_is_shuffle_free(spark):
    d = spark.createDataFrame([(1, "a")], "doc_id bigint, source string")
    plan = (
        stratified_sample(d, "source")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_tfidf_ranks_rare_tokens_first(spark):
    d = _docs(
        spark,
        [
            (1, "common rare common"),
            (2, "common common"),
            (3, "common other"),
        ],
    )
    top = {r["doc_id"]: r for r in tfidf_topk(d, k=1).collect()}
    # 'rare' in 1 of 3 docs -> score 1 * 3e6; 'common' tf=2 * 1e6 = 2e6
    assert top[1]["token"] == "rare" and top[1]["df"] == 1
    assert top[1]["score_e6"] == 3_000_000
    assert top[3]["token"] == "other"


def test_pii_scrub_redacts_and_counts(spark):
    d = _docs(
        spark,
        [
            (1, "mail bob.smith+x@web-site.org or 415-555-0134 now"),
            (2, "no pii here at all"),
        ],
    )
    out = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["redacted"] == "mail <EMAIL> or <PHONE> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0
    assert out[2]["redacted"] == "no pii here at all"


def test_pii_scrub_is_shuffle_free(spark):
    d = _docs(spark, [(1, "x")])
    plan = pii_scrub(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_cuts_at_capacity(spark):
    # one shard (ids all ≡ 1 mod 64): docs of 6,6,6 tokens, capacity 10:
    # stream offsets 0,6,12 -> seqs 0,0,1
    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    d = _docs(spark, [(1, mk(6)), (65, mk(6)), (129, mk(6))])
    out = {
        (r["shard"], r["seq_id"]): r
        for r in pack_sequences(d, capacity=10, n_shards=64).collect()
    }
    assert out[(1, 0)]["n_docs"] == 2 and out[(1, 0)]["first_doc"] == 1
    assert out[(1, 1)]["n_docs"] == 1 and out[(1, 1)]["first_doc"] == 129
    assert out[(1, 0)]["total_tokens"] == 12


def test_pack_sequences_shards_are_independent(spark):
    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    d = _docs(spark, [(0, mk(9)), (1, mk(9)), (64, mk(9))])
    out = {(r["shard"], r["seq_id"]): r
           for r in pack_sequences(d, capacity=10, n_shards=64).collect()}
    # shard 0 holds ids 0 and 64 (starts 0, 9 -> one shared sequence);
    # shard 1 holds id 1 with its own stream starting at offset 0
    assert out[(0, 0)]["n_docs"] == 2 and out[(0, 0)]["total_tokens"] == 18
    assert out[(1, 0)]["n_docs"] == 1 and out[(1, 0)]["first_doc"] == 1


def test_pack_sequences_start_offset_rule(spark):
    mk = lambda n: " ".join(f"w{i}" for i in range(n))  # noqa: E731
    d = _docs(spark, [(0, mk(9)), (64, mk(9)), (128, mk(9))])
    out = {r["seq_id"]: r for r in pack_sequences(d, capacity=10, n_shards=64).collect()}
    # starts: 0, 9, 18 -> seq 0, 0, 1
    assert out[0]["n_docs"] == 2 and out[1]["n_docs"] == 1
    assert out[1]["first_doc"] == 128


def test_corpus_stats_card_numbers(spark):
    from go_bqloader_spark.operators.textpipeline import corpus_stats

    d = spark.createDataFrame(
        [
            (1, "a b c", "en"),
            (2, "a b c", "en"),          # exact dup of 1
            (3, " a b c ", "en"),        # dup after trim-normalization
            (4, " ".join(f"w{i}" for i in range(40)), "en"),  # long doc
            (5, "hola", "es"),
        ],
        "doc_id bigint, text string, lang string",
    )
    rows = {r["stratum"]: r for r in corpus_stats(d, short_tokens=32).collect()}
    en = rows["en"]
    assert en["docs"] == 4
    assert en["exact_dup_docs"] == 2       # docs 2 and 3 collapse onto 1
    assert en["total_tokens"] == 3 + 3 + 3 + 40
    assert en["short_docs"] == 3           # the three 3-token docs
    assert en["mean_tokens_e2"] == (49 * 100) // 4
    assert rows["es"]["docs"] == 1 and rows["es"]["short_docs"] == 1


def test_corpus_stats_exchange_is_narrow(spark):
    from go_bqloader_spark.operators.textpipeline import corpus_stats

    d = spark.createDataFrame([(1, "a b", "en")], "doc_id bigint, text string, lang string")
    plan = corpus_stats(d)._jdf.queryExecution().executedPlan().toString()
    # the text column must not cross the aggregation exchanges: the
    # map-side partial aggregates (whose output IS the exchange payload)
    # carry only (stratum, fp, counters) after the narrow projection
    partials = [
        ln for ln in plan.splitlines()
        if "HashAggregate" in ln and "partial_" in ln
    ]
    assert partials and all("text#" not in ln for ln in partials)
    # and the distinct is planned as a two-level hash agg, not Expand
    assert "Expand" not in plan


def test_registrable_domain_heuristic(spark):
    from go_bqloader_spark.functions.urlnorm import registrable_domain

    cases = [
        ("www.example.com", "example.com"),
        ("a.b.site.co.uk", "site.co.uk"),
        ("cdn.media.news.org", "news.org"),
        ("localhost", "localhost"),
        ("deep.sub.host.com.au", "host.com.au"),
        ("plain.io", "plain.io"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], "host string")
    got = [
        r["d"]
        for r in df.select(registrable_domain("host").alias("d")).collect()
    ]
    assert got == [want for _, want in cases]
