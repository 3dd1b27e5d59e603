"""Reference-parity golden tests for the transform library.

Every case table below is ported from the reference's Go unit tests
(file:line cited per test) into the vectorized Spark implementations. The
transforms take and return SQL expression text, so each case applies one
to the column name ``s`` inside ``selectExpr``.
"""

import pytest

from go_bqloader_spark.functions import (
    clean_number,
    normalize_date,
    normalize_date_compact,
    normalize_date_kanji,
    parse_era_date,
    payment_month_from_path,
)


def _apply(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    return [r["out"] for r in df.selectExpr(f"{fn('s')} AS out").collect()]


# /root/reference/contrib/handlers/handlers_test.go:77-103 golden matrix
CLEAN_NUMBER_CASES = [
    ("12345", "12345"),
    ("12,345", "12345"),
    ("¥12,345", "12345"),
    ("¥12345-", "12345"),
    ("-12,345", "-12345"),
    ("-12345", "-12345"),
    ("306.4800USD", "306.4800"),
    ("-", ""),
    ("", ""),
    ("1.2.3", "1.2.3"),
    ("abc-5", "5"),  # '-' not at index 0 is dropped
    ("--5", "-5"),  # only the first char keeps its '-'
]


@pytest.mark.parametrize("raw,expected", CLEAN_NUMBER_CASES)
def test_clean_number(spark, raw, expected):
    assert _apply(spark, clean_number, [raw]) == [expected]


def test_normalize_date_slash(spark):
    # /root/reference/contrib/handlers/sbi_sumishin_net_bank.go:16-21
    got = _apply(spark, normalize_date, ["2021/01/31", "1999/12/01", "bogus"])
    assert got == ["2021-01-31", "1999-12-01", None]


def test_normalize_date_compact(spark):
    # /root/reference/contrib/handlers/rakuten_bank.go:16-21
    got = _apply(spark, normalize_date_compact, ["20210131", "x"])
    assert got == ["2021-01-31", None]


def test_normalize_date_kanji(spark):
    # /root/reference/contrib/handlers/sony_bank.go:16-21
    got = _apply(spark, normalize_date_kanji, ["2021年01月31日", "2021-01-31"])
    assert got == ["2021-01-31", None]


# /root/reference/contrib/handlers/smbc_test.go:15-27 golden matrix:
# H=Heisei base 1988, R=Reiwa base 2018; Showa and malformed are errors.
ERA_CASES = [
    ("2019/1/2", "2019-01-02"),
    ("2019/01/02", "2019-01-02"),
    ("H31.04.30", "2019-04-30"),
    ("R01.12.04", "2019-12-04"),
    ("R02.01.07", "2020-01-07"),
    ("S55.01.07", None),  # Showa unsupported (smbc.go:33-35)
    ("H31.13.99", None),  # digit-shaped but out-of-range → error path
    ("R1.12.04", None),  # non-padded era form is an error
    ("garbage", None),
]


@pytest.mark.parametrize("raw,expected", ERA_CASES)
def test_parse_era_date(spark, raw, expected):
    assert _apply(spark, parse_era_date, [raw]) == [expected]


def test_payment_month_from_path(spark):
    # /root/reference/contrib/handlers/smbc_card.go:46-58
    got = _apply(spark, payment_month_from_path, ["gs://b/smbc_card/202101.csv", "gs://b/nomatch.txt"])
    assert got == ["2021-01-01", None]


class TestCanonicalUrl:
    """functions/urlnorm.py — key normalization for the crawl CDC feed."""

    CASES = [
        # fragment dropped
        ("http://a.ex/p#sec", "http://a.ex/p"),
        # scheme+host lowercased, path case preserved
        ("HTTP://A.EX/Path/Q", "http://a.ex/Path/Q"),
        # default ports dropped (both schemes); non-default kept
        ("http://a.ex:80/p", "http://a.ex/p"),
        ("https://a.ex:443/p?x=1", "https://a.ex/p?x=1"),
        ("http://a.ex:8080/p", "http://a.ex:8080/p"),
        # tracking params stripped wherever they sit; others preserved
        ("http://a.ex/p?utm_source=t&id=3", "http://a.ex/p?id=3"),
        ("http://a.ex/p?id=3&utm_medium=m", "http://a.ex/p?id=3"),
        ("http://a.ex/p?id=1&fbclid=z&b=2", "http://a.ex/p?id=1&b=2"),
        ("http://a.ex/p?gclid=abc", "http://a.ex/p"),
        ("http://a.ex/p?utm_a=1&utm_b=2", "http://a.ex/p"),
        # bare root slash collapsed; deeper trailing slash preserved
        ("https://a.ex/", "https://a.ex"),
        ("https://a.ex/dir/", "https://a.ex/dir/"),
        # everything at once
        ("HTTPS://A.EX:443/P?utm_x=1&q=2#f", "https://a.ex/P?q=2"),
    ]

    def test_cases(self, spark):
        from go_bqloader_spark.functions.urlnorm import canonical_url

        df = spark.createDataFrame(
            [(i, u) for i, (u, _) in enumerate(self.CASES)], "i int, url string"
        )
        got = {r["i"]: r["c"] for r in
               df.select("i", canonical_url("url").alias("c")).collect()}
        for i, (u, want) in enumerate(self.CASES):
            assert got[i] == want, f"{u!r}: {got[i]!r} != {want!r}"

    def test_projector_collapses_equivalent_keys(self, spark):
        from go_bqloader_spark.functions.urlnorm import canonicalize_projector

        b = spark.createDataFrame(
            [("U", 1, "http://A.EX/p?utm_s=1"), ("U", 2, "http://a.ex:80/p")],
            "op string, seq bigint, url string",
        )
        urls = {r["url"] for r in canonicalize_projector()(b).collect()}
        assert urls == {"http://a.ex/p"}

    def test_shuffle_free(self, spark):
        from go_bqloader_spark.functions.urlnorm import canonical_url

        df = spark.createDataFrame([("http://a.ex/",)], "url string")
        plan = (df.select(canonical_url("url"))
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan
