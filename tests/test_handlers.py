"""Handler registry + CSV-variant source tests: golden end-to-end handler
runs over synthesized fixture files (the reference's golden-file pattern,
``/root/reference/contrib/handlers/*_test.go``, re-created with our own
fixture data), fan-out/error semantics (``bqloader_test.go:79-114``), and
Shift-JIS decode."""

import pytest

from go_bqloader_spark.plans.handlers import (
    amex_statement,
    Handler,
    Registry,
    Result,
    amex_statement_csv,
    rakuten_bank_statement,
    rakuten_card_statement,
    sbi_securities_global_banking_statement,
    sbi_sumishin_net_bank_statement,
    smbc_card_statement,
    smbc_statement,
    sony_bank_statement,
)
from go_bqloader_spark.sources.csvlike import read_csv_files


def _rows(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


@pytest.fixture()
def fixtures(tmp_path):
    d = tmp_path / "in"
    d.mkdir()

    (d / "sbi_bank.csv").write_bytes(
        "日付,内容,出金金額,入金金額,残高,メモ\n"
        "2021/01/31,振込 テスト,\"29,447\",,\"100,000\",-\n"
        "2021/01/30,利息,,25,\"129,447\",メモ\n".encode("shift_jis")
    )
    (d / "sony_bank.csv").write_bytes(
        "お取り引き日,摘要,お引き出し額,お預け入れ額,差し引き残高\n"
        "2021年01月31日,振込,\"10,000\",,\"90,000\"\n".encode("utf-8")
    )
    (d / "rakuten_bank.csv").write_bytes(
        "取引日,摘要,入出金,残高\n"
        "20210131,給与振込,\"250,000\",\"500,000\"\n".encode("utf-8")
    )
    (d / "smbc.csv").write_bytes(
        "年月日,お引出し,お預入れ,お取り扱い内容,残高\n"
        "H31.04.30,\"1,000\",,カード,\"50,000\"\n"
        "2019/5/1,,200,振込,\"50,200\"\n".encode("shift_jis")
    )
    # smbc_card: noise lines + empty-first-field row; month in file name
    (d / "202101.csv").write_bytes(
        "お客様情報,,,,,,\n"
        "2021/01/05,スーパー,1000,1,1,1000,\n"
        ",小計,,,,,\n"
        "2021/01/09,書店,2500,1,1,2500,\n".encode("shift_jis")
    )
    # sbi_securities banking: the reference file's exact shape
    # (sbi_securities_global_banking_statement.csv: blank/meta lines 1-6
    # incl. EMPTY lines, header at raw line 7, '-' amount cells) — raw-skip
    # 6 + PARSED-skip 1, SJIS
    (d / "sbi_sec.csv").write_bytes(
        ("\n\"入出金明細\"\n\n"
         "\"入出金区分\",\"通貨指定\",\"開始\",\"終了\"\n"
         "\"入出金\",\"すべて\",\"2021年01月01日\",\"2021年12月31日\"\n\n"
         "入出金日,取引,摘要,出金額,入金額,通貨\n"
         "2021/01/31,買付,米国株式,\"1,234\",-,USD\n"
         "2021/02/01,分配金,BND,-,0.64,米ドル\n").encode("shift_jis")
    )
    # sbi_securities execution history: same preamble shape, 12 columns
    (d / "sbi_exec.csv").write_bytes(
        ("\n\"約定履歴\"\n\n"
         "\"国内約定日\",\"期間\"\n"
         "\"すべて\",\"2022年\"\n\n"
         "国内約定日,銘柄,ティッカー,市場,商品,注文,取引,口座,約定数量,約定単価,国内受渡日,受渡金額\n"
         "\"2022/12/02\",\"グローバルＸ SP 500 ETF\",\"XYLG\",\"NYSE Arca\",\"米国株式\",\"成行\",\"現買\",\"特定\",\"30\",\"26.4100\",\"2022/12/06\",\"796.22\"\n"
         "\"2022/01/11\",\"iシェアーズ コア\",\"HDV\",\"NYSE Arca\",\"米国株式\",\"成行\",\"現売\",\"特定\",\"29\",\"102.4450\",\"2022/01/13\",\"2,956.21\"\n"
         ).encode("shift_jis")
    )
    # amex_csv (T9 column shift): SJIS, 8 cols, month in file name
    (d / "2023-08.csv").write_bytes(
        ("ご利用日,データ処理日,ご利用内容,カード会員様名,会員番号 #,金額,海外通貨利用金額,換算レート\n"
         "2023/07/10,2023/07/10,テスト振替,HANA TEST,-99999,\"-5,120\",,\n"
         "2023/07/03,2023/07/04,\"CLOUD, INC.\",HANA TEST,-99999,\"-2,048\",13.85 USD,147.83\n"
         ).encode("shift_jis")
    )
    # rakuten_card (P3 lazy quotes): UTF-8 + BOM, fully-quoted rows, one
    # lazy-quote row (unquoted field with inner quotes) and one
    # empty-first-field row the projector must drop
    (d / "enavi202012(9999).csv").write_bytes(
        ("﻿\"利用日\",\"利用店名・商品名\",\"利用者\",\"支払方法\",\"利用金額\","
         "\"手数料\",\"支払総額\",\"12月支払金額\",\"12月繰越残高\",\"新規サイン\"\n"
         "\"2020/12/03\",\"カフェ\",\"本人\",\"1回払い\",\"880\",\"0\",\"880\",\"880\",\"0\",\"*\"\n"
         "\"\",\"現地利用額 9,968円\",\"\",\"\",\"\",\"\",\"\",\"\",\"\",\"\"\n"
         "2020/11/20,書店 \"新館\" 支店,家族,1回払い,1570,0,1570,1570,0,*\n"
         ).encode("utf-8")
    )
    return str(d)


def test_sbi_sumishin_golden(spark, fixtures):
    # golden matrix per sbi_sumishin_net_bank_test.go:16-19
    h = sbi_sumishin_net_bank_statement("sbi", r"sbi_bank\.csv$")
    got = sorted(_rows(h.run(spark, f"{fixtures}/sbi_bank.csv"),
                       "date", "description", "withdrawal", "deposit", "balance", "memo"))
    assert got == [
        ("2021-01-30", "利息", "", "25", "129447", "メモ"),
        ("2021-01-31", "振込 テスト", "29447", "", "100000", "-"),
    ]


def test_sony_bank_golden(spark, fixtures):
    h = sony_bank_statement("sony", r"sony_bank\.csv$")
    got = _rows(h.run(spark, f"{fixtures}/sony_bank.csv"),
                "date", "withdrawal", "deposit", "balance")
    assert got == [("2021-01-31", "10000", "", "90000")]


def test_rakuten_bank_golden(spark, fixtures):
    h = rakuten_bank_statement("rakuten", r"rakuten_bank\.csv$")
    got = _rows(h.run(spark, f"{fixtures}/rakuten_bank.csv"), "date", "amount", "balance")
    assert got == [("2021-01-31", "250000", "500000")]


def test_smbc_era_golden(spark, fixtures):
    h = smbc_statement("smbc", r"smbc\.csv$")
    got = sorted(_rows(h.run(spark, f"{fixtures}/smbc.csv"), "date", "description"))
    assert got == [("2019-04-30", "カード"), ("2019-05-01", "振込")]


def test_smbc_card_golden(spark, fixtures):
    # line-shape filter drops the noise lines; payment_month appended
    h = smbc_card_statement("card", r"/\d{6}\.csv$")
    got = sorted(_rows(h.run(spark, f"{fixtures}/202101.csv"),
                       "date", "store", "amount", "payment_month"))
    assert got == [
        ("2021-01-05", "スーパー", "1000", "2021-01-01"),
        ("2021-01-09", "書店", "2500", "2021-01-01"),
    ]


def test_sbi_securities_golden(spark, fixtures):
    """Banking statement on the reference fixture's exact shape (blank
    preamble lines + header at raw line 7): 6 raw lines skipped, then 1
    PARSED row (SkipLeadingRows parity — a raw-7 skip would miscount the
    blanks), '-' amounts clean to "" (handlers.go:46-48)."""
    h = sbi_securities_global_banking_statement("sec", r"sbi_sec\.csv$")
    df = h.run(spark, f"{fixtures}/sbi_sec.csv")
    assert df.columns == ["date", "trade", "currency", "summary", "out_amt", "in_amt"]
    got = sorted(_rows(df, "date", "trade", "currency", "summary", "out_amt", "in_amt"))
    assert got == [
        ("2021-01-31", "買付", "USD", "米国株式", "1234", ""),
        ("2021-02-01", "分配金", "米ドル", "BND", "", "0.64"),
    ]


def test_sbi_securities_execution_history_golden(spark, fixtures):
    """Execution history (sbi_securities.go:60-103, sbi_securities_test.go:
    35-55 semantics on our own fixture): 12 columns in place, ISO dates at
    0/10, CleanNumber at 8/9/11."""
    from go_bqloader_spark.plans.handlers import (
        sbi_securities_global_execution_history,
    )

    h = sbi_securities_global_execution_history("exec", r"sbi_exec\.csv$")
    df = h.run(spark, f"{fixtures}/sbi_exec.csv")
    got = sorted(map(tuple, df.collect()))
    assert got == [
        ("2022-01-11", "iシェアーズ コア", "HDV", "NYSE Arca", "米国株式",
         "成行", "現売", "特定", "29", "102.4450", "2022-01-13", "2956.21"),
        ("2022-12-02", "グローバルＸ SP 500 ETF", "XYLG", "NYSE Arca",
         "米国株式", "成行", "現買", "特定", "30", "26.4100", "2022-12-06",
         "796.22"),
    ]


def test_amex_csv_golden(spark, fixtures):
    """T9 column shift/overwrite (amex_csv.go:52-65, amex_csv_test.go:11-33
    semantics on our own fixture): amount slot gets clean(r[5]), fx columns
    shift left, last input slot blanks, payment_month appended from the
    yyyy-MM file name."""
    h = amex_statement_csv("amex", r"/\d{4}-\d{2}\.csv$")
    df = h.run(spark, f"{fixtures}/2023-08.csv")
    assert df.columns == [
        "date", "proc_date", "description", "member", "amount",
        "fx_currency_amount", "exchange_rate", "extra", "payment_month",
    ]
    got = sorted(_rows(df, *df.columns))
    assert got == [
        ("2023-07-03", "2023-07-04", "CLOUD, INC.", "HANA TEST", "-2048",
         "13.85 USD", "147.83", "", "2023-08-01"),
        ("2023-07-10", "2023-07-10", "テスト振替", "HANA TEST", "-5120",
         "", "", "", "2023-08-01"),
    ]


def test_rakuten_card_golden(spark, fixtures):
    """P3 lazy-quote CSV (rakuten_card.go:35-65, rakuten_card_test.go:11-32
    semantics on our own fixture): BOM header skipped, empty-first-field row
    dropped, unquoted lazy-quote field preserved verbatim, month appended
    from enavi(yyyyMM)(...) file name.

    Parity note: Go LazyQuotes and uniVocity STOP_AT_DELIMITER agree on
    fully-quoted rows and on unquoted fields containing quotes (this test);
    they differ only for QUOTED fields with unescaped inner quotes, where
    uniVocity retains the outer quotes — no such row appears in the
    reference fixtures."""
    h = rakuten_card_statement("rakuten", r"enavi\d{6}\(\d+\)\.csv$")
    df = h.run(spark, f"{fixtures}/enavi202012(9999).csv")
    got = sorted(_rows(df, "date", "store", "user", "amount", "payment_month"))
    assert got == [
        ("2020-11-20", '書店 "新館" 支店', "家族", "1570", "2020-12-01"),
        ("2020-12-03", "カフェ", "本人", "880", "2020-12-01"),
    ]


@pytest.mark.parametrize(
    "head,tail,sep,body",
    [
        # the reference's exact matrix (handlers_test.go:105-164): tail
        # skip counts raw split elements (incl. a trailing empty from a
        # final newline); blank lines inside the slice are skipped like
        # Go's csv reader does
        (3, 3, "\n", "foo\n\nbar\n1,2,3\n4,5,6\n\nbaz\nqux"),
        (0, 3, "\n", "1,2,3\n4,5,6\n\nbaz\nqux"),
        (3, 0, "\n", "foo\n\nbar\n1,2,3\n4,5,6"),
        (3, 3, "\r\n", "foo\r\n\r\nbar\r\n1,2,3\r\n4,5,6\r\n\r\nbaz\r\nqux"),
        # CRLF file read with sep="\n" (engine extension: \r stripped)
        (3, 3, "\n", "foo\r\n\r\nbar\r\n1,2,3\r\n4,5,6\r\n\r\nbaz\r\nqux"),
    ],
)
def test_partial_csv_head_tail(spark, tmp_path, head, tail, sep, body):
    p = tmp_path / "t.csv"
    p.write_text(body)
    df = read_csv_files(spark, str(p), "a string, b string, c string",
                        skip_head_rows=head, skip_tail_rows=tail, sep=sep)
    assert sorted(_rows(df, "a", "b", "c")) == [("1", "2", "3"), ("4", "5", "6")]


def test_partial_csv_tail_counts_trailing_newline(spark, tmp_path):
    """Newline-terminated file: skip_tail_rows counts the empty trailing
    element, so tail=1 keeps the last real line (reference parity —
    handlers.go:68; callers pass n_noise+1 for terminated files)."""
    p = tmp_path / "t.csv"
    p.write_text("h1\na,1\nb,2\ntail,x\n")
    df = read_csv_files(spark, str(p), "k string, v string",
                        skip_head_rows=1, skip_tail_rows=1)
    assert sorted(_rows(df, "k", "v")) == [("a", "1"), ("b", "2"), ("tail", "x")]
    df2 = read_csv_files(spark, str(p), "k string, v string",
                         skip_head_rows=1, skip_tail_rows=2)
    assert sorted(_rows(df2, "k", "v")) == [("a", "1"), ("b", "2")]


def test_csv_glob_reads_the_files_it_names(spark, tmp_path):
    """A glob in the last path part reads exactly the files it names (a
    sibling that does not match and a matching file in a subdirectory are
    left out), with the same ``path`` values as reading each file."""
    for name, body in [("part-0.csv", "a,1\n"), ("part-1.csv", "b,2\nc,3\n"),
                       ("other.csv", "x,9\n"), ("sub/part-2.csv", "y,8\n")]:
        (tmp_path / name).parent.mkdir(exist_ok=True)
        (tmp_path / name).write_text(body)
    cols = ("path", "line_no", "k", "v")
    got = _rows(read_csv_files(spark, f"{tmp_path}/part*.csv", "k string, v string",
                               keep_path=True), *cols)
    want = [r for n in ("part-0.csv", "part-1.csv")
            for r in _rows(read_csv_files(spark, str(tmp_path / n), "k string, v string",
                                          keep_path=True), *cols)]
    assert sorted(got) == sorted(want) and len(want) == 3


def test_registry_fanout_and_error_semantics(spark, fixtures):
    """All matching handlers run even when one fails; first error raised
    after the fan-out; notifier sees every result (bqloader_test.go:79-114,
    handler.go:89-95)."""
    seen: list[Result] = []

    def bad_reader(spark_, path):
        raise RuntimeError("boom")

    reg = Registry(notify=seen.append)
    reg.add(Handler("bad", r"sony_bank\.csv$", bad_reader))
    reg.add(sony_bank_statement("good", r"sony_bank\.csv$"))
    reg.add(rakuten_bank_statement("nomatch", r"other\.csv$"))

    with pytest.raises(RuntimeError, match="boom"):
        reg.dispatch(spark, f"{fixtures}/sony_bank.csv")
    assert [r.handler for r in seen] == ["bad", "good"]
    assert seen[0].error is not None
    assert seen[1].error is None and seen[1].rows == 1


def test_registry_duplicate_name_rejected(spark):
    reg = Registry()
    reg.add(Handler("x", r".*", lambda s, p: None))
    with pytest.raises(ValueError):
        reg.add(Handler("x", r".*", lambda s, p: None))


def test_registry_concurrent_fanout(spark, fixtures):
    """WithConcurrency parity (option.go:41-47, bqloader.go:119-128): with
    concurrency=2 both matching handlers run simultaneously — the barrier
    only releases when the two readers are in-flight at once."""
    import threading

    barrier = threading.Barrier(2, timeout=30)

    def reader(spark_, path):
        barrier.wait()
        return spark_.range(1).toDF("n")

    reg = Registry(concurrency=2)
    reg.add(Handler("h1", r"sony_bank\.csv$", reader))
    reg.add(Handler("h2", r"sony_bank\.csv$", reader))
    results = reg.dispatch(spark, f"{fixtures}/sony_bank.csv")
    assert [r.handler for r in results] == ["h1", "h2"]
    assert all(r.error is None and r.rows == 1 for r in results)


def test_notifier_message_format():
    """Message-text parity with the reference's Slack notifier
    (notifier.go:70-74)."""
    ok = Result(handler="h1", path="path_to/2023-08.csv", rows=4)
    assert ok.message() == (
        ":white_check_mark: h1 handler successfully loaded path_to/2023-08.csv"
    )
    bad = Result(handler="h1", path="p.csv", error=RuntimeError("boom"))
    assert bad.message() == ":x: h1 handler failed to load p.csv: boom"


# ------------------------------------------------------ P4: XLS (BIFF8)
def _amex_workbook_bytes():
    """A workbook with the reference fixture's SHAPE (preamble + summary +
    header + 3 statement rows — amex_test.go:16-21 expected output), built
    with our own writer rather than copying the reference binary."""
    from go_bqloader_spark.sources.xlsbiff import write_xls

    return write_xls([
        ["", "カードご利用履歴: ", "アメリカン・エキスプレス・カード"],
        ["", "会員番号: XXX-12345"],
        ["ご利用金額", "", "", "", "合計"],
        ["合計", "", "", "", "￥88,153"],
        ["ご利用日", "データ処理日", "ご利用内容", "カード会員様名",
         "金額", "海外通貨利用金額", "換算レート", "追加情報"],
        ["2022/06/19", "2022/06/20", "GOOGLE *DOMAINS", "TARO AMEX", "￥1,760"],
        ["2022/05/29", "2022/05/29", "IWANTMYNAME IWANTMYNAME", "TARO AMEX",
         "￥129", "1.00 USD", "129"],
        ["2022/05/29", "2022/05/29", "IWANTMYNAME IWANTMYNAME", "",
         "-￥129", "1.00 USD", "129"],
    ])


def test_xls_roundtrip_and_cell_types(tmp_path):
    """BIFF writer→reader roundtrip incl. CJK strings; numeric cell records
    (NUMBER/RK) stringify the FormatFloat(-1) way."""
    import struct

    from go_bqloader_spark.sources.xlsbiff import read_xls_rows, write_xls

    rows = [["日付", "金額", ""], ["2022/06/19", "1,760"], ["x"]]
    assert read_xls_rows(write_xls(rows)) == rows

    # FirstCol parity (amex.go:55-61, ADVICE r3): a sheet whose data block
    # starts at column >= 1 yields rows starting at the first POPULATED
    # cell, not a "" pad from column 0 — None cells are unpopulated
    offset = [[None, "2022/06/19", "SHOP", "¥100"], [None, None, "x"]]
    assert read_xls_rows(write_xls(offset)) == [
        ["2022/06/19", "SHOP", "¥100"], ["x"],
    ]
    # interior gaps are still "" (populated range is FirstCol..LastCol)
    gap = [["a", None, "c"]]
    assert read_xls_rows(write_xls(gap)) == [["a", "", "c"]]

    # splice a NUMBER and an RK record into a written sheet to cover the
    # numeric decode paths (integral → no trailing .0; RK int + cents)
    from go_bqloader_spark.sources.xlsbiff import _decode_rk, _fmt_num

    assert _fmt_num(1760.0) == "1760"
    assert _fmt_num(13.85) == "13.85"
    assert _decode_rk((1760 << 2) | 0x02) == 1760.0
    assert _decode_rk((1385 << 2) | 0x03) == 13.85
    packed = struct.unpack("<I", struct.pack("<d", 129.5)[4:])[0] & ~0x3
    assert _decode_rk(packed) == 129.5


def test_amex_xls_golden(spark, tmp_path):
    """P4 golden E2E (amex.go:22-135, amex_test.go:11-33 semantics on our
    own fixture): date-regex row filter drops preamble/summary/header rows,
    dates → ISO, CleanNumber keeps the leading minus, payment_month comes
    from the '2022-07.xls' object name."""
    from go_bqloader_spark.plans.handlers import amex_statement

    d = tmp_path / "in"
    d.mkdir()
    (d / "2022-07.xls").write_bytes(_amex_workbook_bytes())

    h = amex_statement("amex", r"/\d{4}-\d{2}\.xls$")
    assert h.matches(str(d / "2022-07.xls"))
    df = h.run(spark, f"{d}/2022-07.xls")
    got = [tuple(r) for r in df.collect()]
    assert got == [
        ("2022-06-19", "2022-06-20", "GOOGLE *DOMAINS", "TARO AMEX",
         "1760", "", "", "", "2022-07-01"),
        ("2022-05-29", "2022-05-29", "IWANTMYNAME IWANTMYNAME", "TARO AMEX",
         "129", "1.00 USD", "129", "", "2022-07-01"),
        ("2022-05-29", "2022-05-29", "IWANTMYNAME IWANTMYNAME", "",
         "-129", "1.00 USD", "129", "", "2022-07-01"),
    ]


def test_amex_xls_offset_columns(spark, tmp_path):
    """A real-world sheet whose data block starts at column 1 (column 0
    never populated) still parses: the FirstCol walk puts the date at
    row[0] so the dateRE filter keeps the statement rows (ADVICE r3)."""
    from go_bqloader_spark.plans.handlers import amex_statement
    from go_bqloader_spark.sources.xlsbiff import write_xls

    wb = write_xls([
        [None, "カードご利用履歴: "],
        [None, "ご利用日", "データ処理日", "ご利用内容", "カード会員様名", "金額"],
        [None, "2022/06/19", "2022/06/20", "GOOGLE *DOMAINS", "TARO AMEX", "￥1,760"],
    ])
    d = tmp_path / "in"
    d.mkdir()
    (d / "2022-07.xls").write_bytes(wb)
    h = amex_statement("amex", r"/\d{4}-\d{2}\.xls$")
    got = [tuple(r) for r in h.run(spark, f"{d}/2022-07.xls").collect()]
    assert got == [
        ("2022-06-19", "2022-06-20", "GOOGLE *DOMAINS", "TARO AMEX",
         "1760", "", "", "", "2022-07-01"),
    ]


# -------------------------------------------------- Slack push notifier
class _FakeSlackTransport:
    """Fake of the Slack API, mirroring the reference's fake round-tripper
    (notifier_test.go:35-68): auth check → JSON check → channel check."""

    VALID_TOKEN = "validToken"

    def __init__(self):
        self.requests = []

    def __call__(self, req):
        import io
        import json as _json

        self.requests.append(req)

        class Resp(io.BytesIO):
            status = 200

        if req.headers.get("Authorization") != f"Bearer {self.VALID_TOKEN}":
            return Resp(b'{"ok":false,"error":"not_authed"}')
        try:
            msg = _json.loads(req.data)
        except ValueError:
            return Resp(b'{"ok":false,"error":"invalid_form_data"}')
        if not msg.get("channel"):
            return Resp(b'{"ok":false,"error":"channel_not_found"}')
        return Resp(b'{"ok":true}')


def test_slack_notifier_contract():
    """Port of notifier_test.go:70-131 (succeeded / failed-result / no
    token / with options) + payload parity: text is Result.message(),
    empty optionals are omitted from the JSON."""
    import json

    from go_bqloader_spark.notifier import SlackNotifier

    ok_result = Result(handler="myhandler", path="testfile")
    err_result = Result(
        handler="myhandler", path="testfile", error=RuntimeError("some error")
    )

    fake = _FakeSlackTransport()
    # succeeded
    SlackNotifier("#channel", "validToken", opener=fake).notify(ok_result)
    sent = json.loads(fake.requests[-1].data)
    assert sent == {
        "channel": "#channel",
        "text": ":white_check_mark: myhandler handler successfully loaded testfile",
    }
    # failed RESULT still notifies fine (the :x: message)
    SlackNotifier("#channel", "validToken", opener=fake).notify(err_result)
    sent = json.loads(fake.requests[-1].data)
    assert sent["text"] == ":x: myhandler handler failed to load testfile: some error"
    # no token → API error surfaces
    with pytest.raises(RuntimeError, match="not_authed"):
        SlackNotifier("#channel", "", opener=fake).notify(ok_result)
    # empty channel → channel_not_found
    with pytest.raises(RuntimeError, match="channel_not_found"):
        SlackNotifier("", "validToken", opener=fake).notify(ok_result)
    # with options: optionals present in payload
    SlackNotifier(
        "#channel", "validToken", icon_emoji=":robot:", username="loader",
        opener=fake,
    ).notify(ok_result)
    sent = json.loads(fake.requests[-1].data)
    assert sent["icon_emoji"] == ":robot:" and sent["username"] == "loader"
    # HTTP-level failure
    class Boom:
        status = 500

        def read(self):
            return b"internal"

    with pytest.raises(RuntimeError, match="status code 500"):
        SlackNotifier("#channel", "validToken", opener=lambda r: Boom()).notify(
            ok_result
        )

    # the REAL urllib opener raises HTTPError (an OSError subclass) on
    # HTTP >= 400 — it must reach the status branch with the body, not be
    # rewrapped as a connection failure (ADVICE r3)
    import urllib.error

    def raising_opener(req):
        raise urllib.error.HTTPError(
            req.full_url, 503, "Service Unavailable", {},
            __import__("io").BytesIO(b"upstream says no"),
        )

    with pytest.raises(RuntimeError, match="status code 503.*upstream says no"):
        SlackNotifier("#channel", "validToken", opener=raising_opener).notify(
            ok_result
        )


def test_registry_pushes_to_notifier(spark, tmp_path):
    """Registry(notify=SlackNotifier(...).notify) posts one message per
    (event, handler) — the reference wiring (handler.go:89-95)."""
    import json

    from go_bqloader_spark.notifier import SlackNotifier

    d = tmp_path / "in"
    d.mkdir()
    (d / "2022-07.xls").write_bytes(_amex_workbook_bytes())
    fake = _FakeSlackTransport()
    reg = Registry(notify=SlackNotifier("#c", "validToken", opener=fake).notify)
    reg.add(amex_statement("amex", r"/\d{4}-\d{2}\.xls$"))
    reg.dispatch(spark, f"{d}/2022-07.xls")
    assert len(fake.requests) == 1
    assert "amex handler successfully loaded" in json.loads(fake.requests[0].data)["text"]
