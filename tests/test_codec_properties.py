"""Property-based test (hypothesis) for the XLS codec: the fixture
writer and the BIFF8 reader must roundtrip for ARBITRARY valid grids,
not just the hand-picked goldens. Pure Python, no Spark session."""

from hypothesis import given, settings, strategies as st

from go_bqloader_spark.sources.xlsbiff import read_xls_rows, write_xls

# printable-ish cell text incl. CJK and the quote/comma hazards
_cell = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ0123456789 ,\"'¥-./:") + ["金", "額", "日", "é"]
    ),
    max_size=12,
)


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.lists(st.one_of(st.none(), _cell), min_size=0, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_xls_roundtrip_property(grid):
    """write_xls∘read_xls_rows is identity on the FirstCol..LastCol view:
    leading Nones trim, interior Nones read back as '' (unpopulated gaps
    inside the populated range), trailing Nones trim."""
    expected = []
    for row in grid:
        vals = [(i, v) for i, v in enumerate(row) if v is not None]
        if not vals:
            continue  # fully unpopulated rows don't exist in BIFF
        first, last = vals[0][0], vals[-1][0]
        expected.append(
            [row[i] if row[i] is not None else "" for i in range(first, last + 1)]
        )
    got = read_xls_rows(write_xls(grid))
    assert got == expected

