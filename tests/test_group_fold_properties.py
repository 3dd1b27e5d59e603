"""Property tests for the format-3 manifest fold algebra — the pure
functions behind O(delta) commit metadata (`lake/table.py` entry groups).

Invariants:
  1. diff/fold roundtrip — for ANY parent and new bucket map,
     fold(parent, _diff_buckets(parent, new)) == new (modulo empty
     buckets, which resolution treats as absent).
  2. prune preserves resolution — for ANY group sequence,
     fold(_prune_groups(gs)) == fold(gs): dropping a group whose adds
     and replaces are all covered by later KEPT replacers never changes
     the resolved map.
  3. coalescing preserves resolution — folding a prefix into one pure-
     adds group leaves fold(all) unchanged.

No SparkSession needed: the functions under test are driver-side
metadata algebra, exercised here through a stub that serves groups from
a dict the way `_load_group` serves them from immutable JSON files.
"""

from hypothesis import given, settings, strategies as st

from go_bqloader_spark.lake.table import LakeTable

BUCKETS = [str(b) for b in range(5)]

bucket_map = st.dictionaries(
    st.sampled_from(BUCKETS),
    st.lists(st.integers(min_value=0, max_value=9), max_size=5),
    max_size=5,
)

group = st.fixed_dictionaries(
    {
        "adds": bucket_map,
        "replaces": st.lists(st.sampled_from(BUCKETS), max_size=3, unique=True),
    }
)


def fold(groups):
    """``LakeTable._fold_groups`` over ``groups``, served from memory."""
    names = [f"g{i}" for i in range(len(groups))]
    return _Stub(dict(zip(names, groups)))._fold_groups(names)


def norm(buckets):
    """Resolution treats an empty bucket and an absent one identically."""
    return {b: es for b, es in buckets.items() if es}


class _Stub:
    """Serves _load_group from memory; reuses LakeTable's real methods."""

    def __init__(self, groups: dict):
        self._groups = groups

    def _load_group(self, gname):
        return self._groups[gname]

    _prune_groups = LakeTable._prune_groups
    _fold_groups = LakeTable._fold_groups


@given(parent=bucket_map, new=bucket_map)
@settings(max_examples=300, deadline=None)
def test_diff_fold_roundtrip(parent, new):
    adds, replaces = LakeTable._diff_buckets(parent, new)
    refolded = fold(
        [{"adds": parent, "replaces": []}, {"adds": adds, "replaces": replaces}]
    )
    assert norm(refolded) == norm(new)


@given(parent=bucket_map, new=bucket_map)
@settings(max_examples=300, deadline=None)
def test_diff_is_minimal_on_pure_appends(parent, new):
    """A commit that only appends entries produces adds holding ONLY the
    appended suffix (the O(delta) guarantee) and no replaces."""
    appended = {b: es + [77] for b, es in parent.items()}
    adds, replaces = LakeTable._diff_buckets(parent, appended)
    assert not replaces
    assert all(es == [77] for es in adds.values())


@given(gs=st.lists(group, max_size=8))
@settings(max_examples=300, deadline=None)
def test_prune_preserves_resolution(gs):
    names = [f"g{i}" for i in range(len(gs))]
    stub = _Stub(dict(zip(names, gs)))
    kept = stub._prune_groups(names)
    assert norm(fold([stub._load_group(n) for n in kept])) == norm(fold(gs))
    # prune keeps relative order
    it = iter(names)
    assert all(any(n == k for n in it) for k in kept)


@given(gs=st.lists(group, min_size=2, max_size=8), tail=st.integers(1, 4))
@settings(max_examples=300, deadline=None)
def test_coalesce_preserves_resolution(gs, tail):
    tail = min(tail, len(gs) - 1)
    consolidated = {"adds": fold(gs[:-tail]), "replaces": []}
    assert norm(fold([consolidated] + gs[-tail:])) == norm(fold(gs))
