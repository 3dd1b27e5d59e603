"""Format-3 manifests: bucket entries live in immutable per-commit GROUP
files so commit metadata is O(delta), not O(table) — a steady-state MoR
append serializes one entry per touched bucket instead of re-writing every
accumulated entry (zone bounds included) on every commit."""

import json
import os

import pytest

from go_bqloader_spark.lake import LakeTable

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]


def _mk(spark, tmp_path, **kw):
    kw.setdefault("n_buckets", 4)
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), PAGE_COLS, key=["url", "warc_ts"], **kw
    )


def _batch(spark, i, n=6):
    rows = [
        ("U", i * 100 + j, f"https://h{j}.ex/p", None, None, f"t{i}", "en")
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )


def _raw_manifest(t, version):
    return json.loads(t.fs.read_text(t._manifest_path(version)))


def _group(t, gname):
    return json.loads(
        t.fs.read_text(os.path.join(t.path, "_manifests", gname))
    )


def test_commit_metadata_is_o_delta(spark, tmp_path):
    """Each MoR append's group holds ONLY that commit's new entries; the
    serialized manifest carries group refs, not the entry map."""
    t = _mk(spark, tmp_path)
    for i in range(5):
        t.merge(_batch(spark, i), batch_key=("q", i))
    raw = _raw_manifest(t, t.current_version())
    assert "buckets" not in raw and len(raw["groups"]) == 5
    last = _group(t, raw["groups"][-1])
    # delta commit: adds only (1 new entry per touched bucket), no replaces
    assert not last["replaces"]
    assert all(len(es) == 1 for es in last["adds"].values())
    # the resolved view still accumulates: 5 delta entries per bucket
    assert set(t.entries_per_bucket().values()) == {5}
    # and group sizes stay flat while the table's entry count grows 5x
    sizes = [len(json.dumps(_group(t, g))) for g in raw["groups"]]
    assert max(sizes) < 2 * min(sizes)


def test_compaction_prunes_shadowed_groups(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i in range(4):
        t.merge(_batch(spark, i), batch_key=("q", i))
    t.compact()
    raw = _raw_manifest(t, t.current_version())
    assert len(raw["groups"]) == 1  # the rewrite shadows every delta group
    t.merge(_batch(spark, 9), batch_key=("q", 9))
    assert len(_raw_manifest(t, t.current_version())["groups"]) == 2
    assert set(t.entries_per_bucket().values()) == {2}


def test_schema_commit_writes_no_group(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, 0), batch_key=("q", 0))
    g_before = _raw_manifest(t, t.current_version())["groups"]
    t.add_column("fetch_status", "int")
    raw = _raw_manifest(t, t.current_version())
    assert raw["groups"] == g_before  # metadata-only commit reuses groups


def test_expire_gc_unreferenced_groups(spark, tmp_path):
    t = _mk(spark, tmp_path)
    for i in range(4):
        t.merge(_batch(spark, i), batch_key=("q", i))
    t.compact()
    mdir = str(tmp_path / "tbl" / "_manifests")
    n_groups_before = sum(1 for f in os.listdir(mdir) if f.startswith("g"))
    out = t.expire_snapshots(keep_n=1, orphan_grace_sec=0)
    assert out["group_files_removed"] >= 4  # the shadowed delta groups
    kept = [f for f in os.listdir(mdir) if f.startswith("g")]
    assert len(kept) < n_groups_before
    assert set(kept) == set(_raw_manifest(t, t.current_version())["groups"])
    # table still reads and commits
    state = sorted(map(tuple, t.read().collect()))
    t.merge(_batch(spark, 9), batch_key=("q", 9))
    assert len(t.read().collect()) == len(state)

    # an in-flight writer's group (no manifest yet) survives default grace
    orphan = os.path.join(mdir, "g00000099_deadbeef0000.json")
    with open(orphan, "w") as f:
        json.dump({"adds": {}, "replaces": []}, f)
    t.expire_snapshots(keep_n=1)
    assert os.path.exists(orphan)


@pytest.mark.parametrize("found", [2, None])
def test_unsupported_manifest_format_is_rejected(spark, tmp_path, found):
    """A LATEST manifest of format 2, or one with no ``format_version``,
    raises naming the format it found instead of being misread."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, 0), batch_key=("q", 0))
    v = t.current_version()
    mj = _raw_manifest(t, v)
    del mj["format_version"]
    if found is not None:
        mj["format_version"] = found
    with open(t._manifest_path(v), "w") as f:
        json.dump(mj, f)
    cold = LakeTable(spark, t.path)
    for read in (cold.manifest, cold.read):
        with pytest.raises(ValueError, match=f"format_version {found}"):
            read()


def test_unsupported_orphan_manifest_is_not_published(spark, tmp_path):
    """A commit that finds an unpublished next manifest of another format
    raises and leaves LATEST where it was."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, 0), batch_key=("q", 0))
    v = t.current_version()
    orphan = dict(_raw_manifest(t, v), version=v + 1, parent=v, format_version=2)
    t.fs.create_exclusive(t._manifest_path(v + 1), json.dumps(orphan))
    with pytest.raises(ValueError, match="format_version 2"):
        t.merge(_batch(spark, 1), batch_key=("q", 1))
    assert t.current_version() == v


def test_group_coalescing_bounds_live_list(spark, tmp_path):
    """With max_manifest_groups=6, 20 delta commits keep the live group
    list bounded while the resolved view, reads, and time travel stay
    exact — the Iceberg manifest-merge analog, metadata only."""
    t = _mk(spark, tmp_path, max_manifest_groups=6)
    for i in range(20):
        t.merge(_batch(spark, i), batch_key=("q", i))
        raw = _raw_manifest(t, t.current_version())
        assert len(raw["groups"]) <= 7  # coalesce fires above 6
    assert set(t.entries_per_bucket().values()) == {20}
    assert t.read().count() == 6  # 6 urls, LWW latest
    # a consolidated group exists and is pure adds
    raw = _raw_manifest(t, t.current_version())
    consolidated = [g for g in raw["groups"] if "_m" in g]
    assert consolidated
    assert not _group(t, consolidated[0])["replaces"]
    # time travel: an old manifest still resolves through its own groups
    old = t.manifest(5)  # after 5 merges: 1 entry per bucket per merge
    assert set(len(es) for es in old["buckets"].values()) == {5}
    # expire GCs the superseded (pre-coalesce) group files
    out = t.expire_snapshots(keep_n=1, orphan_grace_sec=0)
    assert out["group_files_removed"] > 0
    assert set(t.entries_per_bucket().values()) == {20}
    t.merge(_batch(spark, 99), batch_key=("q", 99))
    assert t.read().count() == 6
