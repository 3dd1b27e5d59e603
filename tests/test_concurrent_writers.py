"""Multi-writer optimistic concurrency: conflicting commits retry instead
of failing the batch. Delta appends rebase at the MANIFEST level (the
written parquet stays valid — no data rewrite); a layout race (rebucket)
recomputes against the fresh snapshot; exactly-once holds when two
writers race the SAME batch_key. This is the engine analog of
Iceberg's fast-append commit retry — the reference pipeline serializes
per-table via Cloud Functions, so multi-writer safety is a Spark-side
extension (reference: handler.go:69-112 runs one load per event).
"""

import os
import threading

import pytest

from go_bqloader_spark.lake import CommitConflict, LakeTable

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


def _batch(spark, prefix, i, n=3):
    rows = [
        ("U", i * 100 + j, f"https://{prefix}{j}.ex/p", None, None, f"{prefix}{i}", "en")
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string",
    )


def _interleave(t1, action):
    """Fire ``action`` once, right before t1's first manifest CAS — the
    narrowest window a concurrent writer can land in."""
    orig = t1.fs.create_exclusive
    fired = {"done": False}

    def hook(path, data):
        if not fired["done"]:
            fired["done"] = True
            action()
        return orig(path, data)

    t1.fs.create_exclusive = hook


def _data_dirs(tmp_path):
    root = str(tmp_path / "tbl" / "data")
    return sorted(d for d in os.listdir(root))


def _referenced_dirs(t):
    """Data dirs referenced by ANY retained manifest (time travel keeps
    superseded dirs on disk legitimately — an orphan is referenced by
    none)."""
    dirs = set()
    for m in t._walk_chain():
        for es in m["buckets"].values():
            for e in es:
                dirs.add(e["path"].split("/")[1])
    return sorted(dirs)


def test_mor_append_rebases_without_data_rewrite(spark, tmp_path):
    t1 = _mk(spark, tmp_path)
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    v0 = t1.current_version()

    _interleave(t1, lambda: t2.merge(_batch(spark, "b", 0), batch_key=("w2", 0)))
    st = t1.merge(_batch(spark, "a", 0), batch_key=("w1", 0))

    assert not st.skipped and st.rows_upserted == 3
    assert t1.current_version() == v0 + 2  # t2 took v+1, t1 rebased to v+2
    assert t1.committed("w1", 0) and t1.committed("w2", 0)
    assert t1.read().count() == 6  # both batches live
    # the rebase was metadata-only: t1's entries still point at the dir it
    # wrote for v+1 (stale c%08d prefix), not a rewritten one
    m = t1.manifest()
    w1_dirs = {
        e["path"].split("/")[1]
        for es in m["buckets"].values()
        for e in es
        if f"c{v0 + 1:08d}" in e["path"]
    }
    assert len(w1_dirs) == 2  # t2's dir and t1's rebased dir share the prefix
    # nothing orphaned: every data dir is referenced by the live manifest
    assert _data_dirs(tmp_path) == _referenced_dirs(t1)


def test_same_batch_key_race_skips_and_cleans_up(spark, tmp_path):
    t1 = _mk(spark, tmp_path)
    t2 = LakeTable(spark, str(tmp_path / "tbl"))

    # the competing writer lands the SAME logical batch first
    _interleave(t1, lambda: t2.merge(_batch(spark, "a", 0), batch_key=("q", 0)))
    st = t1.merge(_batch(spark, "a", 0), batch_key=("q", 0))

    assert st.skipped
    assert t1.read().count() == 3  # applied exactly once
    # the loser's freshly written dir was deleted, not left as an orphan
    assert _data_dirs(tmp_path) == _referenced_dirs(t1)


def test_rebucket_race_forces_recompute(spark, tmp_path):
    t1 = _mk(spark, tmp_path)
    t2 = LakeTable(spark, str(tmp_path / "tbl"))
    t1.merge(_batch(spark, "a", 0), batch_key=("q", 0))

    # layout change lands mid-merge: t1's written b= dirs are mis-bucketed
    # under the new layout, so the rebase must be refused and the merge
    # recomputed under n_buckets=8
    _interleave(t1, lambda: t2.rebucket(8))
    st = t1.merge(_batch(spark, "c", 1), batch_key=("q", 1))

    assert not st.skipped
    assert t1.manifest()["n_buckets"] == 8
    assert t1.read().count() == 6
    # every key lands exactly once under the new layout (a mis-bucketed
    # rebase would duplicate or lose rows on bucket-pruned resolution)
    dup = t1.read().groupBy("url").count().filter("count > 1").count()
    assert dup == 0
    # the refused rebase deleted its mis-bucketed dir: nothing orphaned
    assert _data_dirs(tmp_path) == _referenced_dirs(t1)


def test_commit_retries_zero_fails_fast(spark, tmp_path):
    t1 = _mk(spark, tmp_path)
    t2 = LakeTable(spark, str(tmp_path / "tbl"))

    _interleave(t1, lambda: t2.merge(_batch(spark, "b", 0), batch_key=("w2", 0)))
    with pytest.raises(CommitConflict, match="concurrent commit"):
        t1.merge(_batch(spark, "a", 0), batch_key=("w1", 0), commit_retries=0)
    # fail-fast still cleans up its unreferenced write
    assert _data_dirs(tmp_path) == _referenced_dirs(t1)


def test_threaded_writers_converge(spark, tmp_path):
    """Two real concurrent writers (threads sharing the session, separate
    table handles — the local analog of two driver processes) each apply 4
    batches; retries absorb every CAS race and the table converges to the
    union with all 8 ledger entries."""
    _mk(spark, tmp_path)
    errors = []

    def writer(name):
        try:
            t = LakeTable(spark, str(tmp_path / "tbl"))
            for i in range(4):
                t.merge(
                    _batch(spark, name, i),
                    batch_key=(name, i),
                    commit_retries=10,
                )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append((name, e))

    threads = [threading.Thread(target=writer, args=(n,)) for n in ("wa", "wb")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    t = LakeTable(spark, str(tmp_path / "tbl"))
    # 3 urls per writer, last batch wins per url
    state = {(r["url"], r["text"]) for r in t.read().collect()}
    assert state == {
        (f"https://{n}{j}.ex/p", f"{n}3") for n in ("wa", "wb") for j in range(3)
    }
    for n in ("wa", "wb"):
        for i in range(4):
            assert t.committed(n, i)
    assert _data_dirs(tmp_path) == _referenced_dirs(t)


def test_rebase_over_coalesced_parent(spark, tmp_path):
    """A writer whose CAS loses to a commit that triggered group
    coalescing must rebase against the CONSOLIDATED group list: the
    format-3 diff runs against the resolved parent map, so the rebased
    delta folds correctly on top of the coalesced prefix."""
    t1 = _mk(spark, tmp_path, max_manifest_groups=4)
    t2 = LakeTable(spark, t1.path)
    # enough history that the interloper's commit crosses the threshold
    for i in range(4):
        t1.merge(_batch(spark, "h", i), batch_key=("w1", i))

    def interloper():
        t2.merge(_batch(spark, "x", 50), batch_key=("w2", 50))

    _interleave(t1, interloper)
    t1.merge(_batch(spark, "h", 9), batch_key=("w1", 9))

    t3 = LakeTable(spark, t1.path)  # cold reader, resolves from disk
    m = t3.manifest()
    assert len(m["groups"]) <= 5
    assert any("_m" in g for g in m["groups"])  # consolidated group live
    urls = {r.url for r in t3.read().collect()}
    assert {f"https://h{j}.ex/p" for j in range(3)} <= urls
    assert {f"https://x{j}.ex/p" for j in range(3)} <= urls
    # latest text for the h-urls is the rebased writer's batch 9
    texts = {r.text for r in t3.read().collect() if r.url.startswith("https://h")}
    assert texts == {"h9"}
