"""Incremental near-duplicate maintenance via a persisted band index.

``maintenance.near_dup_rewrite`` re-runs MinHash-LSH over the WHOLE corpus
every pass — correct, but O(corpus) per run. At web scale the corpus is
10^10 documents and a change batch is 10^5: the right shape is an INDEX of
LSH band hashes, itself a lake table bucketed by ``band_hash``, so each
maintenance pass costs O(batch x bands + matched index buckets):

1. ``read_changes_since(indexed_through)`` — manifest-pruned incremental
   read of only the corpus buckets with new survivors.
2. MinHash signatures + band hashes for the NEW docs only.
3. Candidate lookup: the new band hashes' index buckets are computed
   driver-side from the hashes themselves (bucket(band_hash) is the index
   partitioning), so the index read opens only matching buckets — the
   10^10-doc index is never scanned.
4. Pairs are verified by signature similarity (stored with each band
   row), old-side docs are liveness-checked against the corpus (bucket-
   pruned narrow read), and connected components pick one representative
   per cluster — min key, matching ``near_dup_rewrite``.
5. Losers are tombstoned through the corpus's normal exactly-once merge;
   the index is updated in the same pass (new WINNERS' bands upserted
   with the doc's change seq, known losers' bands tombstoned), both under
   the batch ledger.

Because index rows carry the corpus change seq, the index's own manifest
watermarks record how far the corpus feed has been indexed —
``indexed_through()`` is an O(1) manifest read, no scan.

Staleness contract: a corpus doc deleted through the ordinary CDC path
leaves its band rows behind (a delete event carries no text, so its band
hashes cannot be recomputed). Those rows can only produce candidates,
never winners: the old side of every surviving pair is semi-joined
against the live corpus before clustering. A periodic full rebuild (or
``near_dup_rewrite``) garbage-collects them.

Reference analog: none — the reference loads whole files append-only
(``/root/reference/loader.go:45-57``); incremental corpus hygiene is part
of the Spark-side training-pipeline extension (SURVEY.md §2.4).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_bqloader_spark.lake.fsio import LocalFS
from go_bqloader_spark.lake.table import DELETED_COL, SEQ_COL, LakeTable, MergeStats
from go_bqloader_spark.operators.dedup import connected_components, minhash_signatures

_PARAMS = "neardup_params.json"


@dataclass(frozen=True)
class IncrementalDedupReport:
    """Outcome of one incremental near-dup pass."""

    new_docs: int
    candidate_pairs: int
    removed: int
    index_buckets_probed: int
    index_buckets_total: int
    corpus_merge: MergeStats
    index_merge: MergeStats | None


def _sig_str_to_arr(col: str) -> F.Column:
    return F.expr(f"transform(split({col}, ','), x -> cast(x AS bigint))")


def _band_hashes(sig_col: str, bands: int) -> F.Column:
    # identical band slicing to operators.dedup.minhash_candidates — the
    # index and the batch operator MUST bucket identically or incremental
    # results diverge from near_dup_rewrite
    return F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> xxhash64(b, array_join(slice({sig_col}, "
        f"b * (size({sig_col}) div {bands}) + 1, size({sig_col}) div {bands}), ',')))"
    )


class NearDupIndex:
    """A lake table of ``(band_hash, band_idx, <corpus key>, sig)`` rows
    keyed on the full tuple and BUCKETED BY ``band_hash`` — candidate
    lookup for a batch of new docs opens only the buckets its band hashes
    fall in."""

    def __init__(self, spark: SparkSession, path: str, corpus: LakeTable, fs=None):
        self.spark = spark
        self.corpus = corpus
        self.fs = fs or LocalFS()
        self.table = LakeTable(spark, path, fs=self.fs)
        self.params = json.loads(self.fs.read_text(os.path.join(path, _PARAMS)))

    # ------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        corpus: LakeTable,
        k: int = 16,
        bands: int = 4,
        n_shingle: int = 1,
        seed: int = 42,
        n_buckets: int = 32,
        text_col: str = "text",
        fs=None,
    ) -> "NearDupIndex":
        fs = fs or LocalFS()
        cm = corpus.manifest()
        ctypes = {f["name"]: f["type"] for f in corpus.schema_fields(cm)}
        cols = [("band_hash", "bigint"), ("band_idx", "int")]
        cols += [(kc, ctypes[kc]) for kc in cm["key"]]
        cols += [("sig", "string")]
        LakeTable.create(
            spark, path, cols,
            key=["band_hash", "band_idx", *cm["key"]],
            bucket_col="band_hash",
            n_buckets=n_buckets,
        )
        fs.write_atomic(
            os.path.join(path, _PARAMS),
            json.dumps({
                "k": k, "bands": bands, "n_shingle": n_shingle, "seed": seed,
                "text_col": text_col, "corpus_key": cm["key"],
            }),
        )
        return NearDupIndex(spark, path, corpus, fs=fs)

    # -------------------------------------------------------------- state
    def indexed_through(self) -> int:
        """Highest corpus change seq whose live docs are indexed — an O(1)
        manifest read (index row seq == the doc's corpus seq, so the
        index's own per-bucket watermarks carry corpus progress)."""
        wms = self.table.resume_watermarks()
        return max(wms.values(), default=-1)

    def _doc_bands(self, docs: DataFrame) -> DataFrame:
        """(band_hash, band_idx, <key cols>, sig, __id, _seq) for ``docs``
        (<key cols> + text + _seq). One explode + one hash aggregate for
        the signatures, then a batch-sized join back to the key columns."""
        p = self.params
        key = p["corpus_key"]
        ids = docs.withColumn("__id", F.concat_ws("\x00", *key))
        sig = minhash_signatures(
            ids.select("__id", p["text_col"]),
            id_col="__id", text_col=p["text_col"],
            k=p["k"], n_shingle=p["n_shingle"], seed=p["seed"],
        )
        return (
            sig.join(ids.select("__id", *key, SEQ_COL), "__id")
            .select(
                F.posexplode(_band_hashes("sig", p["bands"])).alias(
                    "band_idx", "band_hash"
                ),
                *key,
                F.expr("array_join(transform(sig, x -> cast(x AS string)), ',')").alias("sig"),
                "__id",
                SEQ_COL,
            )
        )

    # -------------------------------------------------------------- update
    def update(
        self,
        batch_id: int,
        threshold: float = 0.7,
        query_id: str = "neardup_incr",
        since: int | None = None,
    ) -> IncrementalDedupReport:
        """One incremental pass: index the corpus changes since
        ``since`` (default: ``indexed_through()``), tombstone near-dup
        losers in the corpus, and upsert the new winners' band rows.

        Both merges are exactly-once under ``(query_id, batch_id)`` /
        ``(query_id + "_index", batch_id)`` — redelivery is a no-op."""
        p = self.params
        key = p["corpus_key"]
        cm = self.corpus.manifest()
        im = self.table.manifest()
        if since is None:
            since = self.indexed_through()

        delta = self.corpus.read_changes_since(since)
        new_docs = delta.filter(
            ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            & F.col(p["text_col"]).isNotNull()
        ).select(*key, p["text_col"], SEQ_COL)

        # one evaluation of the scan+signature pipeline: the band rows
        # feed the bucket collect, both candidate sides, AND the index
        # merge below
        newb = self._doc_bands(new_docs).localCheckpoint(eager=True)
        n_new = newb.select("__id").distinct().count()
        if n_new == 0:
            stats = self.corpus.merge(
                self.spark.createDataFrame([], "op string, seq bigint"),
                batch_key=(query_id, batch_id),
            )
            return IncrementalDedupReport(
                0, 0, 0, 0, im["n_buckets"], stats, None
            )

        # candidate lookup touches only the index buckets the new band
        # hashes fall in — bucket membership is a pure function of the
        # hash, computed here from the batch (bounded by n_buckets ints)
        probe = sorted(
            r["__b"]
            for r in newb.selectExpr(f"{self.table._bucket_expr(im)} AS __b")
            .distinct()
            .collect()
        )
        # every sweep read is PINNED to the snapshot its bucket ids were
        # computed from (version=...): bucket membership is a function of
        # the layout, and these DataFrames evaluate lazily inside the
        # merges below — a concurrent rebucket between planning and
        # evaluation would otherwise prune the NEW layout with OLD bucket
        # ids and silently drop candidates/deletes. Decisions come from
        # the pinned snapshot; the OCC merge validates the commit.
        oldb = (
            self.table.read(version=im["version"], buckets=probe)
            .select(
                "band_idx", "band_hash", *key, "sig",
                F.concat_ws("\x00", *key).alias("__id"),
            )
            .withColumn("__new", F.lit(False))
        )
        allb = oldb.unionByName(
            newb.select("band_idx", "band_hash", *key, "sig", "__id").withColumn(
                "__new", F.lit(True)
            )
        )

        est = F.expr(
            "aggregate(zip_with(__s1, __s2, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
            "0, (a, v) -> a + v)"
        ) / F.lit(p["k"])
        n = newb.select(
            "band_idx", "band_hash",
            F.col("__id").alias("__nid"), _sig_str_to_arr("sig").alias("__s1"),
        )
        o = allb.select(
            "band_idx", "band_hash",
            F.col("__id").alias("__oid"), _sig_str_to_arr("sig").alias("__s2"),
            "__new", *key,
        )
        cand = (
            n.join(o, ["band_idx", "band_hash"])
            .filter(F.col("__nid") != F.col("__oid"))
            .withColumn("__est", est)
            .filter(F.col("__est") >= threshold)
            .select("__nid", "__oid", "__new", *key)
            .distinct()
            .localCheckpoint(eager=True)
        )

        # liveness: an index hit whose doc was CDC-deleted must not become
        # a winner. The check is bucket-pruned on the CORPUS side too —
        # the old-side candidate keys are batch-sized.
        old_keys = cand.filter(~F.col("__new")).select(*key, "__oid").distinct()
        if old_keys.limit(1).count():
            cbuckets = sorted(
                r["__b"]
                for r in old_keys.selectExpr(f"{self.corpus._bucket_expr(cm)} AS __b")
                .distinct()
                .collect()
            )
            live = self.corpus.read(version=cm["version"], buckets=cbuckets).select(
                F.concat_ws("\x00", *key).alias("__oid")
            )
            live_old = old_keys.join(live, "__oid", "semi").select("__oid")
            cand = cand.filter(F.col("__new")).unionByName(
                cand.join(live_old, "__oid", "semi")
            )

        pairs = cand.select(
            F.least("__nid", "__oid").alias("d1"),
            F.greatest("__nid", "__oid").alias("d2"),
        ).distinct().localCheckpoint(eager=True)
        n_pairs = pairs.count()

        if n_pairs:
            comp = connected_components(pairs, src="d1", dst="d2", id_col="__id")
            losers = comp.filter(F.col("__id") != F.col("cluster_id")).select("__id")
        else:
            losers = self.spark.createDataFrame([], "__id string")
        losers = losers.localCheckpoint(eager=True)

        # corpus tombstones — same narrow delete construction as
        # maintenance._victim_deletes, but bucket-pruned: loser keys are
        # known, so only their corpus buckets are read
        changes = self._victim_deletes_pruned(cm, losers, allb)
        corpus_stats = self.corpus.merge(changes, batch_key=(query_id, batch_id))
        removed = 0 if corpus_stats.skipped else corpus_stats.rows_deleted

        # index update in the same pass: upsert the new WINNERS' bands
        # (losers never enter the index), tombstone known old losers'
        # bands. Row seq = the doc's corpus change seq, so the index
        # watermark advances exactly as far as the feed was consumed.
        ups = (
            newb.join(losers, "__id", "anti")
            .select(
                F.lit("U").alias("op"), F.col(SEQ_COL).alias("seq"),
                "band_hash", "band_idx", *key, "sig",
            )
        )
        # pinned to ``im`` like ``oldb``: ``probe`` holds im's bucket ids
        old_loser_bands = (
            self.table.read(version=im["version"], buckets=probe)
            .withColumn("__id", F.concat_ws("\x00", *key))
            .join(losers, "__id", "semi")
            .select(
                F.lit("D").alias("op"), (F.col(SEQ_COL) + 1).alias("seq"),
                "band_hash", "band_idx", *key,
                F.lit(None).cast("string").alias("sig"),
            )
        )
        idx_stats = self.table.merge(
            ups.unionByName(old_loser_bands),
            batch_key=(f"{query_id}_index", batch_id),
        )
        return IncrementalDedupReport(
            new_docs=n_new,
            candidate_pairs=n_pairs,
            removed=removed,
            index_buckets_probed=len(probe),
            index_buckets_total=im["n_buckets"],
            corpus_merge=corpus_stats,
            index_merge=idx_stats,
        )

    def rebuild(
        self, batch_id: int, query_id: str = "neardup_rebuild"
    ) -> MergeStats:
        """Garbage-collect stale index rows: one pass over the LIVE corpus
        recomputes every band row, upserts them (seq = the doc's corpus
        change seq — unchanged rows LWW-tie with their stored version and
        stay put), and tombstones index keys no live doc produces anymore
        (CDC-deleted docs' leftovers — see the staleness contract in the
        module doc). O(corpus) by design; run it at GC cadence, not per
        batch. Follow with ``table.compact(expire_tombstones=True)`` to
        drop the tombstones physically once no replay can resurrect them."""
        p = self.params
        key = p["corpus_key"]
        live = self.corpus.read().filter(F.col(p["text_col"]).isNotNull()).select(
            *key, p["text_col"], SEQ_COL
        )
        fresh = self._doc_bands(live).localCheckpoint(eager=True)
        ikey = ["band_hash", "band_idx", *key]
        stored = self.table.read().alias("s")
        want = fresh.select(*ikey).alias("w")
        # null-safe equality: key columns (e.g. a NULL warc_ts) must match
        # as values, or every stored row with a NULL key looks stale
        cond = None
        for c in ikey:
            eq = F.col(f"s.{c}").eqNullSafe(F.col(f"w.{c}"))
            cond = eq if cond is None else (cond & eq)
        stale = (
            stored.join(want, cond, "anti")
            .select(
                F.lit("D").alias("op"), (F.col(SEQ_COL) + 1).alias("seq"),
                *ikey, F.lit(None).cast("string").alias("sig"),
            )
        )
        ups = fresh.select(
            F.lit("U").alias("op"), F.col(SEQ_COL).alias("seq"),
            *ikey, "sig",
        )
        return self.table.merge(
            ups.unionByName(stale), batch_key=(query_id, batch_id)
        )

    def _victim_deletes_pruned(
        self, cm: dict, losers: DataFrame, allb: DataFrame
    ) -> DataFrame:
        """Delete changes for loser docs, reading only the corpus buckets
        the losers live in (their key columns ride the band frames)."""
        key = cm["key"]
        key_set = set(key)
        types = {f["name"]: f["type"] for f in self.corpus.schema_fields(cm)}
        data_cols = [
            f["name"] for f in self.corpus.schema_fields(cm)
            if f["name"] not in (SEQ_COL, DELETED_COL)
        ]
        loser_keys = (
            allb.select(*key, "__id").join(losers, "__id", "semi").distinct()
        )
        buckets = sorted(
            r["__b"]
            for r in loser_keys.selectExpr(f"{self.corpus._bucket_expr(cm)} AS __b")
            .distinct()
            .collect()
        )
        if not buckets:
            return self.spark.createDataFrame([], "op string, seq bigint")
        # pinned to the decision snapshot — see the update() comment
        narrow = self.corpus.read(version=cm["version"], buckets=buckets).select(
            F.concat_ws("\x00", *key).alias("__id"), *key, F.col(SEQ_COL)
        )
        return narrow.join(losers, "__id").select(
            F.lit("D").alias("op"),
            (F.col(SEQ_COL) + 1).alias("seq"),
            *[
                F.col(c) if c in key_set
                else F.lit(None).cast(types[c]).alias(c)
                for c in data_cols
            ],
        )
