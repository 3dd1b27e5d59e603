"""End-to-end drive via the production launch path: seeded CDC feed ->
LakeTable merge (out-of-order split) -> convergence + idempotence + text
byte-invariant; then the corpus-prep operators, URL canonicalization, key
Blooms, composed projectors, multi-writer commit rebase and format-3
manifests.

    zip -qr gbs.zip go_bqloader_spark
    spark-submit --master 'local[4]' --py-files gbs.zip tools/verify_drive.py
"""
import tempfile

from pyspark.sql import SparkSession, functions as F

from go_bqloader_spark.sources.datagen import gen_changes, expected_final_state
from go_bqloader_spark.lake.table import LakeTable
from go_bqloader_spark.functions.webtext import extract_text

spark = SparkSession.builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

changes = gen_changes(spark, n_events=50_000, n_urls=8_000, seed=42).cache()
n = changes.count()

tmp = tempfile.mkdtemp(prefix="gbs_verify_")
tbl = LakeTable.create(
    spark, tmp,
    [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
     ("text", "string"), ("lang", "string")],
    key=["url", "warc_ts"], bucket_col="url", n_buckets=8,
)
# out-of-order application: second half first
first = changes.filter(F.col("seq") % 2 == 0)
second = changes.filter(F.col("seq") % 2 == 1)
s1 = tbl.merge(second, batch_key=("drive", 1))
s2 = tbl.merge(first, batch_key=("drive", 2))
final = tbl.read()
exp = expected_final_state(changes)
a = final.select("url", "warc_ts", "text").exceptAll(
    exp.select("url", "warc_ts", "text"))
b = exp.select("url", "warc_ts", "text").exceptAll(
    final.select("url", "warc_ts", "text"))
assert a.count() == 0 and b.count() == 0, "state mismatch vs expected"
rows_final = final.count()

# idempotent redelivery
s3 = tbl.merge(first, batch_key=("drive", 2))
assert s3.skipped, "redelivered batch must be ledger-skipped"
assert tbl.read().count() == rows_final

# empty batch
s4 = tbl.merge(changes.limit(0), batch_key=("drive", 3))
assert tbl.read().count() == rows_final

# text byte-invariant: text == extract_text(html)
bad = final.filter(
    F.col("html").isNotNull()
    & (F.col("text") != extract_text(F.col("html")))
).count()
assert bad == 0, f"{bad} rows violate text byte-invariant"

print(f"DRIVE OK: events={n} final_rows={rows_final} "
      f"up1={s1.rows_upserted} up2={s2.rows_upserted} skipped_ok idempotent_ok "
      f"empty_ok text_invariant_ok")

# --- corpus-prep pipeline (textpipeline operators, new) ---
from go_bqloader_spark.operators.textpipeline import (
    paragraph_dedup, pii_scrub, repetition_stats, stratified_sample)

docs = spark.createDataFrame(
    [(1, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13 b14 b15 b16 b17 "
         "b18 b19 u1 u2 mail x@y.org"),
     (2, "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12 b13 b14 b15 b16 b17 "
         "b18 b19"),
     (3, "spam spam spam spam spam spam")],
    "doc_id bigint, text string")
pd_ = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
assert pd_[1]["kept_chunks"] == 2 and pd_[2]["dropped_chunks"] == 1
rp = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
assert rp[3]["low_quality"] and not rp[2]["low_quality"]
sc_ = pii_scrub(docs).filter("doc_id = 1").collect()[0]
assert sc_["n_emails"] == 1 and "<EMAIL>" in sc_["redacted"]
samp = stratified_sample(docs.withColumn("source", F.lit("s")), "source")
assert samp.count() == samp.count()  # deterministic plan executes
print("TEXTPIPE OK: chunk-dedup, repetition flags, pii redaction, sampling")

# --- URL canonicalization (CDC key normalization) ---
from go_bqloader_spark.functions.urlnorm import canonical_url
cu = spark.createDataFrame(
    [("HTTP://A.EX:80/P?utm_s=1&q=2#f",)], "url string"
).select(canonical_url("url").alias("c")).collect()[0]["c"]
assert cu == "http://a.ex/P?q=2", cu
print("URLNORM OK:", cu)

# --- registrable domain (the domain-rollup key) ---
from go_bqloader_spark.functions.urlnorm import registrable_domain

rd = spark.createDataFrame(
    [("a.b.site.co.uk",), ("www.news.org",)], "host string",
).select(registrable_domain("host").alias("d")).collect()
assert [r["d"] for r in rd] == ["site.co.uk", "news.org"], rd
print("DOMAIN OK:", [r["d"] for r in rd])


# --- parquet key Blooms: point lookups through the production API ---
tmp3 = tempfile.mkdtemp(prefix="gbs_bl_")
tb = LakeTable.create(
    spark, tmp3,
    [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
     ("text", "string"), ("lang", "string")],
    key=["url", "warc_ts"], n_buckets=4, bloom_bits=8192,
)
feed2 = gen_changes(spark, n_events=3000, n_urls=400, n_hosts=20, seed=13)
tb.merge(feed2, batch_key=("bl", 0))
mrow = tb.read().limit(1).collect()[0]
# the point read runs on the driver (pyarrow over the key's bucket, a
# local relation back): exact, and no Spark job
sc = spark.sparkContext
sc.addJobTag("drive-point")
try:
    pt = tb.read(point={"url": mrow["url"], "warc_ts": mrow["warc_ts"]}).collect()
finally:
    sc.removeJobTag("drive-point")
sc._jsc.sc().listenerBus().waitUntilEmpty()
point_jobs = len(sc._jsc.sc().statusTracker().getJobIdsForTag("drive-point"))
assert pt == [mrow] and point_jobs == 0, (pt, point_jobs)
# the Blooms serve Spark's pushed-down key equality: an absent url that
# sorts right after a stored one, at a stored warc_ts, in a table whose
# buckets hold one entry each (no resolve window, so the equality reaches
# the scan). The row-group statistics, dictionaries or key Blooms skip
# every row group, so the scan outputs no row
assert set(tb.entries_per_bucket().values()) == {1}
miss = tb.read().where(
    (F.col("url") == mrow["url"] + "~") & (F.col("warc_ts") == F.lit(mrow["warc_ts"]))
)
assert miss.collect() == []
plan = miss._jdf.queryExecution().executedPlan()
if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
    plan = plan.executedPlan()
scans, stack = [], [plan]
while stack:
    node = stack.pop()
    if node.getClass().getSimpleName() == "FileSourceScanExec":
        scans.append(node.metrics().get("numOutputRows").get().value())
    kids = node.children()
    stack.extend(kids.apply(i) for i in range(kids.size()))
assert scans and sum(scans) == 0, scans
print(f"BLOOM OK: point lookup exact in {point_jobs} Spark jobs, pushed-down "
      f"in-range miss scanned {sum(scans)} rows")

# --- composed projectors through one hook ---
from go_bqloader_spark.functions.urlnorm import canonicalize_projector
from go_bqloader_spark.functions.webtext import make_html, project_page_batch
from go_bqloader_spark.streaming import compose_projectors
stack = compose_projectors(canonicalize_projector(), project_page_batch)
cb = spark.createDataFrame(
    [("U", 1, "HTTPS://C.EX/p?utm_source=t", "the title", "a body of words")],
    "op string, seq bigint, url string, title string, body string"
).select("op", "seq", "url",
         F.lit(None).cast("timestamp").alias("warc_ts"),
         make_html(F.col("title"), F.col("body")).alias("html"),
         F.lit(None).cast("string").alias("text"),
         F.lit(None).cast("string").alias("lang"))
cres = stack(cb).collect()[0]
assert cres["url"] == "https://c.ex/p", cres["url"]
assert cres["text"] == "the title the title a body of words", cres["text"]
assert cres["n_tokens"] == 8 and cres["lang"] == "en", cres
print("STACK OK: canonicalized key, text re-extracted, token stats")

# --- multi-writer optimistic concurrency (r5): interleaved commit rebases ---
tmp4 = tempfile.mkdtemp(prefix="gbs_cc_")
tc = LakeTable.create(
    spark, tmp4,
    [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
     ("text", "string"), ("lang", "string")],
    key=["url", "warc_ts"], n_buckets=4,
)
tc2 = LakeTable(spark, tmp4)
_orig_cas = tc.fs.create_exclusive
_fired = {"done": False}
def _race(path, data):
    if not _fired["done"]:
        _fired["done"] = True
        tc2.merge(spark.createDataFrame(
            [("U", 1, "https://w2.ex/p", None, None, "w2", "en")],
            "op string, seq bigint, url string, warc_ts timestamp, "
            "html binary, text string, lang string"), batch_key=("w2", 0))
    return _orig_cas(path, data)
tc.fs.create_exclusive = _race
ccst = tc.merge(spark.createDataFrame(
    [("U", 2, "https://w1.ex/p", None, None, "w1", "en")],
    "op string, seq bigint, url string, warc_ts timestamp, "
    "html binary, text string, lang string"), batch_key=("w1", 0))
assert not ccst.skipped and tc.read().count() == 2
assert tc.committed("w1", 0) and tc.committed("w2", 0)
print(f"CONCURRENCY OK: interleaved commit rebased to v{ccst.version}, both batches live")

# --- format-3 manifests: O(delta) groups + bounded coalescing (r5 tail) ---
import json as _json
tmp6 = tempfile.mkdtemp(prefix="gbs_f3_")
tf = LakeTable.create(
    spark, tmp6,
    [("url", "string"), ("warc_ts", "timestamp"), ("html", "binary"),
     ("text", "string"), ("lang", "string")],
    key=["url", "warc_ts"], n_buckets=4, max_manifest_groups=4,
)
for i in range(7):
    tf.merge(spark.createDataFrame(
        [("U", i * 10 + j, f"https://f3-{j}.ex/p", None, None, f"f{i}", "en")
         for j in range(4)],
        "op string, seq bigint, url string, warc_ts timestamp, "
        "html binary, text string, lang string"), batch_key=("f3", i))
_raw = _json.loads(tf.fs.read_text(tf._manifest_path(tf.current_version())))
assert "buckets" not in _raw, "format-3 manifest must not inline buckets"
assert len(_raw["groups"]) <= 5, _raw["groups"]
assert any("_m" in g for g in _raw["groups"]), "coalesced group expected"
_cold = LakeTable(spark, tmp6)  # cold reader resolves groups from disk
assert _cold.read().count() == 4
assert {r.text for r in _cold.read().collect()} == {"f6"}
print(f"FORMAT3 OK: 7 delta commits -> {len(_raw['groups'])} live groups "
      "(coalesced), cold-reader LWW state exact")
