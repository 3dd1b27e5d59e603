"""The benchmark workloads, each a closed loop with one caller.

Every workload stages its inputs from the seed, runs an untimed warm-up
(the JVM's first pass through the code, reported on its own), measures
and then checks the engine's outputs against an oracle. Each returns a
:class:`Result`; ``run.py`` turns it into metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from go_bqloader_spark.lake import LakeTable
from go_bqloader_spark.plans import ORACLE_SQL, QUERIES
from go_bqloader_spark.sources import CHANGE_SCHEMA, expected_final_state, gen_changes
from go_bqloader_spark.streaming import run_cdc_stream

import querydata

PAGE_COLS = [
    ("url", "string"),
    ("warc_ts", "timestamp"),
    ("html", "binary"),
    ("text", "string"),
    ("lang", "string"),
]
KEY = ["url", "warc_ts"]
STATE_COLS = ["url", "warc_ts", "text", "lang", "_seq"]
ROW_COLS = ["url", "warc_ts", "html", "text", "lang", "_seq"]

# read_after_write: a bulk load of the log's head in a few large
# interleaved MoR merges (bench.py's cdc_apply shape, scaled down), then a
# stream tail applies one small binlog segment per trigger with
# maintenance every few batches, then one consumer reads
LOAD_EVENTS, LOAD_BATCHES = 48_000, 2
TAIL_SEGMENTS, TAIL_SEGMENT_EVENTS = 4, 1_000
TAIL_COMPACT_EVERY, TAIL_EXPIRE_KEEP = 2, 4
LOOKUPS, BLOOM_BITS = 12, 4096
# query_registry: the leaves the ROADMAP's carried-over items name, and
# the LWW dedup leaf of the merge operators
QUERY_LEAVES = [
    "lww_dedup",
    "clean_number",
    "token_stats",
    "windowed_metrics",
    "embedding_near_dup",
]


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    cpus: int
    work: str
    ref: list[tuple[float, float, float]] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def calibrate(self) -> None:
        """Time the reference job now; see :func:`reference_job`."""
        start = time.perf_counter()
        self.ref.append((start, *reference_job(self.spark, self.cpus)))

    def ref_within(self, t0: float, t1: float) -> tuple[float, float]:
        """(wall, CPU) the reference job took inside [t0, t1], which the
        caller subtracts from the work it times there."""
        inside = [(w, c) for start, w, c in self.ref if t0 <= start < t1]
        return sum(w for w, _ in inside), sum(c for _, c in inside)


def reference_job(spark, cpus: int) -> tuple[float, float]:
    """(wall, CPU) of a fixed Spark job that runs no engine code: a range
    scan, a hash aggregate and a shuffle. Timed next to the engine's work,
    it is the yardstick the engine's times are divided by, so that the
    host's speed at that moment (other tenants' load) cancels out."""
    t0, c0 = time.perf_counter(), cpu_seconds()
    spark.range(0, 2_000_000, 1, 2 * cpus).groupBy((F.col("id") % 1000).alias("k")).agg(
        F.sum(F.col("id") % 7), F.max(F.xxhash64("id"))
    ).collect()
    return time.perf_counter() - t0, cpu_seconds() - c0


@dataclass
class Result:
    """What one workload measured.

    ``pass_walls`` / ``pass_cpu``: wall and CPU time of each timed pass
    (the fixed unit of work the workload repeats); ``op_walls`` /
    ``op_cpu``: the same of its single calls, and ``op_ref`` the reference
    job's wall timed just before each call; ``setup_s`` / ``setup_cpu_s``:
    wall of the workload's set-up, and CPU time from process start to the
    end of the warm-up; ``timed``: the measured intervals (for span
    coverage); ``report``: the workload's own figures by name; ``layer``:
    per-layer numbers (complete only when traced)."""

    setup_cpu_s: float
    setup_s: float
    pass_walls: list[float]
    pass_cpu: list[float]
    op_walls: list[float]
    op_cpu: list[float]
    op_ref: list[float]
    attempted: int
    timed: list[tuple[float, float]]
    checks: dict[str, bool]
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def cpu_seconds() -> float:
    """CPU time (user + system) of this process and every descendant
    (the JVM and its Python workers), from ``/proc``."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    total = sum(stats[p][1] for p in tree if p in stats)
    return total / tick


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet and json files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith((".parquet", ".json")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def rows_by_key(rows) -> dict[tuple, tuple]:
    """``{(url, warc_ts): ROW_COLS values}`` of collected rows."""
    return {(r["url"], r["warc_ts"]): tuple(r[c] for c in ROW_COLS) for r in rows}


def rows_hash(rows: dict[tuple, tuple]) -> int:
    """Order-insensitive hash over ``STATE_COLS`` of ``rows_by_key`` output."""
    keep = [ROW_COLS.index(c) for c in STATE_COLS]
    text = repr(sorted(tuple(str(v[i]) for i in keep) for v in rows.values()))
    return int(hashlib.sha256(text.encode()).hexdigest()[:15], 16)


def another_pass(loop_start: float, seconds: float, walls: list[float]) -> bool:
    """True while another pass as long as the last still fits in ``seconds``."""
    if not walls:
        return True
    return time.perf_counter() - loop_start + walls[-1] <= seconds


def span_walls(tracer, name: str, t0: float) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.named(name) if s["start"] >= t0]


def span_jobs(tracer, name: str, t0: float) -> list[int]:
    tracer.count_jobs()
    return [s["jobs"] for s in tracer.named(name) if s["start"] >= t0]


def create_table(ctx: Ctx, path: str, **kw) -> LakeTable:
    with ctx.tracer.span("lake.manifest.create"):
        return LakeTable.create(
            ctx.spark, path, PAGE_COLS, key=KEY, n_buckets=2 * ctx.cpus, **kw
        )


def manifest_layer(ctx: Ctx, table_path: str) -> dict[str, float]:
    """Manifest size of a finished table, and the time a fresh handle
    takes to resolve LATEST (median of 5 opens)."""
    opens = []
    for _ in range(5):
        t0 = time.perf_counter()
        with ctx.tracer.span("lake.manifest.open"):
            m = LakeTable(ctx.spark, table_path).manifest()
        opens.append(time.perf_counter() - t0)
    mdir = os.path.join(table_path, "_manifests")
    return {
        "lake.manifest.versions": m["version"],
        "lake.manifest.group_files": len(glob.glob(os.path.join(mdir, "g*.json"))),
        "lake.manifest.bytes": tree_size(mdir)[1],
        "lake.manifest.open_s": statistics.median(opens),
    }


def merge_layer(ctx: Ctx, t0: float, stats: list, data_dir: str) -> dict[str, float]:
    walls = span_walls(ctx.tracer, "lake.merge", t0)
    files, size = tree_size(data_dir)
    return {
        "lake.merge.calls": len(stats),
        "lake.merge.wall_s": sum(walls),
        "lake.merge.batch_p50_s": statistics.median(walls),
        "lake.merge.spark_jobs_per_call": statistics.median(
            span_jobs(ctx.tracer, "lake.merge", t0)
        ),
        "lake.merge.files_written": files,
        "lake.merge.bytes_written": size,
        "lake.merge.rows_upserted": sum(s.rows_upserted for s in stats),
        "lake.merge.rows_deleted": sum(s.rows_deleted for s in stats),
        "lake.merge.skipped": sum(1 for s in stats if s.skipped),
        "lake.merge.buckets_touched": sum(len(s.affected_buckets) for s in stats),
    }


def maintenance_layer(
    ctx: Ctx, t0: float, compacted: list[int], expired: list[dict], table_path: str
) -> dict[str, float]:
    rewritten = sum(
        tree_size(d)[1] for d in glob.glob(os.path.join(table_path, "data", "*_compact"))
    )
    return {
        "lake.compact.wall_s": sum(span_walls(ctx.tracer, "lake.compact", t0)),
        "lake.compact.buckets": sum(compacted),
        "lake.compact.bytes_rewritten": rewritten,
        "lake.expire.wall_s": sum(span_walls(ctx.tracer, "lake.expire", t0)),
        "lake.expire.expired": sum(r["expired"] for r in expired),
        "lake.expire.data_dirs_removed": sum(r["data_dirs_removed"] for r in expired),
    }


# ------------------------------------------------------- read_after_write
class ProgressLog(StreamingQueryListener):
    """Keeps the progress events of the benchmark's streams."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


class TracedTable:
    """The table handed to the stream: spans its merge and maintenance
    calls and keeps their results; everything else delegates."""

    def __init__(self, table: LakeTable, tracer):
        self._table = table
        self._tracer = tracer
        self.merges: list = []
        self.compacted: list[int] = []
        self.expired: list[dict] = []

    def merge(self, changes, **kw):
        with self._tracer.span("lake.merge"):
            st = self._table.merge(changes, **kw)
        self.merges.append(st)
        return st

    def compact(self, **kw):
        with self._tracer.span("lake.compact"):
            n = self._table.compact(**kw)
        self.compacted.append(n)
        return n

    def expire_snapshots(self, **kw):
        with self._tracer.span("lake.expire"):
            r = self._table.expire_snapshots(**kw)
        self.expired.append(r)
        return r

    def __getattr__(self, name):
        return getattr(self._table, name)


def stage_feed(ctx: Ctx, load: str, binlog: str) -> None:
    """The change log's first ``LOAD_EVENTS`` events as interleaved load
    batches; the rest as the binlog, one non-empty parquet file per
    segment, in log order: hashing on ``seg`` puts each segment in exactly
    one task, partitionBy gives that task's rows of a segment one file, and
    file mtimes follow ``seg`` because the file source takes files in
    modification-time order."""
    feed = gen_changes(
        ctx.spark,
        LOAD_EVENTS + TAIL_SEGMENTS * TAIL_SEGMENT_EVENTS,
        n_hosts=200,
        seed=ctx.seed,
        partitions=2 * ctx.cpus,
    )
    head = F.col("seq") < LOAD_EVENTS
    feed.filter(head).withColumn("batch", F.pmod(F.col("seq"), LOAD_BATCHES)).write.partitionBy(
        "batch"
    ).mode("overwrite").parquet(load)
    seg = F.floor((F.col("seq") - LOAD_EVENTS) / TAIL_SEGMENT_EVENTS)
    feed.filter(~head).withColumn(
        "seg", F.least(seg, F.lit(TAIL_SEGMENTS - 1)).cast("int")
    ).repartition(2 * ctx.cpus, "seg").write.partitionBy("seg").mode(
        "overwrite"
    ).parquet(binlog)
    t0 = time.time() - TAIL_SEGMENTS
    for s in range(TAIL_SEGMENTS):
        for f in glob.glob(f"{binlog}/seg={s}/*.parquet"):
            os.utime(f, (t0 + s, t0 + s))


def read_after_write(ctx: Ctx) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    load_dir, binlog = ctx.path("load"), ctx.path("binlog")
    t_setup = time.perf_counter()
    with tr.span("sources.stage"):
        stage_feed(ctx, load_dir, binlog)
    stage_s = time.perf_counter() - t_setup
    seg_files = [glob.glob(f"{binlog}/seg={s}/*.parquet") for s in range(TAIL_SEGMENTS)]
    one_file_per_segment = len(glob.glob(f"{binlog}/seg=*")) == TAIL_SEGMENTS and all(
        len(f) == 1 and os.path.getsize(f[0]) > 0 for f in seg_files
    )
    feed_bytes = tree_size(load_dir)[1] + tree_size(binlog)[1]
    cols = [c.split()[0] for c in CHANGE_SCHEMA.split(", ")]
    batches = [
        spark.read.schema(CHANGE_SCHEMA).parquet(f"{load_dir}/batch={i}")
        for i in range(LOAD_BATCHES)
    ]
    changes = spark.read.schema(CHANGE_SCHEMA).parquet(load_dir).select(cols).unionByName(
        spark.read.schema(CHANGE_SCHEMA).parquet(binlog).select(cols)
    )

    # oracle: final rows, keys whose last change is a delete, and what a
    # consumer resuming after the first half of the tail must see
    wm = LOAD_EVENTS + (TAIL_SEGMENTS // 2) * TAIL_SEGMENT_EVENTS - 1
    with tr.span("sources.oracle"):
        live = rows_by_key(expected_final_state(changes).collect())
    # every key whose last change is not a delete has a live row
    files = glob.glob(f"{load_dir}/batch=*/*.parquet") + [f[0] for f in seg_files]
    feed_keys = pq.read_table(files, columns=KEY).to_pylist()
    dead = sorted(
        {(r["url"], r["warc_ts"].astimezone().replace(tzinfo=None)) for r in feed_keys}
        - live.keys()
    )
    staged_events = len(feed_keys)
    tail_events = sum(pq.ParquetFile(f[0]).metadata.num_rows for f in seg_files)

    rng = random.Random(ctx.seed)
    hits = sorted(live)

    def lookup_keys(n: int) -> list[tuple]:
        """Half hits, a quarter deleted keys, a quarter misses."""
        keys = []
        for i in range(n):
            if i % 4 < 2 or not dead:
                keys.append(rng.choice(hits))
            elif i % 4 == 2:
                keys.append(rng.choice(dead))
            else:
                keys.append((f"https://miss.example.org/p/{rng.randrange(10**9)}", hits[0][1]))
        rng.shuffle(keys)
        return keys

    def load(table: LakeTable, n: int = LOAD_BATCHES) -> tuple[list[float], list]:
        walls, stats = [], []
        for i in range(n):
            t0 = time.perf_counter()
            with tr.span("lake.merge"):
                stats.append(table.merge(batches[i], batch_key=("load", i)))
            walls.append(time.perf_counter() - t0)
        return walls, stats

    log = ProgressLog()
    spark.streams.addListener(log)

    def write(name: str, source: str, sink, compact_every: int) -> float:
        log.progress.clear()
        log.terminated.clear()
        t0 = time.perf_counter()
        with tr.span("streaming.run", tag_jobs=False):
            run_cdc_stream(
                spark,
                source,
                sink,
                ctx.path(f"ckpt_{name}"),
                query_name=name,
                max_files_per_trigger=1,
                compact_every=compact_every,
                expire_keep=TAIL_EXPIRE_KEEP,
            )
        wall = time.perf_counter() - t0
        if not log.terminated.wait(60):
            raise TimeoutError("no termination event from the stream")
        return wall

    def point_reads(table: LakeTable, keys: list[tuple], paired: bool) -> dict:
        """``paired`` times the reference job before each lookup."""
        out: dict = {"point": [], "point_cpu": [], "point_ref": [], "point_rows": [], "point_df": []}
        for url, ts in keys:
            if paired:
                ctx.calibrate()
                out["point_ref"].append(ctx.ref[-1][1])
            t0, c0 = time.perf_counter(), cpu_seconds()
            with tr.span("lake.read.point"):
                df = table.read(point={"url": url, "warc_ts": ts})
                rows = df.collect()
            out["point"].append(time.perf_counter() - t0)
            out["point_cpu"].append(cpu_seconds() - c0)
            out["point_rows"].append(rows)
            out["point_df"].append(df)
        return out

    def consume(table: LakeTable, keys: list[tuple]) -> dict:
        """Point lookups, changes since the watermark, a scan, maintenance
        and a second scan; walls, rows and frames of each step."""
        out = point_reads(table, keys, paired=True)
        t0 = time.perf_counter()
        with tr.span("lake.read.changes"):
            out["changes_df"] = table.read_changes_since(wm)
            out["changes_rows"] = out["changes_df"].collect()
        t1 = time.perf_counter()
        with tr.span("lake.read.scan"):
            out["scan_df"] = table.read()
            out["scan_rows"] = out["scan_df"].collect()
        t2 = time.perf_counter()
        with tr.span("lake.compact"):
            out["compacted"] = table.compact(min_entries=2)
        with tr.span("lake.expire"):
            out["expired"] = table.expire_snapshots(keep_n=2, orphan_grace_sec=0)
        t3 = time.perf_counter()
        with tr.span("lake.read.scan"):
            out["scan2_rows"] = table.read().collect()
        t4 = time.perf_counter()
        out.update(changes=t1 - t0, scan=t2 - t1, maintenance=t3 - t2, scan2=t4 - t3)
        return out

    # warm-up: the first load batch (the JVM's first merge), two segments
    # through the stream, the second with maintenance, and a point lookup
    warm = create_table(ctx, ctx.path("warmup"), bloom_bits=BLOOM_BITS)
    cold_s = load(warm, 1)[0][0]
    write("warmup", f"{binlog}/seg=[0-1]", warm, compact_every=1)
    point_reads(warm, lookup_keys(1), paired=False)
    setup_s = time.perf_counter() - t_setup

    path = ctx.path("pages")
    table = create_table(ctx, path, bloom_bits=BLOOM_BITS)
    sink = TracedTable(table, tr) if tr.enabled else table
    keys = lookup_keys(LOOKUPS)
    for _ in range(3):
        ctx.calibrate()
    t0, cpu0 = time.perf_counter(), cpu_seconds()
    setup_cpu_s = cpu0
    load_walls, load_stats = load(table)
    write_s = write("tail", f"{binlog}/seg=*", sink, TAIL_COMPACT_EVERY)
    c = consume(table, keys)
    t1, cpu1 = time.perf_counter(), cpu_seconds()
    ref_wall, ref_cpu = ctx.ref_within(t0, t1)
    for _ in range(3):
        ctx.calibrate()
    progress = [p for p in log.progress if p["numInputRows"] > 0]
    spark.streams.removeListener(log)

    # checks (untimed): rows compared exactly with the oracle's
    input_rows = sum(p["numInputRows"] for p in progress)
    checks = {
        "one_file_per_segment": one_file_per_segment,
        "batches_eq_segments": len(progress) == TAIL_SEGMENTS,
        "input_rows_eq_staged": input_rows == tail_events,
        "point_lookups": all(
            len(rows) == len(want) and rows_by_key(rows) == want
            for rows, want in zip(
                c["point_rows"], [{k: live[k]} if k in live else {} for k in keys]
            )
        ),
        "changes_since": rows_by_key(r for r in c["changes_rows"] if not r["_deleted"])
        == {k: v for k, v in live.items() if v[-1] > wm},
        "scan": len(c["scan_rows"]) == len(live) and rows_by_key(c["scan_rows"]) == live,
        "final_state": len(c["scan2_rows"]) == len(live)
        and rows_by_key(c["scan2_rows"]) == live,
        "redelivery_skipped": table.merge(
            spark.read.schema(CHANGE_SCHEMA).parquet(seg_files[0][0]),
            batch_key=("tail", 0),
        ).skipped,
    }

    def maint(p: dict) -> bool:
        return p["batchId"] > 0 and p["batchId"] % TAIL_COMPACT_EVERY == 0

    dur = [p["durationMs"] for p in progress]
    commit_s = [d["triggerExecution"] / 1000.0 for d in dur]
    res = Result(
        setup_cpu_s=setup_cpu_s,
        setup_s=setup_s,
        pass_walls=[t1 - t0 - ref_wall],
        pass_cpu=[cpu1 - cpu0 - ref_cpu],
        op_walls=c["point"],
        op_cpu=c["point_cpu"],
        op_ref=c["point_ref"],
        attempted=LOAD_BATCHES + len(progress) + len(keys) + 5,
        timed=[(t0, t1)],
        checks=checks,
        report={
            "apply_events_per_s": (LOAD_EVENTS / sum(load_walls), "events/s"),
            "tail_events_per_s": (tail_events / write_s, "events/s"),
            "commit_latency_p50_s": (pct(commit_s, 50), "s"),
            "commit_latency_p90_s": (pct(commit_s, 90), "s"),
            "point_read_p50_s": (pct(c["point"], 50), "s"),
            "point_read_p90_s": (pct(c["point"], 90), "s"),
            "scan_s": (c["scan"], "s"),
            "changes_read_s": (c["changes"], "s"),
            "maintenance_s": (c["maintenance"], "s"),
            "storage_amp": (tree_size(path)[1] / feed_bytes, "ratio"),
            "final_rows": (len(live), "rows"),
            "state_hash": (rows_hash(live), "sha256-prefix"),
        },
    )
    if not tr.enabled:
        return res

    def med(key: str, rows: list[dict]) -> float:
        return statistics.median(d.get(key, 0) for d in rows) if rows else 0.0

    point_files = statistics.median(len(df.inputFiles()) for df in c["point_df"])
    live_files = len(c["scan_df"].inputFiles())
    res.layer = {
        "sources.stage_s": stage_s,
        "sources.events": staged_events,
        "sources.feed_bytes": feed_bytes,
        "lake.merge.load_s": sum(load_walls),
        "lake.merge.cold_s": cold_s,
        **merge_layer(ctx, t0, load_stats + sink.merges, os.path.join(path, "data")),
        "streaming.batches": len(progress),
        "streaming.input_rows": input_rows,
        "streaming.add_batch_p50_ms": pct([d["addBatch"] for d in dur], 50),
        "streaming.add_batch_p90_ms": pct([d["addBatch"] for d in dur], 90),
        "streaming.trigger_overhead_p50_ms": pct(
            [d["triggerExecution"] - d["addBatch"] for d in dur], 50
        ),
        "streaming.wal_commit_ms": med("walCommit", dur),
        "streaming.commit_offsets_ms": med("commitOffsets", dur),
        "streaming.latest_offset_ms": med("latestOffset", dur),
        "streaming.query_planning_ms": med("queryPlanning", dur),
        "streaming.get_batch_ms": med("getBatch", dur),
        "streaming.maint_batch_p50_ms": med(
            "triggerExecution", [p["durationMs"] for p in progress if maint(p)]
        ),
        "streaming.plain_batch_p50_ms": med(
            "triggerExecution", [p["durationMs"] for p in progress if not maint(p)]
        ),
        "lake.read.point_files_scanned": point_files,
        "lake.read.live_files": live_files,
        "lake.read.point_prune_ratio": point_files / live_files,
        "lake.read.point_spark_jobs": statistics.median(
            span_jobs(tr, "lake.read.point", t0)
        ),
        "lake.read.scan_after_compact_s": c["scan2"],
        "lake.read.changes_files": len(c["changes_df"].inputFiles()),
        "lake.read.changes_rows": len(c["changes_rows"]),
        **maintenance_layer(
            ctx, t0, sink.compacted + [c["compacted"]], sink.expired + [c["expired"]], path
        ),
        **manifest_layer(ctx, path),
    }
    return res


# --------------------------------------------------------- query_registry
def _canon(v) -> str:
    import math

    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rowset(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive rows of a pandas frame."""
    cols = sorted(pdf.columns)
    return sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )


def query_registry(ctx: Ctx) -> Result:
    import duckdb

    spark, tr = ctx.spark, ctx.tracer
    sf = ctx.path("sf")
    t_setup = time.perf_counter()
    with tr.span("sources.stage"):
        names = querydata.write(ctx.seed, sf)
    stage_s = time.perf_counter() - t_setup
    con = duckdb.connect()
    for name in names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    rng = random.Random(ctx.seed)

    # cold pass (untimed): each leaf's first execution in this JVM,
    # collected and compared with its DuckDB oracle
    checks = {}
    t_cold = time.perf_counter()
    for name in rng.sample(QUERY_LEAVES, len(QUERY_LEAVES)):
        with tr.span("plans.query"):
            got = QUERIES[name](spark, sf).toPandas()
        want = con.execute(ORACLE_SQL[name]).df()
        checks[f"oracle.{name}"] = sorted(got.columns) == sorted(want.columns) and (
            _rowset(got) == _rowset(want)
        )
    cold_s = time.perf_counter() - t_cold
    con.close()
    setup_s = time.perf_counter() - t_setup

    t_loop = time.perf_counter()
    setup_cpu_s = cpu_seconds()
    per_leaf: dict[str, list[float]] = {n: [] for n in QUERY_LEAVES}
    passes, pass_cpu, walls, cpus, refs, intervals = [], [], [], [], [], []
    while another_pass(t_loop, ctx.seconds, passes):
        t0, cpu0 = time.perf_counter(), cpu_seconds()
        for name in rng.sample(QUERY_LEAVES, len(QUERY_LEAVES)):
            ctx.calibrate()
            q0, c0 = time.perf_counter(), cpu_seconds()
            with tr.span("plans.query"):
                QUERIES[name](spark, sf).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - q0)
            cpus.append(cpu_seconds() - c0)
            refs.append(ctx.ref[-1][1])
            per_leaf[name].append(walls[-1])
        t1, cpu1 = time.perf_counter(), cpu_seconds()
        ref_wall, ref_cpu = ctx.ref_within(t0, t1)
        passes.append(t1 - t0 - ref_wall)
        pass_cpu.append(cpu1 - cpu0 - ref_cpu)
        intervals.append((t0, t1))
    res = Result(
        setup_cpu_s=setup_cpu_s,
        setup_s=setup_s,
        pass_walls=passes,
        pass_cpu=pass_cpu,
        op_walls=walls,
        op_cpu=cpus,
        op_ref=refs,
        attempted=len(walls) + len(QUERY_LEAVES),
        timed=intervals,
        checks=checks,
        report={"queries_s": (statistics.median(passes), "s")},
    )
    if tr.enabled:
        jobs = span_jobs(tr, "plans.query", t_loop)
        n = len(QUERY_LEAVES)
        res.layer = {
            "sources.stage_s": stage_s,
            "plans.cold_pass_s": cold_s,
            "plans.spark_jobs": statistics.median(
                sum(jobs[i : i + n]) for i in range(0, len(jobs), n)
            ),
            **{f"plans.query.{k}_s": statistics.median(v) for k, v in per_leaf.items()},
        }
    return res


WORKLOADS = {
    "read_after_write": read_after_write,
    "query_registry": query_registry,
}
