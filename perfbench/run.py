"""Benchmark of the CDC engine, end to end and per layer.

    python3 perfbench/run.py --workload read_after_write --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and ``README.md``) through the
engine's public API on ``local[<cpus>]``, checks every output against an
oracle, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` list of ``BENCHMARK.json``; with
``--trace 1`` they are its ``per_layer`` list, taken from spans recorded
around every call the benchmark makes into a layer (spans are written to
``.perfbench_out/``).

Everything it writes stays under the checkout: ``.perfbench_work/`` (deleted
at exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            total = min(total, int(limit) // (1024 * 1024))
    except OSError:
        pass
    return total


def fit_session_env(work: str) -> dict[str, str]:
    """Size the session to this host through build_session's env knobs."""
    cpus = len(os.sched_getaffinity(0))
    mem = host_memory_mb()
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem // 6)}m",
        "SPARK_GRAFT_OFFHEAP": f"{min(1024, mem // 12)}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
    }
    os.environ.update(env)
    return env


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (steal is field 8)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_gateway() -> None:
    """End the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "go_bqloader_spark")):
        print("perfbench: engine package go_bqloader_spark not found", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    env = fit_session_env(work)
    sys.path[:0] = [ROOT, HERE]

    from go_bqloader_spark.session import build_session
    from spans import Tracer
    from workloads import WORKLOADS, Ctx, pct, reference_job

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spark = None
    ticks0 = cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = build_session(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        build_s = time.perf_counter() - t0
        reference_job(spark, int(env["SPARK_GRAFT_CPUS"]))  # its cold run
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, args.seconds, int(env["SPARK_GRAFT_CPUS"]), work)
        res = WORKLOADS[args.workload](ctx)
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
        steal_pct = 100.0 * ticks[7] / sum(ticks)

        jvm = spark.sparkContext._jvm  # noqa: SLF001
        rss = vm_hwm_mb("self") + vm_hwm_mb(jvm.ProcessHandle.current().pid())
        conf = spark.sparkContext.getConf()
        host = {
            "cpus": int(env["SPARK_GRAFT_CPUS"]),
            "memory_mb": host_memory_mb(),
            "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "steal_pct": steal_pct,
            "peak_rss_mb": rss,
            "env": env,
            "conf": {
                k: conf.get(k)
                for k in (
                    "spark.master",
                    "spark.driver.memory",
                    "spark.memory.offHeap.size",
                    "spark.sql.shuffle.partitions",
                )
            },
        }
        checks = dict(res.checks)
        ref_wall = statistics.median(w for _, w, _ in ctx.ref)
        op_ref = [w / r for w, r in zip(res.op_walls, res.op_ref)]
        e2e = {
            "setup_s": res.setup_cpu_s,
            "pass_ref": statistics.median(res.pass_walls) / ref_wall,
            "op_ref_p50": pct(op_ref, 50),
            "op_ref_p90": pct(op_ref, 90),
        }
        raw = {
            "wall.setup_s": build_s + res.setup_s,
            "wall.pass_s": statistics.median(res.pass_walls),
            "wall.op_p50_s": pct(res.op_walls, 50),
            "wall.op_p90_s": pct(res.op_walls, 90),
            "cpu.pass_s": statistics.median(res.pass_cpu),
            "cpu.op_p50_s": pct(res.op_cpu, 50),
            "cpu.op_p90_s": pct(res.op_cpu, 90),
            "ref.wall_s": ref_wall,
            "ref.cpu_s": statistics.median(c for _, _, c in ctx.ref),
        }
        if args.trace:
            tracer.count_jobs()
            # the reference job is not engine work: leave its time out
            timed_wall = sum(b - a - ctx.ref_within(a, b)[0] for a, b in res.timed)
            coverage = sum(tracer.coverage(a, b) * (b - a) for a, b in res.timed) / timed_wall
            checks["span_coverage"] = coverage >= 0.95
            layer = {
                "session.build_s": build_s,
                **res.layer,
                **{f"{k}.self_s": v for k, v in tracer.self_times().items()},
                "trace.coverage": coverage,
                "trace.spans": len(tracer.spans),
                **raw,
                "host.steal_pct": steal_pct,
                "host.peak_rss_mb": rss,
            }
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
            wanted, values = spec["per_layer"], layer
        else:
            wanted, values = spec["end_to_end"], e2e

        print(json.dumps({"host": host}))
        print(json.dumps({
            "workload": args.workload,
            "report": {k: {"value": v, "unit": u} for k, (v, u) in res.report.items()},
            "end_to_end": e2e,
            "measured": raw,
            "samples": {"passes": len(res.pass_walls), "ops": len(res.op_walls)},
            "checks": checks,
        }))
        metrics = {}
        for m in wanted:
            metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            print(f"{m['name']} {metrics[m['name']]['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": all(checks.values()),
            "attempted": res.attempted,
            "failed": 0,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
            stop_gateway()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
