"""Benchmark of the vtzero_spark tiling engine: tile_build, tile_read
and spatial_join, closed loop, one job outstanding.

    python3 perfbench/run.py --workload tile_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. One run prints the input shape, every
metric as ``<workload>/<name> value unit``, and as its last line one
JSON object {correct, attempted, failed, metrics}. ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones (event log on,
layer prefixes, codec micro-loop). ``--workload all`` runs every
workload untraced and traced and adds the tracing overhead. See
perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import procstat  # noqa: E402
from spans import EventLog, Tracer  # noqa: E402
from workloads import PNG, WORKLOADS, Ctx  # noqa: E402

from vtzero_spark.engine import rewrite, session  # noqa: E402
from vtzero_spark.mvt import tile as T  # noqa: E402

SETUP_REPS = 3  # set-up's data step runs this often; its median counts
PREFIX_REPS = 3  # each traced layer prefix runs this often; median
CODEC_SECONDS = 1.0
DRIVER_MEM = "2g"  # fixed heap (-Xms = -Xmx): no resizing noise in RSS

END_TO_END = {
    "setup_s": "s", "rows_per_s": "rows/s", "job_s.p50": "s",
    "cpu_ms_per_krow": "ms", "peak_rss_mb": "MB", "out_bytes_per_row": "B/row",
}
PER_LAYER = {
    "session.start_s": "s", "scan.s": "s",
    "tiling.s": "s", "tiling.rows_out": "count",
    "exchange.shuffle_bytes": "B", "exchange.write_ms": "ms",
    "exchange.fetch_wait_ms": "ms",
    "assemble.encode_s": "s", "assemble.tiles_out": "count",
    "assemble.bytes_out": "B", "assemble.decode_s": "s",
    "assemble.decode_errors": "count",
    "rewrite.s": "s", "rewrite.keep_ratio": "ratio", "rewrite.bytes_out": "B",
    "mvt.parse_MBps": "MB/s", "rewrite.kernel_MBps": "MB/s",
    "python_workers.run_ms": "ms", "python_workers.bytes_to": "B",
    "python_workers.bytes_from": "B",
    "stage.task_ms_max_over_p50": "ratio",
    "joins.pip_s": "s", "joins.pip_candidates": "count",
    "joins.pip_matches": "count", "joins.pip_match_ratio": "ratio",
    "knn.s": "s", "knn.spark_jobs": "count",
    "catalyst.plan_ms": "ms", "driver.serial_ms": "ms", "jvm.gc_ms": "ms",
    "trace.job_s.p50": "s", "trace.accounted_frac": "ratio",
}


def configure(tmp: str, trace: bool) -> dict:
    """Environment for the JVM and Python workers, set before the
    session starts: every file Spark, the JVM and Python write goes
    under ``tmp``. Returns the settings in effect."""
    cores = len(os.sched_getaffinity(0))
    conf = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM}",
            "--conf", f"spark.sql.warehouse.dir={tmp}/warehouse",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(f"{tmp}/eventlog")
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{tmp}/eventlog",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": f"{tmp}/spark-local",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"'{a}'" if " " in a else a for a in conf) + " pyspark-shell",
    })
    return {"master": f"local[{cores}]", "shuffle_partitions": max(cores, 8),
            "driver_memory": DRIVER_MEM, "clients": 1, "outstanding_jobs": 1,
            "python_worker_reuse": True, "duckdb_threads": cores,
            "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", "unset")}


def stop(spark) -> None:
    """Stop Spark, end the JVM and wait until no child process is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(procstat.tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)


def gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def plan_ms(dfs) -> float:
    """Catalyst analysis + optimization + planning of the job's actions
    (QueryPlanningTracker phases of each collected DataFrame)."""
    total = 0.0
    for df in dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            if phases.contains(p):
                total += phases.apply(p).durationMs()
    return total


def codec_rates(tiles: list[bytes]) -> dict:
    """Driver, one thread: pure mvt parse and the rewrite kernel over a
    seeded tile sample, in MB of input tile per second."""
    out = {}
    nbytes = sum(map(len, tiles))
    kernels = {"mvt.parse_MBps": T.parse_tile,
               "rewrite.kernel_MBps": lambda b: rewrite.rewrite_tile_bytes(
                   b, None, b"fmt", [PNG])}
    for name, fn in kernels.items():
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < CODEC_SECONDS:
            for b in tiles:
                fn(b)
            n += 1
        out[name] = n * nbytes / (time.perf_counter() - t0) / 1e6
    return out


def run(args, tmp: str) -> dict:
    wl = WORKLOADS[args.workload]
    settings = configure(tmp, args.trace)
    print(f"settings: {json.dumps(settings)}", flush=True)
    tr = Tracer()
    import_s = time.perf_counter() - T_START
    sampler = procstat.Sampler(os.getpid())
    sampler.start()
    t = time.perf_counter()
    with tr.span("session"):
        spark = session.get_spark("perfbench")
    session_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res = _run(args, wl, spark, tmp, tr, sampler)
    finally:
        sampler.stop()
        stop(spark)
    res["end_to_end"]["setup_s"] = import_s + session_s + res.pop("setup_rest_s")
    res["end_to_end"]["peak_rss_mb"] = sampler.peak_rss / 2**20
    if args.trace:
        layer = res["per_layer"]
        layer["session.start_s"] = session_s
        layer.update(_event_log_metrics(EventLog(f"{tmp}/eventlog"), tr))
        jobs = [s[2] - s[1] for s in tr.named("job")]
        layer["trace.job_s.p50"] = statistics.median(jobs)
        out_dir = os.path.join(os.getcwd(), ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tr.dump(f"{out_dir}/spans-{args.workload}-{args.seed}.json")
    return res


def _run(args, wl, spark, tmp: str, tr: Tracer, sampler: procstat.Sampler) -> dict:
    ctx = Ctx(spark=spark, seed=args.seed, root=tmp)
    data_s = []
    for i in range(SETUP_REPS):
        if ctx.data:
            shutil.rmtree(ctx.data)
        ctx.data = f"{tmp}/data{i}"
        t = time.perf_counter()
        with tr.span("setup.data"):
            shape = wl.setup(ctx)
        data_s.append(time.perf_counter() - t)
    print(f"input: {json.dumps(shape)}", flush=True)
    t = time.perf_counter()
    with tr.span("warmup"):
        for _ in range(wl.warmup_jobs):
            wl.job(ctx)
    warm_s = time.perf_counter() - t

    times, summaries, gcs, plans = [], [], [], []
    cpu0 = procstat.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        gc0 = gc_ms(spark) if args.trace else 0
        t = time.perf_counter()
        try:
            with tr.span("job", job=len(times)):
                summary, dfs = wl.job(ctx)
        except Exception:  # a failed job counts against failed, the loop goes on
            traceback.print_exc()
            summary, dfs = None, []
        times.append(time.perf_counter() - t)
        summaries.append(summary)
        if args.trace:
            gcs.append(gc_ms(spark) - gc0)
            plans.append(plan_ms(dfs))
    wall = time.perf_counter() - t0
    cpu = procstat.tree_cpu_s(os.getpid()) - cpu0
    sampler.stop()  # peak RSS covers the engine's work, not the gate's oracle

    t = time.perf_counter()
    with tr.span("gate"):
        try:
            errors = wl.gate(ctx)
        except Exception:  # the run still reports, as incorrect
            traceback.print_exc()
            errors = ["the gate raised"]
    print(f"phases: data_s={[round(d, 2) for d in data_s]} warm_s={warm_s:.2f} "
          f"jobs_s={[round(d, 2) for d in times]} gate_s={time.perf_counter() - t:.2f}",
          flush=True)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    failed = len(times) if errors else sum(s != ctx.expected for s in summaries)
    rows = ctx.rows * len(times)
    res = {
        "workload": wl.name, "correct": not errors and failed == 0,
        "attempted": len(times), "failed": failed,
        "setup_rest_s": statistics.median(data_s) + warm_s,
        "end_to_end": {
            "rows_per_s": rows / wall,
            "job_s.p50": statistics.median(times),
            "cpu_ms_per_krow": cpu * 1000 / (rows / 1000),
            "out_bytes_per_row": ctx.out_bytes / ctx.rows,
            "failed_frac": failed / len(times),
        },
    }
    if args.trace:
        layer = {k: 0.0 for k in PER_LAYER}
        layer["jvm.gc_ms"] = statistics.median(gcs)
        layer["catalyst.plan_ms"] = statistics.median(plans)
        layer.update(self_times(wl, ctx, tr))
        with tr.span("counts"):
            layer.update(wl.counts(ctx))
        tiles = wl.sample_tiles(ctx)
        if tiles:
            with tr.span("codec"):
                layer.update(codec_rates(tiles))
        res["per_layer"] = layer
    return res


def self_times(wl, ctx: Ctx, tr: Tracer) -> dict:
    """Materialize each layer prefix into the noop sink, interleaved
    with the full job so both see the same JVM state; a layer's self
    time is the difference of consecutive prefix medians."""
    chains = wl.prefixes(ctx)
    walls = {name: [] for chain in chains for name, _ in chain}
    jobs = []
    for _ in range(PREFIX_REPS):
        for chain in chains:
            for name, make_df in chain:
                t = time.perf_counter()
                with tr.span(name):
                    make_df().write.format("noop").mode("overwrite").save()
                walls[name].append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("prefix.job"):
            wl.job(ctx)
        jobs.append(time.perf_counter() - t)
    out = {}
    for chain in chains:
        prev = 0.0
        for name, _ in chain:
            cur = statistics.median(walls[name])
            out[name] = cur - prev
            prev = cur
    out["trace.accounted_frac"] = sum(out.values()) / statistics.median(jobs)
    return out


def _event_log_metrics(log: EventLog, tr: Tracer) -> dict:
    per_job = [(log.span_metrics(s[1], s[2]), s[2] - s[1]) for s in tr.named("job")]

    def med(f):
        return statistics.median(f(m, wall) for m, wall in per_job)

    out = {
        "exchange.shuffle_bytes": med(lambda m, w: m["shuffle_bytes"]),
        "exchange.write_ms": med(lambda m, w: m["shuffle_write_ms"]),
        "exchange.fetch_wait_ms": med(lambda m, w: m["fetch_wait_ms"]),
        "python_workers.run_ms": med(lambda m, w: m["py_run_ms"]),
        "python_workers.bytes_to": med(lambda m, w: m["py_bytes_to"]),
        "python_workers.bytes_from": med(lambda m, w: m["py_bytes_from"]),
        "stage.task_ms_max_over_p50": med(lambda m, w: m["task_max_over_p50"]),
        "driver.serial_ms": med(lambda m, w: w * 1000 - m["job_union_ms"]),
    }
    knn_spans = tr.named("knn.s")
    if knn_spans:
        out["knn.spark_jobs"] = statistics.median(
            len(log.jobs_in(s[1], s[2])) for s in knn_spans)
    return out


def report(res: dict, trace: bool) -> dict:
    """Print every metric as <workload>/<name>; return the JSON metrics."""
    names = PER_LAYER if trace else END_TO_END
    src = res["per_layer"] if trace else res["end_to_end"]
    for name, value in src.items():
        unit = names.get(name, "ratio")
        extra = f" (n={res['attempted']})" if name == "job_s.p50" else ""
        print(f"{res['workload']}/{name} {value:.6g} {unit}{extra}")
    return {n: {"value": src[n], "unit": u} for n, u in names.items()}


def run_all(args) -> int:
    """Every workload untraced then traced, in child processes."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        p50 = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = out.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if out.returncode != 0 or not lines:
                print(f"{name} --trace {trace} exited {out.returncode}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            total["correct"] &= res["correct"]
            total["attempted"] += res["attempted"]
            total["failed"] += res["failed"]
            for k, v in res["metrics"].items():
                total["metrics"][f"{name}/{k}"] = v
            p50[trace] = res["metrics"]["trace.job_s.p50" if trace else "job_s.p50"]["value"]
        overhead = p50[1] - p50[0]
        print(f"{name}/trace.overhead_s {overhead:.6g} s")
        total["metrics"][f"{name}/trace.overhead_s"] = {"value": overhead, "unit": "s"}
    print(json.dumps(total))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    tmp = os.path.join(os.getcwd(), ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        res = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    metrics = report(res, args.trace)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
