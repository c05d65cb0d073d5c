"""Benchmark entry point.

    python3 hybridbench/run.py --workload dashboard-cold --seed 1 \
        --seconds 6 --trace 0

Run from the repository root. One closed-loop client drives one workload
for ``--seconds`` seconds and prints, as the last line of standard output,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it records the seed, the thread budget and the host readings.
See hybridbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".hybridbench_work"
OUT = ROOT / ".hybridbench_out"

#: C1 only: C2 compiler threads otherwise take about a third of the CPU of
#: a cold refresh and compete with local[2] for a 4-core host. The 2 GB
#: heap is committed and touched at start: otherwise how much of it was
#: resident depended on when GC ran, and peak RSS of one workload ranged
#: from 1.1 to 1.7 GB between runs
DRIVER_JVM_OPTS = "-XX:TieredStopAtLevel=1 -Xms2g -XX:+AlwaysPreTouch"

#: program set-up is repeated this many times per run; setup_s is the median
SETUP_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description="hybrid engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the thread budget: Spark local[N] and DuckDB store threads; there is
    # one client, the closed loop below
    ap.add_argument("--spark-cpus", type=int, default=2)
    ap.add_argument("--store-threads", type=int, default=1)
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the self-test smoke runs")
    return ap.parse_args(argv)


def isolate(workdir: Path) -> None:
    """Keep every file Spark, the JVM, Python workers and DuckDB write
    inside the checkout, and make the package importable by workers."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.driver.extraJavaOptions={DRIVER_JVM_OPTS}",
        "--conf", f"spark.sql.warehouse.dir={workdir / 'warehouse'}",
        "pyspark-shell"])


def start_store(points: int, threads: int):
    proc = subprocess.Popen(
        [sys.executable, str(ROOT / "hybridbench" / "store.py"),
         "--points", str(points), "--threads", str(threads)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    return proc


def await_store(proc) -> str:
    line = proc.stdout.readline()
    if not line.startswith("READY "):
        raise RuntimeError(f"store failed to start: {line!r}")
    return f"grpc://127.0.0.1:{int(line.split()[1])}"


def stop_store(proc) -> None:
    if proc is None:
        return
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()


def stop_spark(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_parse_compile_spans(tracer) -> None:
    """Wrap the parser and the compiler entry points in spans (traced run
    only). Nested compile calls fold into the outermost span."""
    import otit_swt_spark.engine as engine_mod
    from otit_swt_spark.sparql.compiler import Compiler

    parse = engine_mod.parse_query

    def traced_parse(*a, **k):
        with tracer.span("sparql.parse"):
            return parse(*a, **k)

    engine_mod.parse_query = traced_parse

    depth = [0]

    def wrap(fn):
        def traced(self, *a, **k):
            depth[0] += 1
            try:
                with tracer.span("sparql.compile", spark=depth[0] == 1):
                    return fn(self, *a, **k)
            finally:
                depth[0] -= 1
        return traced

    for name in ("compile_query", "compile_pattern"):
        setattr(Compiler, name, wrap(getattr(Compiler, name)))


def end_to_end(results, setup_times, wall_s, host, peak_rss_mb) -> dict:
    """Goodput and CPU leave out the excluded work (landing, checks)."""
    attempted = sum(r.calls for r in results)
    failed = sum(r.failed for r in results)
    good = attempted - failed
    lat = [r.primary_s for r in results if r.primary_ok]
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "ops_per_s": (good / (wall_s - host["excluded_wall_s"]), "1/s"),
        "success_ratio": (good / attempted if attempted else 0.0, "ratio"),
        "cpu_s_per_op": (host["cpu_s"] / good if good else 0.0, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(wl, results, tracer, store_deltas, host) -> dict:
    """Per-op medians of the traced spans and counters; a layer the
    workload does not use reads 0."""
    from hybridbench.harness import median

    ops = range(len(results))
    tot = tracer.op_total
    spark_spans = ("engine.query", "collect", "ingest.sink", "ingest.fold",
                   "mapper.expand", "mapper.write")

    def per_op(name, key=None):
        return median(tot(i, name, key) for i in ops)

    def spark_sum(key):
        return median(sum(tot(i, n, key) for n in spark_spans) for i in ops)

    done = sum(tot(i, n, "stages_done") for i in ops for n in spark_spans)
    skipped = sum(tot(i, n, "stages_skipped") for i in ops
                  for n in spark_spans)
    compile_self = median(tot(i, "sparql.compile")
                          - tot(i, "sparql.compile", "job_s") for i in ops)

    def part(key):
        return median(r.parts[key] for r in results if key in r.parts)

    def store(key):
        return median(d[key] for d in store_deltas) if store_deltas else 0.0

    lat = [r.primary_s for r in results if r.primary_ok]
    return {
        "sparql.parse_s": (per_op("sparql.parse"), "s"),
        "sparql.compile_s": (compile_self, "s"),
        "engine.build_s": (per_op("engine.query"), "s"),
        "engine.probe_jobs": (per_op("engine.query", "jobs"), "count"),
        "engine.probe_s": (per_op("engine.query", "job_s"), "s"),
        "engine.plan_cache_hit_ratio": (
            wl.cache_hits / wl.query_calls if wl.query_calls else 0.0,
            "ratio"),
        "flight.requests_per_op": (store("requests"), "count"),
        "flight.probe_requests_per_op": (store("probe_requests"), "count"),
        "flight.rows_served_per_op": (store("rows_served"), "count"),
        "flight.bytes_served_per_op": (store("bytes_served"), "B"),
        "flight.store_busy_s": (store("busy_s"), "s"),
        "spark.exec_s": (per_op("collect"), "s"),
        "spark.exec_jobs": (per_op("collect", "jobs"), "count"),
        "spark.stages_skipped_ratio": (
            skipped / (done + skipped) if done + skipped else 0.0, "ratio"),
        "spark.shuffle_write_mb": (spark_sum("shuffle_write_bytes") / 1e6,
                                   "MB"),
        "spark.gc_s": (spark_sum("gc_s"), "s"),
        "ingest.append_s": (part("append_s"), "s"),
        "ingest.sink_s": (part("sink_s"), "s"),
        "ingest.fold_s": (part("fold_s"), "s"),
        "ingest.commit_ms": (part("commit_ms"), "ms"),
        "ingest.bytes_per_point": (
            median(r.parts["bytes_added"] / r.parts["points"]
                   for r in results if "bytes_added" in r.parts), "B"),
        "ingest.files_per_cycle": (part("files_added"), "count"),
        "ingest.repeat_read_s": (part("repeat_read_s"), "s"),
        "mapper.expand_s": (part("expand_s"), "s"),
        "mapper.write_s": (part("write_s"), "s"),
        "host.steal_pct": (host["steal_pct"], "%"),
        "host.loadavg": (host["loadavg"], "load"),
        "host.calib_s": (max(host["calib_s"]), "s"),
        "trace.latency_p50_s": (median(lat), "s"),
    }


def run(args) -> tuple[dict, dict]:
    sys.path.insert(0, str(ROOT))
    import otit_swt_spark  # noqa: F401 - the program under test

    from hybridbench import harness
    from hybridbench.store import read_stats
    from hybridbench.workloads import WORKLOADS, Context, store_points

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    workdir = WORK / f"{args.workload}-{os.getpid()}"
    isolate(workdir)
    store = spark = None
    phases = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    try:
        if cls.needs_store:
            store = start_store(store_points(args.tiny), args.store_threads)
        from otit_swt_spark.session import get_spark

        spark = get_spark(app_name="hybridbench", cpus=args.spark_cpus)
        tracer = harness.Tracer(bool(args.trace), spark)
        if args.trace:
            install_parse_compile_spans(tracer)
        exclude = {store.pid} if store else set()
        host = harness.HostWindow(os.getpid(), exclude)
        ctx = Context(spark, tracer, host, workdir, args.seed, args.tiny,
                      await_store(store) if store else None)
        wl = cls(ctx)
        phase("start")
        setup_times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        phase("setup")
        tracer.begin_op("warmup")
        wl.warmup()
        wl.query_calls = wl.cache_hits = 0
        phase("warmup")

        results, store_deltas = [], []
        host.start()
        t_start = time.perf_counter()
        # the window counts program time: excluded work does not shorten it
        while (time.perf_counter() - t_start - host.excluded_wall_s
               < args.seconds):
            i = len(results)
            tracer.begin_op(i)
            before = read_stats(ctx.store_location) \
                if args.trace and store else None
            results.append(wl.op(i))
            if before is not None:
                after = read_stats(ctx.store_location)
                store_deltas.append({k: after[k] - before[k]
                                     for k in before})
        wall_s = time.perf_counter() - t_start
        reading = host.stop()
        phase("measure")
        peak = harness.tree_peak_rss_mb(os.getpid(), exclude)
        if args.trace:
            metrics = per_layer(wl, results, tracer, store_deltas, reading)
            tracer.write(OUT / f"trace-{args.workload}-seed{args.seed}.json")
        else:
            metrics = end_to_end(results, setup_times, wall_s, reading, peak)
        attempted = sum(r.calls for r in results)
        failed = sum(r.failed for r in results)
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "budget": {"spark": f"local[{args.spark_cpus}]",
                       "store_threads": args.store_threads,
                       "clients": 1, "nproc": os.cpu_count()},
            "host.steal_pct": round(reading["steal_pct"], 3),
            "host.loadavg": reading["loadavg"],
            "host.calib_s": [round(c, 4) for c in reading["calib_s"]],
            "cpu_s": round(reading["cpu_s"], 3),
            "ops": len(results), "wall_s": round(wall_s, 3),
            # landing and answer checks, left out of goodput and CPU
            "excluded_s": round(reading["excluded_wall_s"], 3),
            "excluded_cpu_s": round(reading["excluded_cpu_s"], 3),
            "phases_s": phases,
            "setup_s": [round(t, 4) for t in setup_times],
            "latencies_s": [round(r.primary_s, 4) for r in results],
        }
        return context, {
            # correct: every primary answer and every append was right;
            # wrong answers of the other calls are counted in failed
            "correct": bool(results) and all(r.covered_ok for r in results),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        stop_store(store)
        shutil.rmtree(workdir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    context, result = run(args)
    print(json.dumps(context), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
