"""fenix_spark benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload ann_point --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): ``ann_point``, ``ann_batch``,
``curate``. The script starts Spark at ``local[$SPARK_GRAFT_CPUS]``
(default: all cores) in this process, generates its inputs from the
seed, drives the system the way users do (Flight ``Client`` calls
against an in-process ``fenix_spark.flight.Server``, or the direct
``recipes`` API), checks every answer and prints a readable report
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions in spans and reports the per-layer metrics.
A wrong answer exits with code 1; a checkout without ``fenix_spark/``
exits with code 2 before doing any work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench-out")


def _process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _prepare_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout and
    the JVM heap small (the machine is shared)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cpus = subprocess.run(
        ["nproc"], capture_output=True, text=True,
        env={k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"},
    ).stdout.strip() or str(os.cpu_count())
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # a fixed, pre-touched JVM heap: peak RSS then measures what
    # the process tree holds beyond it instead of when G1 chose to grow
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Xms{heap} -XX:+AlwaysPreTouch' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


class Env:
    def __init__(self, spark, work: str) -> None:
        self.spark = spark
        self.store_root = os.path.join(work, "store")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _spark_window(spark, before_stages, before_jobs) -> dict:
    from fenix_spark.operators.runstats import stats_since

    stats = stats_since(spark, before_stages)
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup()) - before_jobs
    top = max(stats, key=lambda s: s.executor_run_ms) if stats else None
    return {
        "jobs": len(jobs),
        "stages": len(stats),
        "tasks": sum(s.tasks for s in stats),
        "executor_run_ms": sum(s.executor_run_ms for s in stats),
        "input_mb": sum(s.input_bytes for s in stats) / 2**20,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stats) / 2**20,
        "spill_disk_mb": sum(s.spill_disk_bytes for s in stats) / 2**20,
        "task_skew": top.duration_skew if top else 1.0,
    }


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main(argv=None) -> int:
    age0 = _process_age()
    t_start = time.perf_counter() - age0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ann_point", "ann_batch", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fenix_spark", "__init__.py")):
        print(f"perfbench: no fenix_spark package next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"work-{os.getpid()}")
    _prepare_env(work)
    sys.path.insert(0, ROOT)
    import measure
    import workloads
    from tracing import Tracer, layer_self_seconds

    load_start = measure.loadavg()
    ticks_start = measure.cpu_ticks()
    tracer = Tracer() if args.trace else None
    cls = {"ann_point": workloads.AnnPoint, "ann_batch": workloads.AnnBatch,
           "curate": workloads.Curate}[args.workload]
    spark = None
    wl = None
    try:
        t0 = time.perf_counter()
        from fenix_spark.session import get_session

        spark = get_session("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        wl = cls(Env(spark, work), args.seed, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        if tracer is not None:
            from fenix_spark.operators.runstats import stage_snapshot

            before_stages = stage_snapshot(spark)
            before_jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup())
        wl.run(args.seconds)
        peak_rss = measure.tree_peak_rss_mb()
        e2e = wl.e2e()
        metrics = {
            "setup_s": (setup_s, "s"),
            "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
            "throughput_per_s": (e2e["throughput_per_s"], "1/s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        layer = {}
        if tracer is not None:
            sw = _spark_window(spark, before_stages, before_jobs)
            ops = wl.ops()
            spans = list(tracer.spans)
            per_span = tracer.calibrate()
            lw = workloads.window_layer_metrics(wl, spans)
            layer = {
                "session.start_s": (session_s, "s"),
                "setup.datagen_s": (wl.setup_parts["setup.datagen_s"], "s"),
                "setup.store_build_s": (wl.setup_parts["setup.store_build_s"], "s"),
                "spark.jobs_per_op": (sw["jobs"] / ops, "count"),
                "spark.stages_per_op": (sw["stages"] / ops, "count"),
                "spark.tasks_per_op": (sw["tasks"] / ops, "count"),
                "spark.executor_run_ms_per_op": (sw["executor_run_ms"] / ops, "ms"),
                "spark.input_mb_per_op": (sw["input_mb"] / ops, "MB"),
                "spark.task_skew": (sw["task_skew"], "ratio"),
                "engine.self_ms_per_op": (lw["engine.self_ms_per_op"], "ms"),
                "fenix.self_ms_per_op": (lw["fenix.self_ms_per_op"], "ms"),
                "call.self_ms_per_op": (lw["call.self_ms_per_op"], "ms"),
                "trace.spans_per_op": (lw["trace.spans_per_op"], "count"),
                "trace.bookkeeping_ms_per_op": (lw["trace.spans_per_op"] * per_span * 1000, "ms"),
                "traced.latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
            }
            detail_spark = {
                "spark.shuffle_write_mb_per_op": (sw["shuffle_write_mb"] / ops, "MB"),
                "spark.spill_disk_mb_per_op": (sw["spill_disk_mb"] / ops, "MB"),
            }
        wl.check()
        named = wl.named_e2e()
        res = wl.result
        named["error_rate"] = (res.failed / max(1, res.attempted), "ratio")
        named["peak_rss_mb"] = (peak_rss, "MB")
        named["setup_s"] = (setup_s, "s")

        print(f"# perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
        print(f"# calls={len(res.latencies)} items={res.items} window_s={res.window_s:.3f} "
              f"attempted={res.attempted} failed={res.failed}")
        for k, (v, unit) in {**named, **wl.detail}.items():
            print(f"{k} = {_fmt(v)} {unit}")
        for k, v in wl.setup_parts.items():
            print(f"{k} = {_fmt(v)} s")
        if tracer is not None:
            print("# per-layer (traced run)")
            for k, (v, unit) in {**layer, **detail_spark, **wl.layers()}.items():
                print(f"{k} = {_fmt(v)} {unit}")
            window = [s for s in spans if s.rid is not None]
            for name, secs in sorted(layer_self_seconds(window).items()):
                print(f"self.{name}_ms_per_op = {_fmt(1000 * secs / ops)} ms")
            setup = [s for s in spans if s.rid is None]
            for name, secs in sorted(layer_self_seconds(setup).items()):
                print(f"setup_self.{name}_s = {_fmt(secs)} s")
        for note in res.notes:
            print(f"# failure: {note}")
        probe = measure.host_probe()
        host = {"loadavg_start": load_start, "loadavg_end": measure.loadavg(),
                "steal_share": round(measure.steal_share(ticks_start, measure.cpu_ticks()), 4),
                **probe}
        print("# host " + json.dumps(host))
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "named": {k: v for k, (v, _) in {**named, **wl.detail}.items()}, "host": host,
            "latencies_s": res.latencies,
        }
        if tracer is not None:
            report["spans"] = [s.__dict__ for s in spans]
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
            json.dump(report, f, default=str)
    finally:
        if wl is not None:
            wl.close()
        if tracer is not None:
            tracer.unwrap_all()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    chosen = layer if args.trace else metrics
    correct = res.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
