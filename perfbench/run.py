#!/usr/bin/env python3
"""walker_spark benchmark: one workload, one closed loop, one JSON line.

    python3 perfbench/run.py --workload crawl-steady --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process starts Spark at
``local[<cores>]``, sets the workload up from ``--seed``, then runs its
steps back to back (each starts when the previous one finished) until
``--seconds`` have passed and the workload's ``min_steps`` are done
(a step is never cut), checks the outputs, and prints every metric
by name and unit. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) of BENCHMARK.json. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
DRIVER_MEMORY = "3g"  # 4 vCPU / 15 GB host; the JVM peaks well below this
# A fixed heap and young generation: G1 growing both on demand from a
# ~250 MB start left the JVM's resident memory bimodal across runs of one
# workload (1.6 or 2.0 GB for corpus-ops).
JVM_GC = f"-Xms{DRIVER_MEMORY} -XX:NewSize=512m -XX:MaxNewSize=512m"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("crawl-steady", "corpus-ops"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_spark(cores: int, run_dir: str):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers start from the JVM's environment: they need the
    # repo on their path, and every temp file stays in the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("walker-spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData {JVM_GC}")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every job and stage back from the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched; its Python workers
    end with it and are waited for on the way out of :func:`main`."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        # also when a signal broke the py4j connection and stop() failed
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def load_history() -> dict:
    try:
        with open(os.path.join(WORK, "history.json"), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def save_history(history: dict) -> None:
    path = os.path.join(WORK, "history.json")
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(history, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a TERM unwinds like an exception, so Spark and the run dir are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isdir(os.path.join(ROOT, "walker_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no walker_spark sources in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.hostinfo import adopt_orphans, stop_descendants

    adopt_orphans()
    try:
        return measure(args)
    finally:
        # every path out waits for the processes the run started (JVM,
        # Python workers, probes) and kills any that outstay the grace time
        killed = stop_descendants(grace_s=30)
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)


def measure(args) -> int:
    from perfbench.hostinfo import MemSampler, cpu_calibration, cpu_jiffies

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    history = load_history()
    print(f"# workload {args.workload} seed {args.seed} cores {cores} seconds {args.seconds:g} trace {args.trace}")
    if args.trace:
        # host context beside the run set; untraced runs skip its ~2 s
        hi = min(4, cores)
        print(f"cpu_calibration_1to{hi} {cpu_calibration(hi):.3f} (ideal {hi})")
    steal0 = cpu_jiffies()
    try:
        with MemSampler() as mem:
            result, lines = run_workload(args, cores, run_dir, history)
        if not args.trace:
            result["metrics"]["peak_pss_mb"] = {"value": mem.peak_mb, "unit": "MB"}
        save_history(history)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal, total = (b - a for a, b in zip(steal0, cpu_jiffies()))
    lines.append(f"host_steal_frac {steal / max(1, total):.4f} (CPU time the hypervisor gave to others)")
    for line in lines:
        print(line)
    if not args.trace:
        parts = ", ".join(f"{c} {b / 2**20:.0f}" for c, b in sorted(mem.peak_by_comm.items()))
        print(f"peak_pss_mb {mem.peak_mb:.1f} MB (peak per command: {parts} MB)")
    print(json.dumps(result))
    return 0


def run_workload(args, cores: int, run_dir: str, history: dict) -> tuple[dict, list[str]]:
    t_start = time.perf_counter()
    spark = build_spark(cores, run_dir)
    tracer = None
    try:
        from perfbench.corpus import CorpusOps
        from perfbench.crawl import CrawlSteady
        from perfbench.spans import Tracer

        tracer = Tracer(spark.sparkContext) if args.trace else None
        cls = {"crawl-steady": CrawlSteady, "corpus-ops": CorpusOps}[args.workload]
        wl = cls(spark, run_dir, args.seed, cores, tracer)
        excluded_s = wl.setup() or 0.0
        setup_s = time.perf_counter() - t_start - excluded_s
        wl.mark_measure_start()

        walls: list[float] = []
        units = attempted = failed = 0
        t_measure, m0 = time.time(), time.perf_counter()
        overhead0 = tracer.overhead_s if tracer else 0.0
        while True:
            attempted += 1
            try:
                wall, n, ok = wl.step()
            except Exception:
                traceback.print_exc()
                failed += 1
                break
            failed += not ok
            walls.append(wall)
            units += n
            if time.perf_counter() - m0 >= args.seconds and len(walls) >= wl.min_steps:
                break
        t_end = time.time()
        if not walls:
            raise RuntimeError("no step completed")
        overhead_s = (tracer.overhead_s - overhead0) if tracer else 0.0

        lines = []
        checks = wl.checks(history)
        for name, ok, detail in checks:
            lines.append(f"check {name} {'OK' if ok else 'FAIL'} {detail}")
        attempted += len(checks)
        failed += sum(not ok for _, ok, _ in checks)

        step_p50 = statistics.median(walls)
        lines += [
            f"setup_s {setup_s:.4f} s",
            f"step_s_p50 {step_p50:.4f} s (n={len(walls)})",
            f"work_per_s {units / sum(walls):.4f} 1/s ({wl.unit})",
            *wl.describe(walls),
            f"fail_frac {failed / attempted:.4f} ({failed}/{attempted})",
        ]
        key = f"{args.workload}/{args.seed}"
        if tracer is None:
            history.setdefault("untraced_step_s_p50", {})[key] = step_p50
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "step_s_p50": {"value": step_p50, "unit": "s"},
                "work_per_s": {"value": units / sum(walls), "unit": "1/s"},
            }
        else:
            metrics = traced_metrics(spark, tracer, wl, cores, (t_measure, t_end), walls, overhead_s)
            base = history.get("untraced_step_s_p50", {}).get(key)
            if base:
                lines.append(f"trace_vs_untraced_step_frac {step_p50 / base - 1:.4f} (untraced p50 {base:.4f} s)")
            for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
                lines.append(f"self_s {name} {s:.4f}")
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w", encoding="utf-8") as f:
                json.dump({"spans": tracer.to_json(), "self_s": tracer.self_times()}, f)
            for name, m in metrics.items():
                lines.append(f"{name} {m['value']:.6g} {m['unit']}")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        return result, lines
    finally:
        if tracer is not None:
            tracer.unpatch()
        stop_spark(spark)


def traced_metrics(spark, tracer, wl, cores, window, walls, overhead_s) -> dict:
    from perfbench.crawl import START_MS
    from perfbench.kernels import kernel_metrics

    values = wl.layer_metrics(*window)
    values.update(kernel_metrics(spark, tracer, wl.kernel_pages(), wl.cfg, START_MS, cores))
    values["trace.overhead_frac"] = overhead_s / sum(walls)
    values["trace.spans"] = len(tracer.spans)
    return zero_unused(values)


def zero_unused(values: dict[str, float]) -> dict[str, dict]:
    """Every ``per_layer`` metric of BENCHMARK.json as ``{name: {value, unit}}``;
    a layer the workload never calls reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json per_layer: {sorted(unknown)}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}


if __name__ == "__main__":
    sys.exit(main())
