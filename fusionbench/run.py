#!/usr/bin/env python3
"""Fusion-engine benchmark: one workload per invocation, closed loop.

    python3 fusionbench/run.py --workload batch_fuse_resample --seed 1 \
        --seconds 1 --trace 0

One client runs back-to-back passes in this process against a Spark
``local[nproc]`` session. Inputs are generated from ``--seed`` (cached by
workload, seed and size under ``.fusionbench/data``, outside every timer),
an untimed warm-up pass on those same inputs runs inside set-up, then
timed passes run until ``--seconds`` have passed (at least one). Every
pass's output is checked against an independent NumPy/pandas oracle; a
failed check fails the pass.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
pipeline layer by layer and reports per-layer metrics (see tracing.py).
Human-readable lines go to stderr; the last stdout line is one JSON object.
Must run from the root of a checkout that holds the library.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def library_present() -> bool:
    """The library must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("timeseriesfuser_spark")
    return spec is not None and os.path.realpath(spec.origin).startswith(
        os.path.realpath(ROOT) + os.sep)


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    # Keep every file Spark, the JVMs and Python write inside the checkout.
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("fusionbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


class PeakRss:
    """Peak resident memory (``VmHWM``) of the Python driver plus the Spark
    JVM, summed, over the timed passes only: the peak is reset right
    before each pass and read right after it, so data generation, the
    oracle and the output checks never count."""

    def __init__(self, pids):
        self.pids = pids
        self.mb = 0.0

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")  # resets VmHWM to the current RSS

    def sample(self) -> None:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        self.mb = max(self.mb, total_kb / 1024.0)


def hygiene(spark, wl) -> None:
    """Between passes: nothing cached, collected garbage, no old output."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    wl.reset_output()


def timed_pass(spark, wl, body=None, peak=None):
    """One pass (``wl.run_pass`` unless ``body`` is given) inside a cache
    scope, with its memory peak taken if ``peak`` is given; returns
    (seconds, result, error)."""
    from timeseriesfuser_spark import cache_scope

    hygiene(spark, wl)
    if peak:
        peak.reset()
    t = time.perf_counter()
    try:
        with cache_scope():
            result = (body or wl.run_pass)()
    except Exception as exc:  # noqa: BLE001 — a failed pass is counted, not fatal
        result, err = None, f"{type(exc).__name__}: {exc}"
    else:
        err = None
    dt = time.perf_counter() - t
    if peak:
        peak.sample()
    return dt, result, err


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not library_present():
        log("timeseriesfuser_spark is not in this directory: run from a checkout root")
        return 2
    sys.path.insert(0, HERE)
    import data
    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    base = os.path.join(ROOT, ".fusionbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))

    t = time.perf_counter()
    data_dir = data.materialize(args.workload, args.seed, os.path.join(base, "data"))
    excluded = time.perf_counter() - t  # generation is not set-up

    # Set-up: engine start, source configs and one untimed warm-up pass on
    # the measured inputs, which pays the cold JVM's class loading, code
    # generation and most of its JIT compilation.
    spark = start_spark(work, cores)
    wl = workloads.WORKLOADS[args.workload](spark, data_dir, work, args.seed)
    dt, result, err = timed_pass(spark, wl)
    setup_s = time.perf_counter() - T_START - excluded
    problems = [err] if err else wl.check(result)
    log(f"setup: {setup_s:.3f} s, warm-up pass {dt:.3f} s (generation {excluded:.3f} s excluded)",
        "FAILED: " + "; ".join(problems) if problems else "")

    if args.trace:
        metrics, attempted, failed = traced_run(spark, wl, args, base)
    else:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = PeakRss([os.getpid(), jvm_pid])
        metrics, attempted, failed = timed_run(spark, wl, args.seconds, peak)
        metrics["setup_s"] = (setup_s, "s")
        metrics["peak_rss_mb"] = (peak.mb, "MB")
    stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for name, (v, unit) in metrics.items():
        log(f"{args.workload:22s} {name:30s} {v:16.4f} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


def run_checked(spark, wl, seconds, run):
    """Back-to-back passes for ``seconds`` (at least one); each pass's
    output is checked outside its timer. Returns (times, failed)."""
    times, failed = [], 0
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        dt, result, err = run()
        problems = [err] if err else wl.check(result)
        if problems:
            failed += 1
            log("FAILED:", "; ".join(problems))
        times.append(dt)
    log(f"passes: {[round(x, 3) for x in times]}")
    return times, failed


def control_task(spark) -> float:
    """A fixed Spark job plus fixed Python work that run no library code:
    separates machine drift from code changes."""
    t = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=8).selectExpr(
        "sum(hash(id) % 1000) AS s").collect()
    sum(i * i for i in range(400_000))
    return time.perf_counter() - t


def traced_run(spark, wl, args, base):
    """One untraced pass as the overhead baseline, then traced passes
    for the rest of ``--seconds``. Times are medians over traced passes;
    counts come from the last one and must repeat exactly."""
    import tracing

    t0 = time.perf_counter()
    dt, result, err = timed_pass(spark, wl)
    plain, failed = [dt], int(bool(err or wl.check(result)))
    tr = tracing.Tracer(spark)

    def traced_body():
        tr.new_pass()
        with tr.span("pass"):
            return wl.traced_pass(tr)

    left = args.seconds - (time.perf_counter() - t0)
    traced, traced_failed = run_checked(
        spark, wl, max(left, 0), lambda: timed_pass(spark, wl, traced_body))
    passes = [tr.layer_metrics(p) for p in range(1, tr.pass_id + 1)]
    metrics = {}
    for name, (v, unit) in passes[-1].items():
        if unit == "s":
            v = statistics.median(p[name][0] for p in passes)
        elif any(p[name][0] != v for p in passes):
            log(f"count {name} differs between traced passes:",
                [p[name][0] for p in passes])
        metrics[name] = (v, unit)
    metrics["env.control_s"] = (statistics.median(control_task(spark) for _ in range(3)), "s")
    metrics["trace.overhead_s"] = (statistics.median(traced) - statistics.median(plain), "s")
    out = os.path.join(base, "trace")
    os.makedirs(out, exist_ok=True)
    tr.write(os.path.join(out, f"{args.workload}-seed{args.seed}.json"),
             {"workload": args.workload, "seed": args.seed,
              "untraced_s": plain, "traced_s": traced})
    return metrics, len(plain) + len(traced), failed + traced_failed


def timed_run(spark, wl, seconds, peak):
    times, failed = run_checked(spark, wl, seconds, lambda: timed_pass(spark, wl, peak=peak))
    job_s = statistics.median(times)
    return {
        "job_s": (job_s, "s"),
        "rows_per_s": (wl.rows_in / job_s, "rows/s"),
        "ok_frac": ((len(times) - failed) / len(times), "ratio"),
    }, len(times), failed


if __name__ == "__main__":
    sys.exit(main())
