"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds a host-sized Spark session
(cores = nproc, driver heap from host RAM, every scratch path inside the
checkout), sets up the workload (seeded inputs and prebuilt state) and
runs one untimed warm-up round: `setup_s` is process start to ready.
It then runs `--seconds / round_s` closed-loop rounds, rounded (at
least one), `round_s` being the workload's nominal round length;
`wall_s` is the fastest.  Each round is the same fixed unit of work:
before it, the workload puts back any state the last round changed.
After every round it records the cached plans left behind, clears the
Spark cache, runs python and JVM GC and deletes the round's scratch.
It checks outputs and prints, as its last line, one JSON object: `{"correct", "attempted",
"failed", "metrics"}` — the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`.  The line before it records the
host sizing, input sizes, set-up and round times and every call's time.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "crawling_vectordb_llm_spark"
CALIB_ROWS = 4_000_000


def host_config(work: str) -> dict:
    """Session sizing from the host, not from package defaults: every
    core, a driver heap of half the RAM (capped at 8 GiB), and local
    dirs under the run's work directory."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap_g = max(1, min(8, mem_kb // (2 * 1024 * 1024)))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_g}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    }


def configure_env(work: str) -> dict:
    cfg = host_config(work)
    tmp = os.path.join(work, "tmp")
    for d in (cfg["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(cfg)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tmp
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # files in the checkout and write no /tmp/hsperfdata
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{jvm_opts}' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    return cfg


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and every python worker it
    forked have exited (workers outlive the JVM briefly, reparented)."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def timed_calib(spark) -> float:
    """A fixed aggregate, timed at the start and end of each run to show
    drift of the host between them."""
    t = time.perf_counter()
    spark.range(0, CALIB_ROWS, 1, 4).selectExpr("sum(id % 7)").collect()
    return (time.perf_counter() - t) * 1e3


def after_round(spark, scratch: str) -> tuple[int, float]:
    """Rep hygiene, so no round reads another's cache: count the cached
    plans the round left, clear the cache, GC both heaps and drop the
    round's scratch.  Returns (cached plans left, JVM heap still live
    after the GC in MiB)."""
    left = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()
    runtime = spark._jvm.java.lang.Runtime.getRuntime()
    live_mb = (runtime.totalMemory() - runtime.freeMemory()) / 2**20
    shutil.rmtree(scratch, ignore_errors=True)
    return int(left), live_mb


def write_spans(spans, args) -> None:
    """Write a traced run's spans (kept in memory until now) as JSON."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.json")
    with open(path, "w") as f:
        json.dump([
            {"name": s.name, "detail": s.detail, "start": s.start, "end": s.end,
             "traced": s.group is not None, **s.stats}
            for s in spans
        ], f)


def run(args) -> dict:
    from perfbench.spans import (
        SPAN_METRICS,
        SPAN_UNITS,
        Tracer,
        tree_cpu_s,
        tree_peak_rss_mb,
    )
    from perfbench.workloads import ALL_SPANS, QUALITY_UNITS, SQL_QUERIES, WORKLOADS

    from crawling_vectordb_llm_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cfg = configure_env(work)
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, tracer)

        t = time.perf_counter()
        wl.prepare(os.path.join(work, "data"))
        spark.catalog.clearCache()
        prep_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.reset()
        wl.round(os.path.join(work, "warmup"))
        after_round(spark, os.path.join(work, "warmup"))
        warm_s = time.perf_counter() - t
        tracer.spans.clear()
        setup_s = time.perf_counter() - T_START

        calib_first = timed_calib(spark)
        rounds: list[tuple[bool, float]] = []
        round_cpu: list[float] = []
        left: list[int] = []
        live_mb: list[float] = []
        attempted = failed = 0
        # a fixed number of timed rounds, sized from --seconds and the
        # workload's nominal round length, never from how fast this run
        # goes: later rounds run warmer, so a count that grew with speed
        # would reward speed twice.  A traced run alternates untraced and
        # traced rounds, starting and ending untraced, so warm-up drift
        # does not bias the overhead.
        n_untraced = max(2 if args.trace else 1, round(args.seconds / wl.round_s))
        n_rounds = 2 * n_untraced - 1 if args.trace else n_untraced
        for i in range(n_rounds):
            tracer.traced = bool(args.trace) and i % 2 == 1
            scratch = os.path.join(work, f"round{i}")
            wl.reset()
            n_spans = len(tracer.spans)
            cpu, t = tree_cpu_s(os.getpid()), time.perf_counter()
            try:
                wl.round(scratch)
            except Exception:  # noqa: BLE001 - a failed call is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                failed += 1
            rounds.append((tracer.traced, time.perf_counter() - t))
            round_cpu.append(tree_cpu_s(os.getpid()) - cpu)
            attempted += len(tracer.spans) - n_spans  # one span per call
            tracer.resolve()
            n_left, live = after_round(spark, scratch)
            left.append(n_left)
            live_mb.append(live)
        calib_last = timed_calib(spark)
        peak_rss = tree_peak_rss_mb(os.getpid())

        try:
            failed += wl.check()
        except Exception:  # noqa: BLE001 - a broken output is a failed check
            traceback.print_exc(file=sys.stderr)
            failed += 1
        attempted = max(attempted, failed, 1)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    untraced = [w for traced, w in rounds if not traced]
    traced = [w for traced, w in rounds if traced]
    call_s: dict[str, list[float]] = {}
    for span in tracer.spans:
        key = f"{span.name}:{span.detail}" if span.detail else span.name
        call_s.setdefault(key, []).append(round(span.wall_s, 4))
    info = {
        "workload": args.workload, "seed": args.seed, "host": cfg,
        "sizes": wl.size, "session_s": session_s, "prepare_s": prep_s, "warmup_s": warm_s,
        "round_s": [w for _, w in rounds], "round_cpu_s": round_cpu, "calls": attempted,
        "call_s": call_s, "quality": wl.quality,
    }
    print(json.dumps(info), flush=True)
    if not args.trace:
        # the fastest timed round: host contention only ever adds time, so
        # the minimum drops a burst that hit one round
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (min(untraced), "s"),
        }
    else:
        write_spans(tracer.spans, args)
        metrics = {}
        per_round = {name: dict.fromkeys(SPAN_METRICS, 0.0) for name in ALL_SPANS}
        n_traced = max(1, len(traced))
        for span in tracer.spans:
            if span.stats:
                for m, v in span.stats.items():
                    per_round[span.name][m] += v / n_traced
        for name, vals in per_round.items():
            for m, v in vals.items():
                metrics[f"{name}.{m}"] = (v, SPAN_UNITS[m])
        for q in SQL_QUERIES:
            times = [s.wall_s for s in tracer.spans if s.detail == q] or [0.0]
            metrics[f"sql.{q}.s"] = (statistics.median(times), "s")
        for key, unit in QUALITY_UNITS.items():
            metrics[f"quality.{key}"] = (wl.quality.get(key, 0.0), unit)
        metrics["cache.entries_left"] = (max(left), "count")
        metrics["mem.peak_rss_mb"] = (peak_rss, "MB")
        metrics["mem.jvm_live_mb"] = (max(live_mb), "MB")
        # CPU seconds of the python driver, JVM and workers per untraced
        # round: more work moves it, a contended host mostly moves wall_s
        metrics["cpu.round_s"] = (
            statistics.median(c for c, (tr, _) in zip(round_cpu, rounds) if not tr), "s"
        )
        metrics["calib.first_ms"] = (calib_first, "ms")
        metrics["calib.last_ms"] = (calib_last, "ms")
        metrics["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(untraced) - 1.0, "fraction"
        )
    return {
        "correct": failed == 0 and wl.quality_ok(),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="shrink every input size (the smoke test runs tiny)")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"error: no {PACKAGE}/ package next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    # import the package under test from this checkout only
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
