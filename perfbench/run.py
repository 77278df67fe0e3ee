"""Benchmark entry point.

    python3 perfbench/run.py --workload drain_merge_all --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process runs one workload on a
pinned ``local[N]`` session (N = min(4, usable cores)):

1. ``setup_s``: process start → ``session.get_spark`` → one trivial job;
2. inputs are generated from ``--seed`` (untimed);
3. ``cold_job_cpu_s``: the first operation of the session;
4. the operations after it are timed back to back until ``--seconds``
   have passed and at least ``MIN_TIMED`` ran; ``rows_per_cpu_s`` is
   input rows ÷ their median CPU seconds.

All three metrics are CPU seconds of the whole process tree (Python
driver, Spark JVM, Python workers), not wall time: README.md says why.
Wall times go to stderr.

Every operation's output is checked (outside its timing); a wrong
output makes ``correct`` false.  The last stdout line is the JSON
result.  ``--trace 1`` also records the per-layer metrics (tracing.py)
and prints those instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()

#: the fewest timed operations, which follow the cold one; set by the
#: time budget of a full benchmark (README.md)
MIN_TIMED = {"drain_merge_all": 3, "curate_dedup_scc": 1}
MAX_CORES = 4


def process_age_s() -> float:
    """Seconds since this process was started, from /proc/self/stat."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the Spark JVM and its Python workers), counting
    reaped children through their parents' cutime/cstime.  Time the
    hypervisor steals from the guest is charged to no process."""
    ticks: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            f = Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        ticks[int(d)] = sum(int(x) for x in f[11:15])
        kids.setdefault(int(f[1]), []).append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_spark(name: str, work: Path, n: int, event_log: Path | None):
    from kafka_merge_purge_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")])
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(f"perfbench-{name}", cpus=n, shuffle_partitions=n, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "kafka_merge_purge_spark" / "session.py").is_file():
        log(f"no kafka_merge_purge_spark package under {ROOT}: run from the repository root")
        return 2
    if args.workload not in MIN_TIMED:
        log(f"unknown workload {args.workload!r}; choose from {sorted(MIN_TIMED)}")
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    from tracing import NullTracer, Tracer

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    tracer = Tracer() if args.trace else NullTracer()
    n = cores()
    spark = None
    try:
        if tracer.enabled:
            tracer.install()
        spark = start_spark(args.workload, work, n, work / "eventlog" if tracer.enabled else None)
        spark.range(1).count()
        setup_s, setup_wall = tree_cpu_s(), process_age_s()
        log(f"setup {setup_wall:.3f}s wall {setup_s:.2f}s cpu on local[{n}]")
        import workloads  # after setup_s: its imports are the benchmark's cost

        wl = workloads.WORKLOADS[args.workload](spark, work / "data", args.seed, tracer)
        wl.prepare()
        log(f"{wl.name}: {wl.input_rows} input rows")

        attempted = failed = 0
        errors: list[str] = []
        timed: list[tuple[int, float, float]] = []  # (op, wall s, cpu s)
        windows: list[tuple[int, float, float]] = []
        persistent_before = spark.sparkContext._jsc.getPersistentRDDs().size()

        def run_op(i: int) -> tuple[float, float] | None:
            nonlocal attempted, failed
            attempted += 1
            tracer.op = i
            w0 = time.time() * 1000.0
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                result = wl.op(i)
            except Exception:
                failed += 1
                log(f"op {i} failed:\n{traceback.format_exc()}")
                return None
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - c0
            windows.append((i, w0, time.time() * 1000.0))
            errs = wl.check(result)
            errors.extend(errs)
            log(f"op {i}: {dt:.3f}s wall {cpu:.2f}s cpu{' WRONG: ' + '; '.join(errs) if errs else ''}")
            return dt, cpu

        cold = run_op(0)
        i = 1
        deadline = time.perf_counter() + args.seconds
        while True:
            res = run_op(i)
            if res is not None:
                timed.append((i, *res))
            i += 1
            if time.perf_counter() >= deadline and i - 1 >= MIN_TIMED[args.workload]:
                break
        tracer.op = -1  # the replay check is no operation's work
        errors.extend(wl.finish())

        if not timed or cold is None:
            log("no operation succeeded")
            return 1
        warm = statistics.median(dt for _, dt, _ in timed)
        warm_cpu = statistics.median(c for _, _, c in timed)
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_job_cpu_s": (cold[1], "s"),
            "rows_per_cpu_s": (wl.input_rows / warm_cpu, "rows/s"),
        }
        log(f"{len(timed)} timed ops, median {warm:.3f}s wall {warm_cpu:.2f}s cpu, {len(errors)} errors")
        if tracer.enabled:
            metrics = trace_metrics(
                spark, tracer, [t[0] for t in timed], windows, n, work,
                {
                    "session.start_s": setup_wall,
                    "wall.cold_job_s": cold[0],
                    "wall.rows_per_s": wl.input_rows / warm,
                    "iterate.persistent_rdds_left": (
                        spark.sparkContext._jsc.getPersistentRDDs().size() - persistent_before
                    ) / attempted,
                },
            )
            spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        log(f"WRONG: {e}")
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def trace_metrics(spark, tracer, ops, windows, n: int, work: Path, measured: dict[str, float]) -> dict:
    """Every ``per_layer`` metric of BENCHMARK.json for the timed
    operations (0 for a layer the workload does not touch), plus the
    figures in ``measured``; stops the session (the event log is
    complete only once the context has stopped)."""
    from tracing import event_log_metrics, jvm_peak_rss_mb

    rss = jvm_peak_rss_mb(spark)
    tracer.count_pairs(spark)
    stop_spark(spark)
    values = tracer.summarize(ops)
    engine = event_log_metrics(work / "eventlog", windows, n)
    for name in {k for d in engine.values() for k in d}:
        values[name] = statistics.median(engine[op].get(name, 0.0) for op in ops)
    values.update(measured)
    values["session.jvm_peak_rss_mb"] = rss
    per_layer = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    return {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in per_layer}


if __name__ == "__main__":
    sys.exit(main())
