"""Per-layer tracing for the traced run (``--trace 1``).

Two sources, neither of which changes the package:

* wrappers installed over the package's public functions (module
  attributes, patched only in the traced process), which record call
  times and counts per operation;
* Spark's own event log (one uncompressed, non-rolling JSON-lines file),
  folded per operation by the operation's wall-clock window.

The untraced run uses :class:`NullTracer`, whose methods do nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

#: metrics that are the median over individual calls (batches, rounds)
#: rather than the median over operations of a per-operation total
_PER_CALL = {
    "streaming.trigger_p50_ms",
    "streaming.plan_p50_ms",
    "streaming.commit_p50_ms",
    "sink.write_p50_ms",
    "iterate.round_p50_ms",
}


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False
    op = -1

    def add(self, name: str, value: float) -> None:
        pass

    @contextmanager
    def span(self, name: str):
        yield


class Tracer(NullTracer):
    """Collects ``(operation, metric, value)`` samples in memory."""

    enabled = True

    def __init__(self) -> None:
        self.samples: dict[str, dict[int, list[float]]] = defaultdict(lambda: defaultdict(list))
        self.op = -1
        self.pairs_frame = None

    def add(self, name: str, value: float) -> None:
        self.samples[name][self.op].append(float(value))

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t)

    def install(self) -> None:
        """Patch the package's public entry points with timing wrappers."""
        from kafka_merge_purge_spark.operators import components, dedup
        from kafka_merge_purge_spark.operators import iterate as iterate_mod
        from kafka_merge_purge_spark.streaming import pipeline, sink

        tracer = self

        def timed(mod, fname, metric, scale=1.0):
            inner = getattr(mod, fname)

            def wrapper(*args, **kwargs):
                t = time.perf_counter()
                try:
                    return inner(*args, **kwargs)
                finally:
                    tracer.add(metric, (time.perf_counter() - t) * scale)

            setattr(mod, fname, wrapper)

        # plan construction of the routed frame inside streaming_merge_all
        timed(pipeline, "merge_all", "routing.build_ms", 1000.0)
        inner_cc = components.connected_components

        def traced_cc(*args, **kwargs):
            # the distributed (iterate) path, or the driver union-find
            # path that fuzzy_dedup takes
            distributed = kwargs.get("max_driver_edges") == 0
            t = time.perf_counter()
            try:
                return inner_cc(*args, **kwargs)
            finally:
                tracer.add(
                    "components.cc_call_s" if distributed else "components.cc_driver_call_s",
                    time.perf_counter() - t,
                )

        components.connected_components = traced_cc
        timed(components, "strongly_connected_components", "components.scc_call_s")

        inner_sink = sink.exactly_once_parquet_sink

        def traced_sink(out_dir):
            batch_fn = inner_sink(out_dir)

            def traced_batch(df, batch_id):
                t = time.perf_counter()
                try:
                    return batch_fn(df, batch_id)
                finally:
                    tracer.add("sink.write_p50_ms", (time.perf_counter() - t) * 1000.0)

            return traced_batch

        sink.exactly_once_parquet_sink = traced_sink

        inner_pairs = dedup.minhash_lsh_pairs

        def traced_pairs(*args, **kwargs):
            out = inner_pairs(*args, **kwargs)
            # counted once after the timed operations (count_pairs)
            tracer.pairs_frame = (tracer.op, out)
            return out

        dedup.minhash_lsh_pairs = traced_pairs

        inner_iterate = iterate_mod.iterate

        def traced_iterate(state, step, max_rounds, *args, **kwargs):
            marks = [time.perf_counter()]

            def counted_step(df, i):
                if i:
                    marks.append(time.perf_counter())
                return step(df, i)

            tracer.add("iterate.calls", 1)
            try:
                return inner_iterate(state, counted_step, max_rounds, *args, **kwargs)
            finally:
                marks.append(time.perf_counter())
                tracer.add("iterate.rounds", len(marks) - 1)
                for a, b in zip(marks, marks[1:]):
                    tracer.add("iterate.round_p50_ms", (b - a) * 1000.0)

        iterate_mod.iterate = traced_iterate

    def count_pairs(self, spark) -> None:
        """Count the verified pairs of the last fuzzy_dedup call, outside
        any operation's window so the extra job is not attributed."""
        if self.pairs_frame is None:
            return
        op, frame = self.pairs_frame
        spark.sparkContext.setJobGroup("perfbench-probe", "pairs_verified")
        n = frame.count()
        spark.sparkContext.setJobGroup("", "")
        self.samples["dedup.pairs_verified"][op].append(float(n))

    def summarize(self, ops: list[int]) -> dict[str, float]:
        """Median over ``ops`` of each metric's per-operation total; for
        the p50 metrics, the median over every call in ``ops``."""
        out: dict[str, float] = {}
        for name, per_op in self.samples.items():
            if name in _PER_CALL:
                vals = [v for op in ops for v in per_op.get(op, [])]
                out[name] = statistics.median(vals) if vals else 0.0
            else:
                have = [op for op in ops if op in per_op]
                if name == "dedup.pairs_verified" and have:
                    out[name] = per_op[have[-1]][0]
                    continue
                out[name] = statistics.median(sum(per_op.get(op, [0.0])) for op in ops)
        return out


def event_log_metrics(log_dir: Path, windows: list[tuple[int, float, float]], cores: int) -> dict[int, dict[str, float]]:
    """Fold Spark's event log into per-operation engine metrics.

    ``windows`` holds ``(op, start_ms, end_ms)`` in epoch milliseconds.
    A job belongs to the operation whose window holds its submission
    time; a task to the one that holds its launch time."""
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {[p.name for p in logs]}")

    def op_of(t_ms: float) -> int | None:
        for op, a, b in windows:
            if a <= t_ms <= b:
                return op
        return None

    jobs: dict[int, list] = {}
    m: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with logs[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                op = op_of(ev["Submission Time"])
                if op is not None and ev.get("Properties", {}).get("spark.jobGroup.id") != "perfbench-probe":
                    jobs[ev["Job ID"]] = [op, ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                op = op_of(info.get("Submission Time", -1))
                if op is not None:
                    m[op]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = op_of(ev["Task Info"]["Launch Time"])
                tm = ev.get("Task Metrics")
                if op is None or not tm:
                    continue
                d = m[op]
                d["spark.tasks"] += 1
                d["spark.task_s"] += tm["Executor Run Time"] / 1e3
                d["spark.cpu_s"] += tm["Executor CPU Time"] / 1e9
                d["spark.gc_s"] += tm["JVM GC Time"] / 1e3
                d["spark.spill_mb"] += tm["Disk Bytes Spilled"] / 1e6
                sr, sw = tm["Shuffle Read Metrics"], tm["Shuffle Write Metrics"]
                d["spark.shuffle_read_mb"] += (sr["Remote Bytes Read"] + sr["Local Bytes Read"]) / 1e6
                d["spark.shuffle_write_mb"] += sw["Shuffle Bytes Written"] / 1e6
                d["sources.scan_rows"] += tm["Input Metrics"]["Records Read"]
                d["sources.scan_mb"] += tm["Input Metrics"]["Bytes Read"] / 1e6
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for op, start, end in jobs.values():
        m[op]["spark.jobs"] += 1
        if end is not None:
            intervals[op].append((start, end))
    for op, a, b in windows:
        busy, cur_a, cur_b = 0.0, None, None
        for s, e in sorted(intervals.get(op, [])):
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    busy += cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        if cur_b is not None:
            busy += cur_b - cur_a
        wall = (b - a) / 1e3
        d = m[op]
        d["spark.job_busy_s"] = busy / 1e3
        d["spark.op_wall_s"] = wall
        d["driver.gap_s"] = wall - busy / 1e3
        d["spark.cores"] = cores
        d["spark.cores_busy"] = d["spark.task_s"] / (wall * cores)
    return m


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM, read from /proc/<pid>/status."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")
