"""The benchmark's workloads.  One operation is one full job of the
workload: a drain of the whole backlog, or a curation pass over the
whole corpus and its link graph.

Each workload generates its inputs from the seed in :meth:`prepare`,
runs an operation in :meth:`op` (the only timed call), checks that
operation's output without Spark in :meth:`check`, and runs its
once-per-process checks in :meth:`finish`.  Package functions are looked
up on their modules at call time, so the traced run's wrappers see them.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq

import checks
import gen


class Drain:
    """Drain a topic backlog with merge-all into the exactly-once parquet
    sink: ``stream_records_from_dir`` → ``streaming_merge_all`` →
    ``exactly_once_parquet_sink``, one input file per micro-batch."""

    name = "drain_merge_all"
    FILES = 8
    ROWS_PER_FILE = 25_000

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inp = work / "backlog"
        self.last: tuple[Path, Path] | None = None

    def prepare(self) -> None:
        self.input_rows = gen.drain_backlog(self.inp, self.seed, self.FILES, self.ROWS_PER_FILE)

    def _drain(self, out: Path, ckpt: Path):
        from kafka_merge_purge_spark.streaming import pipeline, sink

        records = pipeline.stream_records_from_dir(self.spark, str(self.inp), max_files_per_trigger=1)
        q = pipeline.streaming_merge_all(
            records, checks.DEST_TOPIC, sink.exactly_once_parquet_sink(str(out)), str(ckpt)
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return q.recentProgress

    def op(self, i: int):
        out, ckpt = self.work / f"op{i}" / "out", self.work / f"op{i}" / "ckpt"
        return out, ckpt, self._drain(out, ckpt)

    def check(self, result) -> list[str]:
        out, ckpt, progress = result
        counters = {"merged": 0, "purged": 0}
        for p in progress:
            row = p.observedMetrics.get("counters")
            for k, v in (row.asDict() if row is not None else {}).items():
                counters[k] += v
        errors = checks.check_drain(self.inp, out, self.FILES, counters)
        t = self.tracer
        if t.enabled:
            t.add("streaming.batches", len(progress))
            for p in progress:
                t.add("streaming.trigger_p50_ms", p.durationMs.get("triggerExecution", 0))
                t.add("streaming.plan_p50_ms", p.durationMs.get("queryPlanning", 0))
                t.add("streaming.commit_p50_ms", p.durationMs.get("commitOffsets", 0))
            t.add("routing.merged_rows", counters["merged"])
            t.add("routing.purged_rows", counters["purged"])
            files = list(out.glob("batch_id=*/*.parquet"))
            t.add("sink.files_written", len(files))
            t.add("sink.mb_written", sum(f.stat().st_size for f in files) / 1e6)
        if self.last is not None:
            shutil.rmtree(self.last[0].parent)
        self.last = (out, ckpt)
        return errors

    def finish(self) -> list[str]:
        """A second drain on the last operation's checkpoint writes nothing."""
        out, ckpt = self.last
        before = sorted(p.name for p in out.iterdir())
        progress = self._drain(out, ckpt)
        rows = sum(p.numInputRows for p in progress)
        after = sorted(p.name for p in out.iterdir())
        if rows or before != after:
            return [f"drain: replay on the same checkpoint read {rows} rows, dirs {before} -> {after}"]
        return []


class Curate:
    """A curation pass over a seeded corpus and its link graph:
    ``exact_dedup`` and ``fuzzy_dedup`` over the documents (whose
    ``connected_components`` takes its driver union-find path), then
    ``strongly_connected_components`` and ``connected_components`` over
    the link graph on their distributed iterate paths
    (``max_driver_edges=0``).  Every result is pulled to the driver as
    Arrow, so every operation's output is checked."""

    name = "curate_dedup_scc"
    DOCS = 800
    MIN_TOKENS, MAX_TOKENS = 150, 250
    THRESHOLD = 0.5  # fuzzy_dedup's default jaccard_threshold
    #: link graph shape: trees x (root + children) rings of CYCLE docs
    TREES, CHILDREN, CYCLE = 3, 3, 3

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.docs_path = work / "corpus.parquet"
        self.edges_path = work / "links.parquet"

    def prepare(self) -> None:
        self.work.mkdir(parents=True)
        self.corpus = gen.corpus(self.docs_path, self.seed, self.DOCS, self.MIN_TOKENS, self.MAX_TOKENS)
        t = pq.read_table(self.docs_path)
        ids = t.column("doc_id").to_numpy()
        self.texts = dict(zip(ids.tolist(), t.column("text").to_pylist()))
        n_edges = gen.link_graph(self.edges_path, self.seed, ids, self.TREES, self.CHILDREN, self.CYCLE)
        e = pq.read_table(self.edges_path)
        self.want_scc, self.want_cc = checks.expected_graph_labels(
            e.column("src").to_pylist(), e.column("dst").to_pylist()
        )
        self.input_rows = self.DOCS + n_edges

    def op(self, i: int):
        from kafka_merge_purge_spark.operators import components, dedup

        docs = self.spark.read.parquet(str(self.docs_path))
        with self.tracer.span("dedup.exact_call_s"):
            exact = dedup.exact_dedup(docs).toArrow()
        with self.tracer.span("dedup.fuzzy_call_s"):
            fuzzy = dedup.fuzzy_dedup(docs).toArrow()
        links = self.spark.read.parquet(str(self.edges_path))
        scc = components.strongly_connected_components(links, "src", "dst", max_driver_edges=0).toArrow()
        cc = components.connected_components(links, "src", "dst", max_driver_edges=0).toArrow()
        return exact, fuzzy, scc, cc

    def check(self, result) -> list[str]:
        exact, fuzzy, scc, cc = result
        rows = fuzzy.to_pylist()
        if self.tracer.enabled:
            self.tracer.add("dedup.clusters", sum(1 for r in rows if r["is_canonical"] and r["cluster_size"] > 1))
            self.tracer.add("dedup.near_recall", checks.near_recall(self.corpus.near, rows))
        return (
            checks.check_exact(self.texts, exact.to_pylist())
            + checks.check_fuzzy(self.texts, self.corpus.exact, self.corpus.near, rows, self.THRESHOLD)
            + checks.check_labels(
                "scc", self.want_scc, scc.column("node").to_pylist(), scc.column("scc").to_pylist()
            )
            + checks.check_labels(
                "cc", self.want_cc, cc.column("node").to_pylist(), cc.column("component").to_pylist()
            )
        )

    def finish(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (Drain, Curate)}
