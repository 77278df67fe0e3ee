"""Streaming deployment tests: AvailableNow drain (poll-until-empty
parity), checkpointed exactly-once-style sink, windowed aggregation,
and the multimodal mapInPandas plumbing."""

from __future__ import annotations

import glob

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_merge_purge_spark.sources.batch import epoch_to_micros_expr

from kafka_merge_purge_spark.streaming.pipeline import (
    stream_records_from_dir,
    streaming_merge_all,
)
from kafka_merge_purge_spark.streaming.sink import exactly_once_parquet_sink

SF_DIR = "/root/testdata/sf0.001"


def test_streaming_merge_all_drains_and_matches_batch(spark, tmp_path, records):
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # the file stream source wants a directory; stage the fixture via symlink
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")
    stream = stream_records_from_dir(spark, str(stream_dir))
    q = streaming_merge_all(stream, "events-merged", exactly_once_parquet_sink(out_dir), ckpt)
    q.awaitTermination(120)

    written = spark.read.parquet(*glob.glob(f"{out_dir}/batch_id=*"))
    from kafka_merge_purge_spark.operators.routing import merge_all

    expected = merge_all(records, "events-merged")
    assert written.count() == expected.count()
    legs = {r["leg"]: r["n"] for r in written.groupBy("leg").agg(F.count("*").alias("n")).collect()}
    exp_legs = {r["leg"]: r["n"] for r in expected.groupBy("leg").agg(F.count("*").alias("n")).collect()}
    assert legs == exp_legs

    # counters rode along as observed metrics (R11)
    progress = q.lastProgress
    obs = progress["observedMetrics"].get("counters") if progress else None
    if obs:
        assert obs["merged"] == exp_legs["merge"]
        assert obs["purged"] == exp_legs["purge"]


def test_exactly_once_sink_is_idempotent(spark, tmp_path):
    sink = exactly_once_parquet_sink(str(tmp_path / "once"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    sink(df, 7)
    first = spark.read.parquet(str(tmp_path / "once/batch_id=7")).count()
    # replay of the same batch id must be a no-op, not a double-write
    sink(df, 7)
    assert spark.read.parquet(str(tmp_path / "once/batch_id=7")).count() == first == 1


def test_windowed_counts_batch_semantics(spark, records):
    # windowed_counts is a streaming transform but runs on batch frames too
    from kafka_merge_purge_spark.streaming.pipeline import windowed_counts

    out = windowed_counts(records, "1 hour", watermark="1 hour")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == records.count()
    assert all(r["win_end"] > r["win_start"] for r in rows)


def _stage_stream_dir(tmp_path):
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    (stream_dir / "events.parquet").symlink_to(f"{SF_DIR}/events.parquet")
    return str(stream_dir)


def _drain_to_memory(df, name, ckpt, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_retry_budget_state_machine(spark, tmp_path, records):
    from kafka_merge_purge_spark.streaming.stateful import retry_budget_decisions

    stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
    decided = retry_budget_decisions(stream, budget=3)
    _drain_to_memory(decided, "retry_out", str(tmp_path / "ckpt"))
    out = spark.sql("SELECT * FROM retry_out")

    per_key = records.filter(F.col("key").isNotNull()).groupBy("key").count()
    n_keys = per_key.count()
    n_records = per_key.agg(F.sum("count")).collect()[0][0]
    assert out.count() == n_records  # one decision per keyed record

    # per key: attempts number 1..n in offset order; >budget → DEAD
    sample = out.filter(F.col("key") == out.select("key").first()["key"]).orderBy("attempt")
    rows = sample.collect()
    assert [r["attempt"] for r in rows] == list(range(1, len(rows) + 1))
    assert all((r["decision"] == "RETRY") == (r["attempt"] <= 3) for r in rows)
    dead_keys = out.filter(F.col("decision") == "DEAD").select("key").distinct().count()
    expected_dead = per_key.filter(F.col("count") > 3).count()
    assert dead_keys == expected_dead
    assert n_keys > 0


def test_transactional_sink_in_streaming_foreachbatch(spark, tmp_path, records):
    """End-to-end: streaming merge_all drained through the transactional
    Kafka sink protocol (fake producer) — every micro-batch runs exactly
    one begin→sends→sendOffsets→commit cycle with a batch-scoped fencing
    id, and the sent record count matches the batch routing semantics."""
    from kafka_merge_purge_spark.operators.routing import merge_all
    from kafka_merge_purge_spark.streaming.sink import transactional_kafka_batch_fn
    from test_sink_transactions import Factory

    factory = Factory()
    batch_fn = transactional_kafka_batch_fn(
        "b:9092", "kmp-stream", producer_factory=factory, group_id="g-stream"
    )
    stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
    q = streaming_merge_all(
        stream, "events-merged", batch_fn, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    assert factory.producers, "no batch ever ran"
    expected = merge_all(records, "events-merged").count()
    assert sum(len(p.sent) for p in factory.producers) == expected
    for p in factory.producers:
        assert p.transactional_id.startswith("kmp-stream-")
        assert p.calls[0] == "init_transactions"
        assert p.calls[1] == "begin_transaction"
        assert p.calls[-1] == "commit_transaction"
        assert "abort_transaction" not in p.calls


def test_retry_budget_timeout_evicts_state_without_rearming():
    """TTL protocol: a timeout invocation must remove the key's state and
    must NOT update or re-arm the timer (otherwise idle keys hold state
    forever and wake every TTL)."""
    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import make_retry_fn

    class FakeState:
        hasTimedOut = True
        exists = True
        get = (5,)

        def __init__(self):
            self.calls = []

        def remove(self):
            self.calls.append("remove")

        def update(self, v):
            self.calls.append("update")

        def setTimeoutDuration(self, ms):
            self.calls.append("setTimeoutDuration")

    fn = make_retry_fn(budget=3, state_ttl_ms=1000)
    state = FakeState()
    out = list(fn(("k",), iter([pd.DataFrame()]), state))
    assert out == []
    assert state.calls == ["remove"]

    # data invocation on a live state: updates + re-arms, never removes
    live = FakeState()
    live.hasTimedOut = False
    pdf = pd.DataFrame({"key": ["k"], "offset": [7]})
    result = list(fn(("k",), iter([pdf]), live))
    assert len(result) == 1 and list(result[0]["attempt"]) == [6]
    assert live.calls == ["update", "setTimeoutDuration"]


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_streaming_compaction_matches_batch(spark, tmp_path, records):
    """Batch equivalence of the transformWithStateInPandas upsert view.

    With protobuf importable, drives the live stream; otherwise proves the
    SAME state transition through the pure fold_latest/emit_latest the
    processor delegates to, under randomized micro-batch splits — so the
    path is exercised either way (no skip)."""
    from kafka_merge_purge_spark.operators.routing import compaction

    want = {
        (r["key"], r["offset"], r["value"])
        for r in compaction(records).select("key", "offset", "value").collect()
    }

    if _has_protobuf():
        from kafka_merge_purge_spark.streaming.stateful import streaming_compaction

        stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
        compacted = streaming_compaction(stream)
        _drain_to_memory(compacted, "compact_out", str(tmp_path / "ckpt"), output_mode="update")
        got = {
            (r["key"], r["offset"], r["value"])
            for r in spark.sql("SELECT * FROM compact_out").collect()
        }
        assert got == want  # incl. head-tombstone keys absent from both
        return

    import random
    from collections import defaultdict

    from kafka_merge_purge_spark.streaming.stateful import emit_latest, fold_latest

    by_key = defaultdict(list)
    for r in records.filter(F.col("key").isNotNull()).select(
        "key", "offset", "value"
    ).collect():
        by_key[r["key"]].append((r["offset"], r["value"]))

    rng = random.Random(7)
    got = set()
    for key, kv in by_key.items():
        # arbitrary arrival order + arbitrary micro-batch chop: the fold
        # must land on the same final state regardless
        rng.shuffle(kv)
        state = None
        i = 0
        while i < len(kv):
            n = rng.randint(1, 3)
            chunk = kv[i : i + n]
            i += n
            pdfs = [
                pd.DataFrame(
                    {"offset": [o for o, _ in chunk], "value": [v for _, v in chunk]}
                )
            ]
            state = fold_latest(state, iter(pdfs))
        out = emit_latest(key, state)
        if out is not None:
            got.add((key, int(out["offset"][0]), out["value"][0]))
    assert got == want  # head-tombstone keys emit nothing on both sides


def test_purge_lag_audit_stream_stream_join(spark, tmp_path, records):
    from kafka_merge_purge_spark.streaming.pipeline import purge_lag_audit

    stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
    joined = purge_lag_audit(stream, within="30 minutes")
    _drain_to_memory(joined, "lag_out", str(tmp_path / "ckpt"))
    out = spark.sql("SELECT * FROM lag_out")
    n = out.count()
    # batch twin over the same frame logic
    live = records.filter(F.col("value").isNotNull()).selectExpr(
        "key", "offset AS live_offset", "timestamp AS live_ts"
    )
    tombs = records.filter(F.col("value").isNull()).selectExpr(
        "key AS tkey", "timestamp AS tomb_ts"
    )
    expected = live.join(
        tombs,
        (live["key"] == tombs["tkey"])
        & (tombs["tomb_ts"] >= live["live_ts"])
        & (tombs["tomb_ts"] <= F.expr("live_ts + interval 30 minutes")),
    ).count()
    assert n == expected
    assert n > 0
    assert out.filter(F.col("purge_lag_sec") < 0).count() == 0


def test_streaming_dedup_within_watermark(spark, tmp_path, records):
    from kafka_merge_purge_spark.streaming.pipeline import streaming_dedup

    stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
    q = (
        streaming_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM dedup_out")
    # events fixture has unique (key, offset) pairs → dedup preserves all
    assert out.count() == records.dropDuplicates(["key", "offset"]).count()


def test_streaming_session_window_counts(spark, tmp_path, records):
    from kafka_merge_purge_spark.streaming.pipeline import streaming_session_counts

    stream = stream_records_from_dir(spark, _stage_stream_dir(tmp_path))
    q = (
        streaming_session_counts(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT * FROM sess_out")
    assert out.agg(F.sum("n_events")).collect()[0][0] == records.count()
    assert out.filter(F.col("sess_end") <= F.col("sess_start")).count() == 0


def test_checkpoint_resume_processes_only_new_data(spark, tmp_path, records):
    """R14 offset bookkeeping: restarting a drain against the same
    checkpoint must pick up exactly the files added since — no replay,
    no loss (the streaming analog of commitSync's cursor)."""
    from kafka_merge_purge_spark.streaming.pipeline import drain_events_stream
    from kafka_merge_purge_spark.streaming.sink import exactly_once_parquet_sink

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(f"{SF_DIR}/events.parquet")
    half_a = src.filter(F.col("event_id") % 2 == 0)
    half_b = src.filter(F.col("event_id") % 2 == 1)
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()

    def stage(df, name):
        # the file source lists flat files; materialize each half as one
        staging = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(staging))
        part = next(staging.glob("part-*.parquet"))
        part.rename(stream_dir / f"{name}.parquet")

    stage(half_a, "a")

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    from kafka_merge_purge_spark.model import records_from_events
    from kafka_merge_purge_spark.streaming.pipeline import EVENTS_SCHEMA

    def drain():
        ev = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(stream_dir))
            # centralized scale-sniffing conversion (sources/batch.py):
            # Spark restaged this dir as plain INT64 nanos, but a fixed
            # DIV 1000 would silently break if the staging scale changed
            .withColumn("ts", F.expr(epoch_to_micros_expr("ts")))
        )
        q = drain_events_stream(
            records_from_events(ev), exactly_once_parquet_sink(out_dir), ckpt
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(f"{out_dir}/batch_id=*")
    n_first = first.count()
    assert n_first == half_a.count()

    # new file arrives; resume from the same checkpoint
    stage(half_b, "b")
    drain()
    total = spark.read.parquet(f"{out_dir}/batch_id=*")
    assert total.count() == src.count()           # nothing lost
    offsets = [r["offset"] for r in total.select("offset").collect()]
    assert len(offsets) == len(set(offsets))      # nothing replayed


def test_sliding_window_overlaps(spark, records):
    from kafka_merge_purge_spark.streaming.pipeline import windowed_counts

    tumbling = windowed_counts(records, "1 hour", watermark="1 hour")
    sliding = windowed_counts(records, "1 hour", slide="30 minutes", watermark="1 hour")
    # every event lands in window_duration/slide = 2 overlapping windows
    assert sliding.agg(F.sum("n")).collect()[0][0] == 2 * records.count()
    assert sliding.count() > tumbling.count()


def test_multimodal_feature_extraction_plumbing(spark):
    from kafka_merge_purge_spark.operators.multimodal import attach_meta, extract_features

    media = spark.createDataFrame(
        [(1, bytearray(b"abc")), (2, bytearray(b"abcabc")), (3, None)],
        "media_id long, payload binary",
    )
    tagged = attach_meta(media, kind="image", fmt="png")
    assert tagged.schema["meta"].dataType.fieldNames() == [
        "kind", "format", "width", "height", "duration_ms",
    ]
    feats = {r["media_id"]: r for r in extract_features(tagged, fake=True).collect()}
    assert feats[1]["n_bytes"] == 3 and feats[2]["n_bytes"] == 6
    assert len(feats[1]["feature"]) == 8
    assert feats[1]["payload_md5"] != feats[2]["payload_md5"]
    assert feats[3]["n_bytes"] == 0


def test_compaction_duplicate_offset_ties_are_deterministic(spark):
    """Duplicate offsets within a key (possible when a key spans source
    partitions) must resolve identically on the batch window and the
    streaming fold for ANY arrival order and micro-batch chop (r4
    advice): the shared total order is (offset, value) with tombstones
    ranked below every non-null value."""
    import itertools

    from kafka_merge_purge_spark.operators.routing import compaction
    from kafka_merge_purge_spark.streaming.stateful import emit_latest, fold_latest

    rows = [("k", 5, "b"), ("k", 5, "a"), ("k", 5, None), ("k", 3, "z")]
    df = spark.createDataFrame(rows, "key string, offset long, value string")
    batch = compaction(df).select("key", "offset", "value").collect()
    assert [(r["key"], r["offset"], r["value"]) for r in batch] == [("k", 5, "b")]

    for perm in itertools.permutations(rows):
        for cut in range(1, len(perm)):
            state = None
            for chunk in (perm[:cut], perm[cut:]):
                if not chunk:
                    continue
                pdfs = [
                    pd.DataFrame(
                        {
                            "offset": [o for _, o, _ in chunk],
                            "value": [v for _, _, v in chunk],
                        }
                    )
                ]
                state = fold_latest(state, iter(pdfs))
            out = emit_latest("k", state)
            assert out is not None
            assert (int(out["offset"][0]), out["value"][0]) == (5, "b")


def test_contamination_screen_composes_with_streams(spark, tmp_path):
    """Narrow screens (decontamination with explicit benchmark grams)
    run unchanged on a streaming frame — the operator is a pure
    projection, so readStream → screen → sink needs no new code."""
    from kafka_merge_purge_spark.operators.text import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox sleeps"),
            (3, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "docs_in"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "_stage"))
    next((tmp_path / "_stage").glob("part-*.parquet")).rename(src / "docs.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    screened = ngram_contamination(stream, benchmark_grams=["quick brown fox"])
    _drain_to_memory(screened, "contam_out", str(tmp_path / "ckpt"))
    got = {
        r["doc_id"]: (r["n_hits"], r["is_contaminated"])
        for r in spark.sql("SELECT * FROM contam_out").collect()
    }
    batch = {
        r["doc_id"]: (r["n_hits"], r["is_contaminated"])
        for r in ngram_contamination(docs, benchmark_grams=["quick brown fox"]).collect()
    }
    assert got == batch == {1: (1, 1), 2: (1, 1), 3: (0, 0)}


def test_pii_redaction_composes_with_streams(spark, tmp_path):
    """The curation tier's narrow maps (PII redaction) run unchanged on a
    streaming frame — readStream → redact → sink, no new code, and the
    stream's rows match the batch run bit-for-bit."""
    from kafka_merge_purge_spark.operators.curation import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "reach me at jo@example.com or +1-555-123-4567 thanks"),
            (2, "server 192.168.0.1 responded fine"),
            (3, "no sensitive content in this row"),
        ],
        "doc_id long, pii_text string",
    )
    src = tmp_path / "pii_in"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "_stage_pii"))
    next((tmp_path / "_stage_pii").glob("part-*.parquet")).rename(src / "docs.parquet")

    stream = spark.readStream.schema("doc_id long, pii_text string").parquet(str(src))
    redacted = redact_pii(stream)
    _drain_to_memory(redacted, "pii_out", str(tmp_path / "ckpt_pii"))
    got = sorted(map(tuple, spark.sql("SELECT * FROM pii_out").collect()))
    batch = sorted(map(tuple, redact_pii(docs).collect()))
    assert got == batch
    by_id = {r[0]: r for r in got}
    assert "<EMAIL>" in by_id[1][4] and "<PHONE>" in by_id[1][4]
    assert "<IP>" in by_id[2][4]
    assert by_id[3][4] == "no sensitive content in this row"


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """Batch equivalence of the streaming funnel stage machine: the pure
    fold under randomized micro-batch splits of the (ts, event_id)-ordered
    per-user stream reaches exactly operators/analytics.funnel_stages'
    stage.  When protobuf is importable the LIVE
    transformWithStateInPandas stream runs too (same gate as streaming
    compaction); the pure-fold equivalence below runs unconditionally,
    including a multi-chunk batch (the fold must concat chunks before
    sorting — chunk-local sorts replay jitter out of order)."""
    import random
    from datetime import datetime, timedelta

    import pandas as pd

    from kafka_merge_purge_spark.operators.analytics import funnel_stages
    from kafka_merge_purge_spark.streaming.stateful import fold_funnel

    rng = random.Random(11)
    types = ["view", "click", "purchase", "error", "signup"]
    rows = []
    eid = 0
    for u in range(25):
        for _ in range(rng.randint(0, 12)):
            eid += 1
            rows.append(
                (eid, datetime(2024, 1, 1) + timedelta(minutes=rng.randint(0, 500)),
                 u, rng.choice(types), 1.0, "{}")
            )
    # a user with zero events never reaches the stateful operator — the
    # batch query also omits them (no rows → no group), so skip u without rows
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    want = {r["user_id"]: r["funnel_stage"] for r in funnel_stages(df).collect()}

    by_user = {}
    for r in sorted(rows, key=lambda r: (r[1], r[0])):  # (ts, event_id) order
        by_user.setdefault(r[2], []).append(r)
    got = {}
    for u, evs in by_user.items():
        state = None
        i = 0
        while i < len(evs):  # random chop into ordered micro-batches
            j = min(len(evs), i + rng.randint(1, 4))
            batch = pd.DataFrame(
                {"ts": [e[1] for e in evs[i:j]],
                 "event_id": [e[0] for e in evs[i:j]],
                 "event_type": [e[3] for e in evs[i:j]]}
            )
            # shuffle within the batch: intra-batch arrival jitter must
            # not matter (fold re-sorts)
            batch = batch.sample(frac=1.0, random_state=rng.randint(0, 999))
            # randomly hand the batch over as MULTIPLE chunks (Arrow
            # chunking): jitter may cross the chunk boundary, the fold
            # must still replay in (ts, event_id) order
            if len(batch) > 1 and rng.random() < 0.5:
                cut = rng.randint(1, len(batch) - 1)
                chunks = [batch.iloc[:cut], batch.iloc[cut:]]
            else:
                chunks = [batch]
            state = fold_funnel(state, iter(chunks))
            i = j
        got[u] = state[0]  # state is (stage, last_ts, last_eid)
    assert got == want

    if _has_protobuf():
        from kafka_merge_purge_spark.streaming.stateful import streaming_funnel

        src = tmp_path / "funnel_in"
        src.mkdir()
        df.coalesce(1).write.parquet(str(tmp_path / "_stage_funnel"))
        next((tmp_path / "_stage_funnel").glob("part-*.parquet")).rename(
            src / "events.parquet"
        )
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = streaming_funnel(stream)
        _drain_to_memory(out, "funnel_out", str(tmp_path / "ckpt_funnel"),
                         output_mode="update")
        # Update mode emits each user's running stage; the stage is
        # monotone, so the max IS the final stage
        live = {
            r["user_id"]: r["mx"]
            for r in spark.sql(
                "SELECT user_id, MAX(funnel_stage) AS mx FROM funnel_out GROUP BY user_id"
            ).collect()
        }
        assert live == want


def test_streaming_anomaly_scores_match_prefix_batch(spark, tmp_path):
    """Chop-invariance + batch equivalence of the streaming Welford
    anomaly scorer: the pure fold under randomized ordered micro-batch
    splits (with random intra-batch jitter and chunking) equals the
    ordered-prefix reference exactly, and agrees with the batch
    prefix-window z-score query to 1e-3 (Welford vs two-pass moments
    differ only in float rounding).  Live transformWithStateInPandas
    branch when protobuf is importable."""
    import math
    import random
    from datetime import datetime, timedelta

    import pandas as pd
    from pyspark.sql import Window

    from kafka_merge_purge_spark.streaming.stateful import fold_moments

    rng = random.Random(23)
    rows = []
    eid = 0
    for t, tname in enumerate(["click", "view"]):
        for _ in range(40):
            eid += 1
            rows.append(
                (eid, datetime(2024, 1, 1) + timedelta(seconds=eid), 1,
                 tname, round(rng.uniform(0, 100), 3), "{}")
            )

    # ordered-prefix Welford reference
    want = {}
    for tname in ("click", "view"):
        n, mean, m2 = 0, 0.0, 0.0
        for r in sorted((r for r in rows if r[3] == tname), key=lambda r: (r[1], r[0])):
            v = r[4]
            if n >= 2 and m2 > 0:
                want[r[0]] = round((v - mean) / math.sqrt(m2 / (n - 1)), 4)
            else:
                want[r[0]] = None
            n += 1
            d = v - mean
            mean += d / n
            m2 += d * (v - mean)

    # pure fold under randomized ordered chops with intra-batch jitter
    got = {}
    for tname in ("click", "view"):
        evs = sorted((r for r in rows if r[3] == tname), key=lambda r: (r[1], r[0]))
        state, i = None, 0
        while i < len(evs):
            j = min(len(evs), i + rng.randint(1, 7))
            b = pd.DataFrame(
                {"ts": [e[1] for e in evs[i:j]], "event_id": [e[0] for e in evs[i:j]],
                 "value": [e[4] for e in evs[i:j]]}
            ).sample(frac=1.0, random_state=rng.randint(0, 999))
            if len(b) > 1 and rng.random() < 0.5:
                cut = rng.randint(1, len(b) - 1)
                chunks = [b.iloc[:cut], b.iloc[cut:]]
            else:
                chunks = [b]
            state, out = fold_moments(state, iter(chunks))
            for r in out.itertuples():
                got[int(r.event_id)] = r.zscore if pd.notna(r.zscore) else None
            i = j
    assert got == want

    # batch SQL twin: prefix-window z (two-pass moments) within 1e-3
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    batch = df.select(
        "event_id",
        ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias("z"),
    ).collect()
    for r in batch:
        if want[r["event_id"]] is not None and r["z"] is not None:
            assert abs(r["z"] - want[r["event_id"]]) < 1e-3

    if _has_protobuf():
        from kafka_merge_purge_spark.streaming.stateful import streaming_anomaly_scores

        src = tmp_path / "anom_in"
        src.mkdir()
        df.coalesce(1).write.parquet(str(tmp_path / "_stage_anom"))
        next((tmp_path / "_stage_anom").glob("part-*.parquet")).rename(
            src / "events.parquet"
        )
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = streaming_anomaly_scores(stream)
        _drain_to_memory(out, "anom_out", str(tmp_path / "ckpt_anom"))
        live = {
            r["event_id"]: r["zscore"]
            for r in spark.sql("SELECT event_id, zscore FROM anom_out").collect()
        }
        assert live == want


# ------------------------------------------------ state TTL + ordering guard


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeHandle:
    """Enough of StatefulProcessorHandle for the TTL protocol: named
    ValueStates plus a timer set with register/delete/list."""

    def __init__(self):
        self.states = {}
        self.timers = []

    def getValueState(self, name, schema):
        return self.states.setdefault(name, _FakeValueState())

    def registerTimer(self, ts):
        self.timers.append(ts)

    def deleteTimer(self, ts):
        self.timers.remove(ts)

    def listTimers(self):
        return iter(list(self.timers))


def _tv(now_ms):
    from pyspark.sql.streaming.stateful_processor import TimerValues

    return TimerValues(currentProcessingTimeInMs=now_ms)


def _eti(ts_ms):
    from pyspark.sql.streaming.stateful_processor import ExpiredTimerInfo

    return ExpiredTimerInfo(expiryTimeInMs=ts_ms)


def _drive(proc, key, pdf, now_ms):
    import pandas as pd

    return list(proc.handleInputRows(key, iter([pdf]), _tv(now_ms)))


def test_ttl_protocol_compaction_evicts_and_rebuilds():
    """TTL lifecycle on the compaction processor against a fake handle:
    each input batch slides the single eviction timer to last-seen+TTL;
    expiry drops the key's state; the key's next record rebuilds from
    scratch exactly like a first-seen key (r5 verdict item 3)."""
    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import LatestPerKey

    proc = LatestPerKey(ttl_ms := 60_000)
    h = _FakeHandle()
    proc.init(h)

    out = _drive(proc, ("k1",), pd.DataFrame(
        {"key": ["k1", "k1"], "offset": [1, 2], "value": ["a", "b"]}), now_ms=1_000)
    assert out[0]["value"].tolist() == ["b"]
    assert h.timers == [1_000 + ttl_ms]          # armed at now + TTL

    # more input slides the timer (old one deleted, ONE timer live)
    out = _drive(proc, ("k1",), pd.DataFrame(
        {"key": ["k1"], "offset": [3], "value": ["c"]}), now_ms=5_000)
    assert out[0]["value"].tolist() == ["c"]
    assert h.timers == [5_000 + ttl_ms]

    # quiet past the TTL → expiry clears state, emits nothing, no re-arm
    assert list(proc.handleExpiredTimer(("k1",), _tv(70_000), _eti(65_000))) == []
    assert not h.states["latest"].exists()
    assert h.timers == [5_000 + ttl_ms]  # runtime removes fired timers itself

    # next record rebuilds from scratch: offset 1 wins again (history gone)
    out = _drive(proc, ("k1",), pd.DataFrame(
        {"key": ["k1"], "offset": [1], "value": ["z"]}), now_ms=80_000)
    assert out[0]["value"].tolist() == ["z"]
    assert h.states["latest"].get() == (1, "z")


def test_ttl_protocol_funnel_and_moments_evict_and_rebuild():
    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import FunnelPerUser, MomentsPerKey

    ts = pd.Timestamp("2024-01-01")
    proc = FunnelPerUser(1_000)
    h = _FakeHandle()
    proc.init(h)
    out = _drive(proc, (7,), pd.DataFrame(
        {"ts": [ts, ts + pd.Timedelta(seconds=1)], "event_id": [1, 2],
         "event_type": ["view", "click"]}), now_ms=0)
    assert out[0]["funnel_stage"].tolist() == [2]
    assert h.timers == [1_000]
    list(proc.handleExpiredTimer((7,), _tv(2_000), _eti(1_000)))
    assert not h.states["stage"].exists()
    # rebuilt: the user restarts at stage 0 and re-walks from 'view'
    out = _drive(proc, (7,), pd.DataFrame(
        {"ts": [ts + pd.Timedelta(seconds=9)], "event_id": [9],
         "event_type": ["click"]}), now_ms=3_000)
    assert out[0]["funnel_stage"].tolist() == [0]  # click before view: no advance

    proc2 = MomentsPerKey(1_000)
    h2 = _FakeHandle()
    proc2.init(h2)
    out = _drive(proc2, ("click",), pd.DataFrame(
        {"ts": [ts, ts + pd.Timedelta(seconds=1), ts + pd.Timedelta(seconds=2)],
         "event_id": [1, 2, 3], "value": [1.0, 2.0, 3.0]}), now_ms=0)
    assert out[0]["n_seen"].tolist() == [0, 1, 2]
    assert h2.timers == [1_000]
    list(proc2.handleExpiredTimer(("click",), _tv(2_000), _eti(1_000)))
    assert not h2.states["m"].exists()
    out = _drive(proc2, ("click",), pd.DataFrame(
        {"ts": [ts + pd.Timedelta(seconds=9)], "event_id": [9], "value": [4.0]}),
        now_ms=3_000)
    assert out[0]["n_seen"].tolist() == [0]  # moments restarted from n=0


def test_folds_drop_cross_batch_regressors():
    """r5 advice: the (ts, event_id) ordering assumption across batches
    is now ENFORCED — an event at or below the high-water mark is
    dropped deterministically, so a late arrival can never rewrite the
    stage machine or the moments out of order."""
    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import fold_funnel, fold_moments

    ts = pd.Timestamp("2024-01-01")
    b1 = pd.DataFrame({"ts": [ts, ts + pd.Timedelta(seconds=5)],
                       "event_id": [1, 5], "event_type": ["view", "click"]})
    state = fold_funnel(None, iter([b1]))
    assert state[0] == 2
    # a late 'purchase' BETWEEN the applied events regresses the order:
    # dropped (stage unchanged), not applied retroactively
    late = pd.DataFrame({"ts": [ts + pd.Timedelta(seconds=2)],
                         "event_id": [3], "event_type": ["purchase"]})
    state2 = fold_funnel(state, iter([late]))
    assert state2 == state
    # a genuinely-new later event still advances
    nxt = pd.DataFrame({"ts": [ts + pd.Timedelta(seconds=9)],
                        "event_id": [9], "event_type": ["purchase"]})
    assert fold_funnel(state2, iter([nxt]))[0] == 3
    # exact-duplicate redelivery (same ts+event_id) is idempotent
    assert fold_funnel(state2, iter([b1.tail(1)])) == state2

    m1 = pd.DataFrame({"ts": [ts, ts + pd.Timedelta(seconds=5)],
                       "event_id": [1, 5], "value": [1.0, 3.0]})
    mstate, _ = fold_moments(None, iter([m1]))
    late_m = pd.DataFrame({"ts": [ts + pd.Timedelta(seconds=2)],
                           "event_id": [3], "value": [100.0]})
    mstate2, out = fold_moments(mstate, iter([late_m]))
    assert mstate2 == mstate and len(out) == 0  # dropped: not scored, not folded
    nxt_m = pd.DataFrame({"ts": [ts + pd.Timedelta(seconds=9)],
                          "event_id": [9], "value": [2.0]})
    mstate3, out3 = fold_moments(mstate2, iter([nxt_m]))
    assert out3["n_seen"].tolist() == [2]  # the regressor never entered n


def test_streaming_heavy_hitters_chop_invariant_and_ttl():
    """Streaming Misra-Gries: (1) folding one ordered stream through ANY
    randomized batch chop equals the single-pass fold (MG is sequential,
    so chop-invariance is by construction — but the chunk-concat +
    regressor guard must not break it); (2) weights are lower bounds on
    true counts and the dominant item ranks first; (3) the TTL protocol
    evicts and the key rebuilds from scratch."""
    import random

    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import (
        HeavyHittersPerKey,
        emit_heavy_hitters,
        fold_heavy_hitters,
    )

    rng = random.Random(31)
    ts0 = pd.Timestamp("2024-01-01")
    items = ["hot"] * 50 + [f"v{i}" for i in range(40)]
    rng.shuffle(items)
    evs = [(ts0 + pd.Timedelta(seconds=i), i + 1, it) for i, it in enumerate(items)]

    def mk(batch_rows):
        return pd.DataFrame(
            {"ts": [e[0] for e in batch_rows], "event_id": [e[1] for e in batch_rows],
             "item": [e[2] for e in batch_rows]}
        )

    one_pass = fold_heavy_hitters(None, iter([mk(evs)]), capacity=16)
    state, i = None, 0
    while i < len(evs):
        j = min(len(evs), i + rng.randint(1, 7))
        b = mk(evs[i:j]).sample(frac=1.0, random_state=rng.randint(0, 999))
        chunks = [b.iloc[: len(b) // 2], b.iloc[len(b) // 2:]] if len(b) > 1 else [b]
        state = fold_heavy_hitters(state, iter(chunks), capacity=16)
        i = j
    assert state[0] == one_pass[0]          # chop-invariant summary
    true = {it: items.count(it) for it in set(items)}
    for it, w in state[0].items():
        assert w <= true[it]                # lower bounds
    top = emit_heavy_hitters("click", state[0], k=3)
    assert top["item"].iloc[0] == "hot" and top["rank"].tolist() == [1, 2, 3]

    proc = HeavyHittersPerKey(k=2, capacity=8, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows(("click",), iter([mk(evs[:20])]), _tv(0)))
    assert len(out) == 1 and out[0]["rank"].tolist()[0] == 1
    assert h.timers == [1_000]
    list(proc.handleExpiredTimer(("click",), _tv(2_000), _eti(1_000)))
    assert not h.states["hh"].exists()
    out = list(proc.handleInputRows(
        ("click",), iter([mk(evs[20:22])]), _tv(3_000)))
    # rebuilt from scratch: exactly the 2 post-eviction events counted
    assert h.states["hh"].get()[0] and sum(h.states["hh"].get()[0].values()) == 2


# ------------------------------------------- streaming MinHash near-dup


def _neardup_corpus(spark):
    """documents subset + mutated near-copies: the copies guarantee the
    (16 hashes, 4 bands, k=3) band join actually collides, so the
    equivalence assertions below never pass vacuously."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").rlike("[a-zA-Z0-9]"))
        .limit(120)
        .select("doc_id", "text")
    )
    mutated = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    return docs.unionByName(mutated)


def test_banded_signature_stream_bit_parity(spark):
    """The streaming banding prefix is the batch band math bit-for-bit:
    (id, band, band_key) from banded_signature_stream equals
    _banded_minhash_keys on the same rows, the riding signature
    reassembles each band key exactly, and the id column keeps the
    caller's dtype (ADVICE r8: the schema was hardcoded long)."""
    from kafka_merge_purge_spark.operators.dedup import (
        _banded_minhash_keys,
        shingle_frame,
    )
    from kafka_merge_purge_spark.streaming.stateful import banded_signature_stream

    docs = _neardup_corpus(spark)
    stream_rows = banded_signature_stream(docs, num_hashes=16, bands=4, k=3).collect()
    got = {(r["id"], r["band"], r["band_key"]) for r in stream_rows}
    want = {
        (r["id"], r["band"], r["band_key"])
        for r in _banded_minhash_keys(
            shingle_frame(docs, "text", "doc_id", 3), 16, 4
        ).collect()
    }
    assert got and got == want
    for r in stream_rows:
        lo = r["band"] * 4  # rows_per_band = 16 // 4
        assert "_".join(str(s) for s in r["sig"][lo : lo + 4]) == r["band_key"]

    sdocs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    sframe = banded_signature_stream(sdocs, num_hashes=8, bands=2, k=3)
    assert dict(sframe.dtypes)["id"] == "string"
    srow = sframe.limit(1).collect()[0]
    assert isinstance(srow["id"], str)


def test_streaming_minhash_fold_matches_batch_candidates(spark):
    """Batch equivalence of the streaming near-dup fold under randomized
    chopped replays (the fold_funnel pattern): for every (band, band_key)
    bucket, 20 randomized orderings × chops × chunkings × redeliveries
    through fold_band_pairs emit exactly the batch operator's candidate
    pair set (minhash_lsh_pairs at jaccard_threshold=0.0 — the full
    band-join candidates), and every emitted est_jaccard is the
    signature-agreement fraction recomputed independently."""
    import random

    from kafka_merge_purge_spark.operators import dedup as dd
    from kafka_merge_purge_spark.streaming.stateful import (
        banded_signature_stream,
        fold_band_pairs,
    )

    docs = _neardup_corpus(spark)
    NH, NB, K = 16, 4, 3
    batch = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            docs, num_hashes=NH, bands=NB, k=K,
            jaccard_threshold=0.0,
        ).collect()
    }
    assert batch  # corpus must exercise the band join

    rows = banded_signature_stream(docs, num_hashes=NH, bands=NB, k=K).collect()
    sigs = {r["id"]: list(r["sig"]) for r in rows}
    buckets: dict = {}
    for r in rows:
        buckets.setdefault((r["band"], r["band_key"]), []).append(r["id"])

    rng = random.Random(17)
    for _ in range(20):
        got: dict = {}
        for members in buckets.values():
            order = members[:]
            rng.shuffle(order)
            if len(order) > 1 and rng.random() < 0.5:
                # redelivery: an already-folded id arrives again later
                order.append(order[rng.randrange(len(order) - 1)])
            state, i = None, 0
            while i < len(order):
                j = min(len(order), i + rng.randint(1, 3))
                pdf = pd.DataFrame(
                    {"id": order[i:j], "sig": [sigs[m] for m in order[i:j]]}
                )
                chunks = (
                    [pdf.iloc[:1], pdf.iloc[1:]]
                    if len(pdf) > 1 and rng.random() < 0.5
                    else [pdf]
                )
                state, pairs = fold_band_pairs(
                    state, iter(chunks), num_hashes=NH,
                    est_threshold=0.0, cap=10_000,
                )
                for a, b, est in pairs:
                    assert a < b
                    got[(a, b)] = est
                i = j
            # the persisted state is a deterministic function of the ids
            # seen, not of the replay order
            assert state[0] == sorted(set(members))
        assert set(got) == batch
        for (a, b), est in got.items():
            m = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
            assert est == round(m / NH, 6)

    # thresholding: est_threshold=0.5 emits exactly the ≥0.5 subset
    half: set = set()
    for members in buckets.values():
        state, i, order = None, 0, sorted(set(members))
        pdf = pd.DataFrame({"id": order, "sig": [sigs[m] for m in order]})
        _, pairs = fold_band_pairs(
            None, iter([pdf]), num_hashes=NH, est_threshold=0.5, cap=10_000
        )
        half.update((a, b) for a, b, _ in pairs)
    want_half = {
        (a, b)
        for (a, b) in batch
        if sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y) / NH >= 0.5
    }
    assert half == want_half


def test_streaming_minhash_cap_semantics():
    """Bounded-state semantics of fold_band_pairs at cap overflow: the
    cap keeps the LOWEST ids, applied at end-of-batch — so a single
    batch emits all pairs, while the same ids chopped so an above-cap
    resident is evicted before its partner arrives drop exactly that
    pair (the documented chop-divergence of the overflow regime).
    Also: redelivery is a no-op, and string ids ride the same machinery
    (ADVICE r8)."""
    from kafka_merge_purge_spark.streaming.stateful import fold_band_pairs

    NH = 4
    sig = {i: [i * 10 + j for j in range(NH)] for i in (1, 2, 3, 4)}

    def pdf(ids):
        return pd.DataFrame({"id": ids, "sig": [sig[i] for i in ids]})

    # one batch: every pair emits, then the cap trims to the lowest ids
    state, pairs = fold_band_pairs(
        None, iter([pdf([4, 2, 1, 3])]), num_hashes=NH, est_threshold=0.0, cap=2
    )
    assert {(a, b) for a, b, _ in pairs} == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    }
    assert state[0] == [1, 2]

    # chopped: 3 is evicted (cap trims to {1,2}) before 4 arrives → (3,4)
    # is dropped; everything else still emits
    state, p1 = fold_band_pairs(
        None, iter([pdf([2, 3])]), num_hashes=NH, est_threshold=0.0, cap=2)
    state, p2 = fold_band_pairs(
        state, iter([pdf([1])]), num_hashes=NH, est_threshold=0.0, cap=2)
    state, p3 = fold_band_pairs(
        state, iter([pdf([4])]), num_hashes=NH, est_threshold=0.0, cap=2)
    got = {(a, b) for a, b, _ in p1 + p2 + p3}
    assert got == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)}
    assert state[0] == [1, 2]

    # redelivered resident: no pairs, state unchanged
    state2, pr = fold_band_pairs(
        state, iter([pdf([1])]), num_hashes=NH, est_threshold=0.0, cap=2)
    assert pr == [] and state2 == state

    # string ids: identical signatures pair at est 1.0; cap is the
    # lexicographically lowest ids
    sp = pd.DataFrame({"id": ["c", "a", "b"], "sig": [[1, 2, 3, 4]] * 3})
    st, ps = fold_band_pairs(None, iter([sp]), num_hashes=NH,
                             est_threshold=0.5, cap=2)
    assert {(a, b) for a, b, _ in ps} == {("a", "b"), ("a", "c"), ("b", "c")}
    assert st[0] == ["a", "b"] and all(e == 1.0 for _, _, e in ps)


def test_band_neardup_processor_ttl_protocol():
    """BandNearDupPairs against the fake handle: pairs emit through the
    ValueState round-trip, TTL expiry drops the bucket, and the next
    arrival rebuilds from scratch (no pairs against pre-expiry
    residents) — the same lifecycle every sibling processor pins."""
    from kafka_merge_purge_spark.streaming.stateful import BandNearDupPairs

    NH = 4

    def pdf(ids):
        return pd.DataFrame({"id": ids, "sig": [[1, 2, 3, 4]] * len(ids)})

    proc = BandNearDupPairs(num_hashes=NH, est_threshold=0.0, cap=8, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows((0, "key"), iter([pdf([1, 2])]), _tv(0)))
    assert len(out) == 1
    assert out[0][["id_a", "id_b"]].values.tolist() == [[1, 2]]
    assert h.timers == [1_000]
    # second batch pairs against the round-tripped residents
    out = list(proc.handleInputRows((0, "key"), iter([pdf([3])]), _tv(100)))
    assert out[0][["id_a", "id_b"]].values.tolist() == [[1, 3], [2, 3]]
    # expiry drops the bucket; the next arrival sees an empty state
    list(proc.handleExpiredTimer((0, "key"), _tv(2_000), _eti(1_100)))
    assert not h.states["bucket"].exists()
    out = list(proc.handleInputRows((0, "key"), iter([pdf([9])]), _tv(3_000)))
    assert out == []  # no residents survived the eviction
    assert list(h.states["bucket"].get()[0]) == [9]


# ------------------------------------------- streaming Hamming near-dup


def test_streaming_hamming_matches_batch_image_neardup(spark):
    """r8 verdict item 6 (streaming image dedup): the Hamming twin of
    the MinHash stream — aHash fingerprints banded by the LITERALLY
    shared dedup.hamming_banded_frame, per-bucket fold_hamming_pairs
    under randomized chopped replays — emits exactly the batch
    image_neardup_pairs set (exact verify in both, pigeonhole exact
    recall), on a corpus of synthesized PGMs with planted exact and
    near copies."""
    import random

    from kafka_merge_purge_spark.operators import multimodal as mm
    from kafka_merge_purge_spark.operators.dedup import hamming_banded_frame
    from kafka_merge_purge_spark.streaming.stateful import fold_hamming_pairs

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .limit(60)
        .collect()
    ]
    rows = [(i, mm.synth_pgm(t.encode(), width=16)) for i, t in docs]
    # planted exact copies (hamming 0) and near copies (one char changed)
    rows += [(i + 100000, mm.synth_pgm(t.encode(), width=16)) for i, t in docs[:20]]
    rows += [
        (i + 200000, mm.synth_pgm((t[:-1] + "#").encode(), width=16))
        for i, t in docs[:20]
    ]
    images = spark.createDataFrame(rows, "media_id long, payload binary")

    batch = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_neardup_pairs(images, max_hamming=6).collect()
    }
    assert batch  # the planted copies guarantee pairs

    fps = mm.decode_image_ahash(images)
    banded = hamming_banded_frame(fps, "media_id", "ahash", 56, 6).collect()
    buckets: dict = {}
    for r in banded:
        buckets.setdefault((r["band"], r["band_key"]), []).append(
            (r["id"], r["fp"])
        )

    rng = random.Random(7)
    for _ in range(10):
        got: dict = {}
        for members in buckets.values():
            order = members[:]
            rng.shuffle(order)
            if len(order) > 1 and rng.random() < 0.5:
                order.append(order[rng.randrange(len(order) - 1)])  # redelivery
            state, i = None, 0
            while i < len(order):
                j = min(len(order), i + rng.randint(1, 3))
                pdf = pd.DataFrame(
                    {"id": [m[0] for m in order[i:j]], "fp": [m[1] for m in order[i:j]]}
                )
                chunks = (
                    [pdf.iloc[:1], pdf.iloc[1:]]
                    if len(pdf) > 1 and rng.random() < 0.5
                    else [pdf]
                )
                state, pairs = fold_hamming_pairs(
                    state, iter(chunks), max_hamming=6, cap=10_000
                )
                for a, b, h in pairs:
                    assert a < b
                    got[(a, b)] = h
                i = j
            assert state[0] == sorted({m[0] for m in members})
        assert got == batch  # distances too, not just the pair set

    # cap-overflow divergence + string ids, quickly (the MinHash twin
    # pins the full matrix; the fold shares its skeleton)
    def pdf(ids):
        return pd.DataFrame({"id": ids, "fp": [0] * len(ids)})

    st, p = fold_hamming_pairs(None, iter([pdf([2, 3])]), cap=2)
    st, _ = fold_hamming_pairs(st, iter([pdf([1])]), cap=2)
    st, p3 = fold_hamming_pairs(st, iter([pdf([4])]), cap=2)
    assert {(a, b) for a, b, _ in p3} == {(1, 4), (2, 4)}  # (3,4) evicted
    sp = pd.DataFrame({"id": ["b", "a"], "fp": [5, 7]})
    st, ps = fold_hamming_pairs(None, iter([sp]), max_hamming=1, cap=8)
    assert ps == [("a", "b", 1)] and st[0] == ["a", "b"]


def test_hamming_neardup_processor_ttl_protocol():
    """HammingNearDupPairs lifecycle on the fake handle: state
    round-trip, TTL eviction, from-scratch rebuild."""
    from kafka_merge_purge_spark.streaming.stateful import HammingNearDupPairs

    def pdf(ids, fp=0):
        return pd.DataFrame({"id": ids, "fp": [fp] * len(ids)})

    proc = HammingNearDupPairs(max_hamming=2, cap=8, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows((0, 0), iter([pdf([1, 2])]), _tv(0)))
    assert out[0][["id_a", "id_b", "hamming"]].values.tolist() == [[1, 2, 0]]
    assert h.timers == [1_000]
    out = list(proc.handleInputRows((0, 0), iter([pdf([3])]), _tv(100)))
    assert out[0][["id_a", "id_b"]].values.tolist() == [[1, 3], [2, 3]]
    list(proc.handleExpiredTimer((0, 0), _tv(2_000), _eti(1_100)))
    assert not h.states["bucket"].exists()
    assert list(proc.handleInputRows((0, 0), iter([pdf([9])]), _tv(3_000))) == []
    assert list(h.states["bucket"].get()[0]) == [9]


# ------------------------------------------- streaming semantic near-dup


def test_streaming_semantic_matches_batch_semantic_dedup(spark):
    """r9 (streaming dedup triad, embedding leg): quantized_cell_stream
    assigns arriving vectors to the STORED centroids exactly as the
    batch assign (well-separated planted clusters — no boundary
    ambiguity between the literal and GEMM distance forms), and 10×
    randomized chopped replays of fold_cell_pairs emit a pair set whose
    max-side ids equal semantic_dedup's pruned set, with every cosine
    recomputed independently from the quantized vectors."""
    import random

    import numpy as np

    from kafka_merge_purge_spark.operators import dedup as dd
    from kafka_merge_purge_spark.operators.cluster import kmeans_assign
    from kafka_merge_purge_spark.streaming.stateful import (
        fold_cell_pairs,
        quantized_cell_stream,
    )

    rng = random.Random(19)
    centers = [[5.0, 0.0, 0.0, 0.0], [0.0, 5.0, 0.0, 0.0], [0.0, 0.0, 5.0, 0.0]]
    rows = []
    for i in range(90):
        base = centers[i % 3]
        v = [x + rng.gauss(0, 0.3) for x in base]
        rows.append((i, v))
        if i % 5 == 0:  # planted near-dup (cos ≈ 1 within the cell)
            rows.append((i + 1000, [x * (1 + rng.gauss(0, 0.0005)) for x in v]))
    rows.append((9999, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    TH = 0.99
    batch = {
        r["vec_id"]: r
        for r in dd.semantic_dedup(emb, threshold=TH, centroids=centers).collect()
    }
    batch_dropped = {i for i, r in batch.items() if r["is_kept"] == 0}
    assert batch_dropped  # planted copies guarantee prunes

    tagged = quantized_cell_stream(emb, centers).collect()
    assert 9999 not in {r["id"] for r in tagged}  # NULL vector dropped
    # cell assignment parity with the batch operator's assign
    bcells = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(emb, centroids=centers).collect()
        if r["cluster_id"] is not None
    }
    assert {r["id"]: r["cell_id"] for r in tagged} == bcells

    buckets: dict = {}
    qvs: dict = {}
    for r in tagged:
        buckets.setdefault(r["cell_id"], []).append(r["id"])
        qvs[r["id"]] = list(r["qv"])

    rng2 = random.Random(23)
    for _ in range(10):
        got: dict = {}
        for members in buckets.values():
            order = members[:]
            rng2.shuffle(order)
            if len(order) > 1 and rng2.random() < 0.5:
                order.append(order[rng2.randrange(len(order) - 1)])  # redelivery
            state, i = None, 0
            while i < len(order):
                j = min(len(order), i + rng2.randint(1, 3))
                pdf = pd.DataFrame(
                    {"id": order[i:j], "qv": [qvs[m] for m in order[i:j]]}
                )
                chunks = (
                    [pdf.iloc[:1], pdf.iloc[1:]]
                    if len(pdf) > 1 and rng2.random() < 0.5
                    else [pdf]
                )
                state, pairs = fold_cell_pairs(
                    state, iter(chunks), threshold=TH, cap=100_000
                )
                for a, b, c in pairs:
                    assert a < b
                    got[(a, b)] = c
                i = j
            assert state[0] == sorted(set(members))
        assert {b for _, b in got} == batch_dropped
        for (a, b), c in got.items():
            qa = np.asarray(qvs[a], dtype=np.int64)
            qb = np.asarray(qvs[b], dtype=np.int64)
            want = float(np.round(
                (qa @ qb) / (np.sqrt((qa * qa).sum()) * np.sqrt((qb * qb).sum())), 6
            ))
            assert c == want and c >= TH

    # cap semantics: the lowest ids survive; a split that evicts a
    # resident before its partner arrives drops exactly that pair
    sig = {i: [1_000_000, 0, 0, i] for i in (1, 2, 3, 4)}  # cos≈1 pairs

    def pdf(ids):
        return pd.DataFrame({"id": ids, "qv": [sig[i] for i in ids]})

    st, p = fold_cell_pairs(None, iter([pdf([4, 2, 1, 3])]), threshold=0.9, cap=2)
    assert {(a, b) for a, b, _ in p} == {
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert st[0] == [1, 2]
    st, p1 = fold_cell_pairs(None, iter([pdf([2, 3])]), threshold=0.9, cap=2)
    st, p2 = fold_cell_pairs(st, iter([pdf([1])]), threshold=0.9, cap=2)
    st, p3 = fold_cell_pairs(st, iter([pdf([4])]), threshold=0.9, cap=2)
    got3 = {(a, b) for a, b, _ in p1 + p2 + p3}
    assert got3 == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)}  # (3,4) evicted


def test_cell_neardup_processor_ttl_protocol():
    """CellNearDupPairs lifecycle on the fake handle: pairs emit through
    the (ids, dim, qvs) ValueState round-trip, TTL expiry drops the
    cell, rebuild starts empty."""
    from kafka_merge_purge_spark.streaming.stateful import CellNearDupPairs

    def pdf(ids):
        return pd.DataFrame({"id": ids, "qv": [[1000, 2000]] * len(ids)})

    proc = CellNearDupPairs(threshold=0.9, cap=8, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows((1,), iter([pdf([1, 2])]), _tv(0)))
    assert out[0][["id_a", "id_b"]].values.tolist() == [[1, 2]]
    assert out[0]["cos"].tolist() == [1.0]
    assert h.timers == [1_000]
    out = list(proc.handleInputRows((1,), iter([pdf([3])]), _tv(100)))
    assert out[0][["id_a", "id_b"]].values.tolist() == [[1, 3], [2, 3]]
    list(proc.handleExpiredTimer((1,), _tv(2_000), _eti(1_100)))
    assert not h.states["bucket"].exists()
    assert list(proc.handleInputRows((1,), iter([pdf([9])]), _tv(3_000))) == []
    assert list(h.states["bucket"].get()[0]) == [9]


def test_streaming_kmv_chop_invariant_and_ttl():
    """Streaming KMV distinct sketch: (1) the set-union fold is
    order-independent AND redelivery-idempotent outright — ANY chop,
    shuffle, or duplication of the input folds to the identical bottom-k
    state (a strictly stronger invariance class than the ordered folds:
    no high-water mark involved); (2) the state is exactly the k
    smallest (md5, value) pairs over the distinct items; (3) the
    estimate rule is exact below capacity; (4) the TTL protocol evicts
    and the key rebuilds from scratch."""
    import hashlib
    import random

    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import (
        KmvDistinctPerKey,
        emit_kmv,
        fold_kmv,
    )

    rng = random.Random(47)
    items = [f"item{i}" for i in range(60)] * 2  # duplicates built in
    rng.shuffle(items)

    def mk(batch_items):
        return pd.DataFrame({"item": batch_items})

    one_pass = fold_kmv(None, iter([mk(items)]), k=16)
    for _ in range(20):
        order = items[:]
        rng.shuffle(order)
        # random chop + per-batch chunking + random redeliveries
        state, i = None, 0
        while i < len(order):
            j = min(len(order), i + rng.randint(1, 9))
            b = order[i:j]
            if rng.random() < 0.3:
                b = b + order[max(0, i - 3):i]  # redeliver a recent slice
            chunks = [mk(b[: len(b) // 2]), mk(b[len(b) // 2:])]
            state = fold_kmv(state, iter(chunks), k=16)
            i = j
        assert state == one_pass

    # state is exactly the k smallest (md5, value) pairs over distincts
    expect = sorted(
        ((hashlib.md5(v.encode()).hexdigest(), v) for v in set(items))
    )[:16]
    assert sorted((h, v) for v, h in one_pass.items()) == expect

    # exact below capacity
    small = fold_kmv(None, iter([mk(items)]), k=256)
    out = emit_kmv("k", small, 256)
    assert out["distinct_est"].iloc[0] == 60 and out["n_entries"].iloc[0] == 60
    assert out["min_hash"].iloc[0] == expect[0][0]

    # TTL protocol: evict, then rebuild from scratch
    proc = KmvDistinctPerKey(k=16, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows(("k",), iter([mk(items[:30])]), _tv(0)))
    assert len(out) == 1 and h.timers == [1_000]
    list(proc.handleExpiredTimer(("k",), _tv(2_000), _eti(1_000)))
    assert not h.states["kmv"].exists()
    out = list(proc.handleInputRows(("k",), iter([mk(["a", "b", "a"])]), _tv(3_000)))
    assert out[0]["distinct_est"].iloc[0] == 2
    assert h.states["kmv"].get()[0] == fold_kmv(None, iter([mk(["a", "b"])]), k=16)


def test_streaming_mp_quantiles_chop_invariant_and_ttl():
    """Streaming Munro-Paterson quantiles: (1) folding one ordered
    stream through ANY randomized batch chop (with mid-stream
    redeliveries dropped by the high-water mark) equals the single-pass
    fold — digest AND emitted quantiles; (2) the fold's digest equals a
    direct sequential mp_update replay (batch-twin parity via the
    shared kernel); (3) the estimates respect the digest error bound;
    (4) the TTL protocol evicts and the key rebuilds from scratch."""
    import random

    import pandas as pd

    from kafka_merge_purge_spark.operators.sketch import mp_new, mp_update
    from kafka_merge_purge_spark.streaming.stateful import (
        MpQuantilesPerKey,
        emit_mp,
        fold_mp,
    )

    rng = random.Random(83)
    ts0 = pd.Timestamp("2024-01-01")
    vals = [round(rng.gauss(50, 20), 4) for _ in range(400)]
    evs = [(ts0 + pd.Timedelta(seconds=i), i + 1, v) for i, v in enumerate(vals)]

    def mk(rows):
        return pd.DataFrame(
            {"ts": [e[0] for e in rows], "event_id": [e[1] for e in rows],
             "value": [e[2] for e in rows]}
        )

    one_pass = fold_mp(None, iter([mk(evs)]), k=32)

    # direct kernel replay == the fold (shared-kernel parity)
    direct = mp_new()
    for _, _, v in evs:
        mp_update(direct, v, 32)
    assert one_pass[0] == direct

    for _ in range(15):
        state, i = None, 0
        while i < len(evs):
            j = min(len(evs), i + rng.randint(1, 13))
            b = evs[i:j]
            if rng.random() < 0.3:
                b = evs[max(0, i - 4):i] + b  # redelivery: regressors dropped
            bdf = mk(b).sample(frac=1.0, random_state=rng.randint(0, 999))
            chunks = [bdf.iloc[: len(bdf) // 2], bdf.iloc[len(bdf) // 2:]]
            state = fold_mp(state, iter(chunks), k=32)
            i = j
        assert state[0] == one_pass[0]
        assert emit_mp("k", state[0]).equals(emit_mp("k", one_pass[0]))

    out = emit_mp("lat", one_pass[0])
    assert out["n"].iloc[0] == 400
    s = sorted(vals)
    for q, col in ((0.25, "q_25"), (0.5, "q_5"), (0.75, "q_75"), (0.875, "q_875")):
        est = out[col].iloc[0]
        true_rank = sum(1 for v in s if v <= est)
        assert abs(true_rank - q * 400) <= 0.15 * 400  # k=32 is coarse

    proc = MpQuantilesPerKey(k=32, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows(("lat",), iter([mk(evs[:100])]), _tv(0)))
    assert len(out) == 1 and out[0]["n"].iloc[0] == 100
    assert h.timers == [1_000]
    list(proc.handleExpiredTimer(("lat",), _tv(2_000), _eti(1_000)))
    assert not h.states["mp"].exists()
    out = list(proc.handleInputRows(("lat",), iter([mk(evs[100:103])]), _tv(3_000)))
    assert out[0]["n"].iloc[0] == 3  # rebuilt from scratch


def test_streaming_scd2_matches_batch_history(spark):
    """Streaming SCD2: (1) under randomized chops with redeliveries the
    emitted closed-version stream and the final open version equal the
    single-pass fold; (2) closed rows ∪ open row == the batch
    scd2_history of the same events (valid_to NULL = the open row),
    incl. NULL→value / value→NULL transitions counting as changes and
    duplicate timestamps resolved by the event-id tiebreak; (3) the
    TTL protocol evicts and the key rebuilds."""
    import random

    import pandas as pd

    from kafka_merge_purge_spark.operators.snapshot import scd2_history
    from kafka_merge_purge_spark.streaming.stateful import Scd2PerKey, fold_scd2

    rng = random.Random(97)
    ts0 = pd.Timestamp("2024-01-01")
    attrs_pool = ["red", "blue", None]
    evs = []
    for i in range(120):
        # duplicate timestamps every 10th event exercise the tiebreak
        ts = ts0 + pd.Timedelta(minutes=i - (1 if i % 10 == 0 and i else 0))
        evs.append((ts, i + 1, rng.choice(attrs_pool), rng.randint(0, 2)))

    def mk(rows):
        return pd.DataFrame(
            {"ts": [e[0] for e in rows], "event_id": [e[1] for e in rows],
             "color": [e[2] for e in rows], "size": [e[3] for e in rows]}
        )

    cols = ("color", "size")
    one_state, one_closed = fold_scd2(None, iter([mk(evs)]), cols)

    for _ in range(15):
        state, closed, i = None, [], 0
        while i < len(evs):
            j = min(len(evs), i + rng.randint(1, 11))
            b = evs[i:j]
            if rng.random() < 0.3:
                b = evs[max(0, i - 3):i] + b  # redelivered regressors dropped
            bdf = mk(b).sample(frac=1.0, random_state=rng.randint(0, 999))
            state, got = fold_scd2(
                state, iter([bdf.iloc[: len(bdf) // 2], bdf.iloc[len(bdf) // 2:]]), cols
            )
            closed += got
            i = j
        assert state == one_state and closed == one_closed

    # batch equivalence: closed ∪ open == scd2_history
    df = spark.createDataFrame(
        [("k", e[0].to_pydatetime(), e[1], e[2], e[3]) for e in evs],
        "k string, ts timestamp, event_id long, color string, size long",
    )
    hist = scd2_history(df, "k", "ts", ["color", "size"], order_tiebreak="event_id")
    batch_rows = {
        ((r["color"], r["size"]), pd.Timestamp(r["valid_from"]),
         None if r["valid_to"] is None else pd.Timestamp(r["valid_to"]), r["version"])
        for r in hist.collect()
    }
    stream_rows = {
        (a, pd.Timestamp(vf), pd.Timestamp(vt), ver) for a, vf, vt, ver in one_closed
    }
    open_attrs, open_from, open_ver = one_state[0], one_state[1], one_state[2]
    stream_rows.add((open_attrs, pd.Timestamp(open_from), None, open_ver))
    assert stream_rows == batch_rows

    # TTL protocol
    proc = Scd2PerKey("string", cols, ("string", "long"), ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(proc.handleInputRows(("k",), iter([mk(evs[:30])]), _tv(0)))
    assert out and h.timers == [1_000]
    list(proc.handleExpiredTimer(("k",), _tv(2_000), _eti(1_000)))
    assert not h.states["open"].exists()
    out = list(proc.handleInputRows(("k",), iter([mk(evs[30:32])]), _tv(3_000)))
    st = tuple(h.states["open"].get())
    rebuilt, _ = fold_scd2(None, iter([mk(evs[30:32])]), cols)
    # rebuilt from scratch: state equals a fresh fold of only the
    # post-eviction events (version counter restarted)
    assert (tuple(st[:2]), st[2], st[3]) == (rebuilt[0], rebuilt[1], rebuilt[2])


def test_quality_classifier_composes_with_streams(spark, tmp_path):
    """Pin the r9 claim that the kernel-form quality classifier is
    streaming-composable: zero shuffles and no state means
    readStream → quality_classifier → sink runs unchanged, and the
    stream's scores match the batch run bit-for-bit (exact int64 dot,
    JVM-side sigmoid)."""
    from kafka_merge_purge_spark.operators.curation import quality_classifier

    docs = spark.createDataFrame(
        [
            (1, "clean well formed prose with verbs and structure"),
            (2, "buy now cheap pills CLICK HERE !!!"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    weights = [((i * 37) % 21 - 10) / 10.0 for i in range(64)]
    src = tmp_path / "qc_in"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "_stage_qc"))
    next((tmp_path / "_stage_qc").glob("part-*.parquet")).rename(src / "docs.parquet")

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    scored = quality_classifier(stream, weights, bias=0.05)
    _drain_to_memory(scored, "qc_out", str(tmp_path / "ckpt_qc"))
    got = sorted(map(tuple, spark.sql("SELECT * FROM qc_out").collect()))
    batch = sorted(map(tuple, quality_classifier(docs, weights, bias=0.05).collect()))
    # empty/NULL text rows are dropped by the classifier contract on
    # both paths; the scorable rows match bit-for-bit
    assert got == batch and [r[0] for r in got] == [1, 2]


def test_fold_hamming_negative_int64_matches_jvm_popcount(spark):
    """r9 ADVICE (medium): full 64-bit fingerprints set bit 63, so the
    int64 is NEGATIVE; the batch path popcounts the two's-complement
    xor (F.bit_count), and the fold must mask the Python xor to the
    64-bit pattern before bit_count() — unmasked, Python counts the
    sign-extended magnitude and silently adds/drops pairs."""
    from kafka_merge_purge_spark.streaming.stateful import fold_hamming_pairs

    fps = [-1, 0, -(1 << 63), (1 << 63) - 1, -6148914691236517206, 123456789]
    pdf = pd.DataFrame({"id": list(range(len(fps))), "fp": fps})
    _, pairs = fold_hamming_pairs(None, iter([pdf]), max_hamming=64, cap=100)
    got = {(a, b): h for a, b, h in pairs}
    assert len(got) == len(fps) * (len(fps) - 1) // 2  # 64-cut passes all
    assert got[(0, 1)] == 64  # -1 ^ 0 = all 64 bits (unmasked would say 1)

    rows = (
        spark.createDataFrame(
            [
                (a, b, fps[a], fps[b])
                for a in range(len(fps))
                for b in range(a + 1, len(fps))
            ],
            "a long, b long, fa long, fb long",
        )
        .select("a", "b", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("h"))
        .collect()
    )
    assert got == {(r["a"], r["b"]): r["h"] for r in rows}

    # a tight threshold now keeps the right pairs: -1 vs ~0 digit flip
    near = pd.DataFrame({"id": [10, 11], "fp": [-1, -2]})  # hamming 1
    _, p = fold_hamming_pairs(None, iter([near]), max_hamming=1, cap=8)
    assert p == [(10, 11, 1)]


def test_emit_kmv_half_up_rounding_matches_batch(spark):
    """r9 ADVICE (low): the streaming estimate must round HALF_UP like
    the batch kmv_distinct_estimate's F.round — Python round() is
    half-to-even and differed by 1 on exact-.5 ties.  The pinned tie:
    k=26, h_k top-48-bits = 0x8fd35cb212e9 → (k-1)/U = exactly 44.5;
    HALF_UP says 45, round() said 44."""
    from kafka_merge_purge_spark.operators.sketch import kmv_distinct_estimate
    from kafka_merge_purge_spark.streaming.stateful import emit_kmv

    k = 26
    top = f"{158132009388009:012x}"
    assert (k - 1) / (158132009388009 / float(16**12)) == 44.5  # exact tie
    entries = {f"v{i:02d}": f"{i:012x}" + "0" * 20 for i in range(k - 1)}
    entries["vtop"] = top + "f" * 20
    out = emit_kmv("g", entries, k)
    assert int(out["distinct_est"].iloc[0]) == 45

    batch = (
        spark.range(1)
        .select(
            kmv_distinct_estimate(F.lit(k), k, F.lit(entries["vtop"])).alias("e")
        )
        .collect()[0]["e"]
    )
    assert batch == 45


def test_fold_countmin_matches_batch_sketch_and_estimates(spark):
    """Round 10: the streaming count-min fold builds the SAME cells as
    the batch countmin_sketch under randomized chops/orderings (addition
    commutes — chop-invariant by construction), and emit_countmin
    equals the batch countmin_frequencies min-rule on every item."""
    import random

    from kafka_merge_purge_spark.operators.sketch import (
        countmin_frequencies,
        countmin_sketch,
    )
    from kafka_merge_purge_spark.streaming.stateful import (
        emit_countmin,
        fold_countmin,
    )

    rng = random.Random(11)
    items = [f"u{rng.randrange(60)}" for _ in range(800)]
    df = spark.createDataFrame([(v,) for v in items], "x string")
    depth, width = 4, 64

    batch_cells = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in countmin_sketch(df, "x", depth, width).collect()
    }
    batch_est = {
        r["item"]: r["est"]
        for r in countmin_frequencies(df, "x", depth=depth, width=width).collect()
    }
    true: dict = {}
    for v in items:
        true[v] = true.get(v, 0) + 1
    assert all(batch_est[v] >= true[v] for v in true)  # CM never under

    for _ in range(5):
        order = items[:]
        rng.shuffle(order)
        state, i = None, 0
        while i < len(order):
            j = min(len(order), i + rng.randint(1, 97))
            state = fold_countmin(
                state, iter([pd.DataFrame({"item": order[i:j]})]), depth, width
            )
            i = j
        assert state == batch_cells
        out = emit_countmin("k", state, sorted(true), depth, width)
        assert dict(zip(out["item"], out["est"])) == {
            v: batch_est[v] for v in sorted(true)
        }

    # wide regime: no collisions -> exact counts
    wide = {
        r["item"]: r["est"]
        for r in countmin_frequencies(df, "x", depth=depth, width=65536).collect()
    }
    assert wide == true


def test_countmin_processor_ttl_protocol(spark):
    """CountMinPerKey lifecycle on the fake handle: estimates equal the
    batch min-rule for the arrived items, state round-trips through the
    encoded map, TTL evicts, the key rebuilds from scratch."""
    from kafka_merge_purge_spark.operators.sketch import countmin_frequencies
    from kafka_merge_purge_spark.streaming.stateful import (
        CountMinPerKey,
        fold_countmin,
    )

    items = [f"v{i % 9}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in items], "x string")
    batch_est = {
        r["item"]: r["est"]
        for r in countmin_frequencies(df, "x", depth=3, width=32).collect()
    }

    proc = CountMinPerKey(depth=3, width=32, ttl_ms=1_000)
    h = _FakeHandle()
    proc.init(h)
    out = list(
        proc.handleInputRows(
            ("k",), iter([pd.DataFrame({"item": items})]), _tv(0)
        )
    )
    assert len(out) == 1 and h.timers == [1_000]
    got = dict(zip(out[0]["item"], out[0]["est"]))
    assert got == batch_est

    # state round-trip: encoded map == fold cells
    cells = fold_countmin(None, iter([pd.DataFrame({"item": items})]), 3, 32)
    enc = h.states["cm"].get()[0]
    assert {(int(k.split(":")[0]), int(k.split(":")[1])): v for k, v in enc.items()} == cells

    # second batch ACCUMULATES (est for a re-arriving item grows)
    out2 = list(
        proc.handleInputRows(("k",), iter([pd.DataFrame({"item": ["v0"]})]), _tv(10))
    )
    got2 = dict(zip(out2[0]["item"], out2[0]["est"]))
    assert got2["v0"] == batch_est["v0"] + 1

    # TTL evicts; rebuild from scratch
    list(proc.handleExpiredTimer(("k",), _tv(2_000), _eti(1_000)))
    assert not h.states["cm"].exists()
    out3 = list(
        proc.handleInputRows(("k",), iter([pd.DataFrame({"item": ["a", "a"]})]), _tv(3_000))
    )
    assert dict(zip(out3[0]["item"], out3[0]["est"])) == {"a": 2}


def test_canonical_url_composes_with_streams(spark, tmp_path):
    """The URL canonicalizer is a pure projection, so it runs unchanged
    on a streaming frame (readStream → canonicalize → watermarkless
    dedup-by-canonical is the streaming leg of url_dedup: FIRST arrival
    wins, vs the batch MIN-id rule — both documented)."""
    from kafka_merge_purge_spark.operators.curation import canonical_url

    rows = [
        (1, "HTTPS://WWW.Example.COM:443/a/?utm_source=x&b=2&a=1#f"),
        (2, "https://example.com/a?a=1&b=2"),
        (3, "http://other.org/p"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    src = tmp_path / "urls_in"
    src.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "_stage"))
    next((tmp_path / "_stage").glob("part-*.parquet")).rename(src / "u.parquet")

    stream = spark.readStream.schema("doc_id long, url string").parquet(str(src))
    canon = canonical_url(stream).dropDuplicates(["canonical_url"])
    _drain_to_memory(canon, "canon_out", str(tmp_path / "ckpt_url"))
    got = {r["canonical_url"] for r in spark.sql("SELECT * FROM canon_out").collect()}
    batch = {r["canonical_url"] for r in canonical_url(docs).collect()}
    assert got == batch == {"https://example.com/a?a=1&b=2", "http://other.org/p"}


def test_streaming_cusum_exact_chop_invariance(spark, tmp_path):
    """Streaming Page-CUSUM (the live twin of the batch x_cusum scan):
    the pure integer fold under randomized ordered micro-batch chops
    with intra-batch jitter equals the single-pass reference EXACTLY
    (integer state — not float-rounding-exact), a planted level shift
    raises the alarm only after the shift, and cross-batch regressors
    drop.  Live transformWithStateInPandas branch when protobuf is
    importable."""
    import random
    from datetime import datetime, timedelta

    import pandas as pd

    from kafka_merge_purge_spark.streaming.stateful import fold_cusum

    rng = random.Random(31)
    MU0, SLACK, H = 50_000_000, 2_000_000, 60_000_000  # micro-units
    rows = []
    eid = 0
    for tname in ("click", "view"):
        for i in range(60):
            eid += 1
            base = 50.0 if (tname == "view" or i < 40) else 80.0  # shift!
            rows.append(
                (eid, datetime(2024, 1, 1) + timedelta(seconds=eid), 1,
                 tname, round(base + rng.uniform(-3, 3), 3), "{}")
            )

    def q(v):
        import math as _m
        return int(_m.floor(v * 1_000_000 + 0.5))

    # single-pass integer reference
    want = {}
    first_alarm = {}
    for tname in ("click", "view"):
        sp = sm = 0
        for r in sorted((r for r in rows if r[3] == tname), key=lambda r: (r[1], r[0])):
            v = q(r[4])
            sp = max(0, sp + (v - MU0 - SLACK))
            sm = max(0, sm + (MU0 - v - SLACK))
            alarm = sp > H or sm > H
            want[r[0]] = (sp, sm, alarm)
            if alarm:
                first_alarm.setdefault(tname, r[0])
                sp = sm = 0

    # the click stream's planted shift (event 41+ of that stream) must
    # alarm shortly after the shift; the stable view stream never alarms
    assert "click" in first_alarm and "view" not in first_alarm
    click_ids = sorted(r[0] for r in rows if r[3] == "click")
    assert first_alarm["click"] > click_ids[39]

    # pure fold under randomized ordered chops
    got = {}
    for tname in ("click", "view"):
        evs = sorted((r for r in rows if r[3] == tname), key=lambda r: (r[1], r[0]))
        state, i = None, 0
        while i < len(evs):
            j = min(len(evs), i + rng.randint(1, 7))
            b = pd.DataFrame(
                {"ts": [e[1] for e in evs[i:j]],
                 "event_id": [e[0] for e in evs[i:j]],
                 "value_q": [q(e[4]) for e in evs[i:j]]}
            ).sample(frac=1.0, random_state=rng.randint(0, 999))
            if len(b) > 1 and rng.random() < 0.5:
                cut = rng.randint(1, len(b) - 1)
                chunks = [b.iloc[:cut], b.iloc[cut:]]
            else:
                chunks = [b]
            state, out = fold_cusum(
                state, iter(chunks), mu0_q=MU0, slack_q=SLACK, h_q=H
            )
            for r in out.itertuples():
                got[int(r.event_id)] = (
                    int(r.s_plus), int(r.s_minus), bool(r.alarm)
                )
            i = j
    assert got == want

    # regressor: re-folding an already-seen event must not change state
    state2, out2 = fold_cusum(
        state,
        iter([pd.DataFrame({"ts": [rows[0][1]], "event_id": [rows[0][0]],
                            "value_q": [q(rows[0][4])]})]),
        mu0_q=MU0, slack_q=SLACK, h_q=H,
    )
    assert len(out2) == 0 and state2 == state

    if _has_protobuf():
        from kafka_merge_purge_spark.streaming.stateful import streaming_cusum

        df = spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
        src = tmp_path / "cusum_in"
        src.mkdir()
        df.coalesce(1).write.parquet(str(tmp_path / "_stage_cusum"))
        next((tmp_path / "_stage_cusum").glob("part-*.parquet")).rename(
            src / "events.parquet"
        )
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        out = streaming_cusum(stream, mu0=50.0, h=60.0, slack=2.0)
        _drain_to_memory(out, "cusum_out", str(tmp_path / "ckpt_cusum"))
        live = {
            r["event_id"]: (r["s_plus"], r["s_minus"], r["alarm"])
            for r in spark.sql(
                "SELECT event_id, s_plus, s_minus, alarm FROM cusum_out"
            ).collect()
        }
        assert live == want
