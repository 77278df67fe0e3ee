"""The reference's record-routing verbs as declarative DataFrame transforms.

Reference semantics (all citations into /root/reference/src/..):

- tombstone filter: skip ``value IS NULL`` records unless explicitly
  merging tombstones (Ask.kt:45-48, MergeAll.kt:38-41, PurgeAll.kt:26-29)
- purge: for each *live* record emit ``(topic, partition, key, NULL)`` back
  to the SAME topic+partition — a log-compaction delete marker; never
  double-tombstone (Pipeline.kt:91-98, PipelineTest.kt:253-318)
- merge: emit ``(dest_topic, key, value)`` — partition left to the
  partitioner (2-arg ProducerRecord, MergeAll.kt:47) — then purge the
  source record (MergeAll.kt:48)
- ask: per-record 3-way router MERGE|PURGE|SKIP (Ask.kt:55-71); at scale
  the decision is a rule *expression* in the plan, with the interactive
  stdin path kept driver-side (cli.py)
- counters: merged/purged/skipped/printed totals (Ask.kt:38-40,75-80)

Every transform is narrow: a filter, then one leg generator (``_legs``)
that reads each row once — no union, no shuffle, no UDF, so at 100 TB
these are pure map stages that pipeline between the scan and the sink
in a single stage.  The only shuffles in this module are the
ones the semantics *require*: compaction (per-key argmax) and counters
(global aggregate), both with map-side partial aggregation.
"""

from __future__ import annotations

from enum import Enum

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_merge_purge_spark.model import is_tombstone


class Action(str, Enum):
    MERGE = "MERGE"
    PURGE = "PURGE"
    SKIP = "SKIP"


#: Output-leg tags, so a single routed frame can address multiple sinks.
MERGE_LEG = "merge"
PURGE_LEG = "purge"


def filter_tombstones(records: DataFrame, merge_tombstones: bool = False) -> DataFrame:
    """Drop tombstones unless --merge-tombstones (Ask.kt:45-48)."""
    if merge_tombstones:
        return records
    return records.filter(~is_tombstone())


def _legs(
    records: DataFrame,
    dest_topic: str | None,
    merge_if: Column | None,
    purge_if: Column | None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The one leg generator behind every routing verb.  Each input row is
    read once and yields the merge leg where ``merge_if`` holds and the
    purge leg where ``purge_if`` holds (``None`` omits a leg), as the
    reference produces both records from one read (MergeAll.kt:47-48,
    Ask.kt:56-66).

    Leg columns, in output order: ``topic, partition`` (merge: ``dest_topic``
    and NULL for the sink's partitioner, MergeAll.kt:47; purge: the source's
    own, Pipeline.kt:91-98); ``src_topic, src_partition, src_offset``, the
    provenance the sink commits offsets for (Pipeline.kt:43-52); ``key``;
    ``value`` (purge: a NULL typed as the frame's ``value`` dtype, so the
    payload keeps its wire type); ``headers`` when present (opaque
    passthrough, MixedValue.kt:41-43); the ``carry`` columns; ``leg``.

    Narrow: an array of at most two leg structs per row and one ``inline``
    over its non-null entries — no union, no second scan, no shuffle.
    """
    tail = [F.col(c) for c in ("headers", *carry) if c in records.columns]

    def leg(cond: Column, tag: str, topic: Column, partition: Column, value: Column) -> Column:
        return F.when(
            cond,
            F.struct(
                topic.alias("topic"),
                partition.alias("partition"),
                F.col("topic").alias("src_topic"),
                F.col("partition").alias("src_partition"),
                F.col("offset").alias("src_offset"),
                F.col("key"),
                value.alias("value"),
                *tail,
                F.lit(tag).alias("leg"),
            ),
        )

    legs = []
    if merge_if is not None:
        legs.append(leg(merge_if, MERGE_LEG, F.lit(dest_topic), F.lit(None).cast("int"), F.col("value")))
    if purge_if is not None:
        value_t = records.schema["value"].dataType
        legs.append(leg(purge_if, PURGE_LEG, F.col("topic"), F.col("partition"), F.lit(None).cast(value_t)))
    return records.select(F.inline(F.array_compact(F.array(*legs))))


def purge(records: DataFrame) -> DataFrame:
    """Tombstone projection: ``(topic, partition, key, NULL)`` for each
    live record, partition-preserving (Pipeline.kt:91-98).

    Records that are already tombstones are never re-purged
    (Pipeline.kt:93-95) — the filter keeps that invariant here rather than
    in the caller so composition can't violate it.
    """
    return _legs(filter_tombstones(records), None, None, F.lit(True)).drop("leg")


def merge(records: DataFrame, dest_topic: str, merge_tombstones: bool = False) -> DataFrame:
    """Re-topic projection: live records addressed to ``dest_topic`` with
    partition NULL → chosen by the sink's partitioner (MergeAll.kt:47).

    ``merge_tombstones`` (reference ``-T``, MergeAll.kt:15-19) forwards
    tombstones to the destination as delete markers instead of dropping
    them."""
    return _legs(filter_tombstones(records, merge_tombstones), dest_topic, F.lit(True), None).drop("leg")


def merge_all(records: DataFrame, dest_topic: str, merge_tombstones: bool = False) -> DataFrame:
    """The flagship verb (MergeAll.kt:31-61): one scan, two routed output
    legs — merge to dest + purge back to source — in one frame tagged with
    ``leg`` so a partitioned sink can split it without rescanning.

    ``merge_tombstones`` (reference ``-T``, MergeAll.kt:15-19): tombstones
    are forwarded on the merge leg as delete markers; the purge leg still
    never re-tombstones them.

    Scale note: both legs come out of one read of each source row (see
    ``_legs``), so a micro-batch scans its input once and runs as one map
    stage; the sink (or a ``partitionBy("leg")`` write) splits the legs.
    """
    src = filter_tombstones(records, merge_tombstones)
    return _legs(src, dest_topic, F.lit(True), ~is_tombstone())


def purge_all(records: DataFrame) -> DataFrame:
    """purge-all = scan ∘ tombstone-filter ∘ purge (PurgeAll.kt:19-48)."""
    return purge(filter_tombstones(records))


def default_ask_rule() -> Column:
    """Deterministic stand-in for the interactive ActionSource
    (ActionSource.kt:9-27): error events merge, low-value clicks purge,
    the rest skip.  Expects ``event_type`` and ``evalue`` carried through
    ``records_from_events(extra_cols=...)``; callers supply their own
    Column for other policies."""
    return (
        F.when(F.col("event_type") == "error", F.lit(Action.MERGE.value))
        .when((F.col("event_type") == "click") & (F.col("evalue") < 10.0), F.lit(Action.PURGE.value))
        .otherwise(F.lit(Action.SKIP.value))
    )


def ask(
    records: DataFrame,
    dest_topic: str,
    action_rule: Column,
    merge_tombstones: bool = False,
) -> DataFrame:
    """Rule-routed ask (Ask.kt:35-83): tag each live record with an action,
    then produce the routed output legs:

    - MERGE → merge leg to ``dest_topic`` AND purge leg to source
      (Ask.kt:56-61: merge also purges)
    - PURGE → purge leg only (Ask.kt:62-66)
    - SKIP  → no output (Ask.kt:67-70)

    Returns one frame with ``action`` and ``leg`` columns.  The
    blocking-stdin interactive mode lives in cli.py (driver-side), because
    a per-record stdin round-trip is antithetical to distributed execution
    — the rule expression is the scalable form.
    """
    decided = ask_decisions(records, action_rule, merge_tombstones)
    action = F.col("action")
    return _legs(
        decided,
        dest_topic,
        merge_if=action == Action.MERGE.value,
        purge_if=action.isin(Action.MERGE.value, Action.PURGE.value) & ~is_tombstone(),
        carry=("action",),
    )


def ask_decisions(records: DataFrame, action_rule: Column, merge_tombstones: bool = False) -> DataFrame:
    """Just the per-record decisions (offset, action) — the auditable form
    of the routing switch, and the input to ``action_counts``."""
    live = filter_tombstones(records, merge_tombstones)
    return live.withColumn("action", action_rule)


def action_counts(decided: DataFrame) -> DataFrame:
    """Running counters (Ask.kt:38-40,75-80) as a grouped aggregate.

    Map-side partial aggregation makes this a near-free shuffle of ≤3
    rows per task at any scale.  Streaming: use ``observe()`` or a
    stateful agg (streaming/pipeline.py).
    """
    return decided.groupBy("action").agg(F.count(F.lit(1)).alias("n"))


def compaction(records: DataFrame) -> DataFrame:
    """Kafka log-compaction semantics: the last record per key wins; if the
    last record is a tombstone the key disappears; NULL keys are not
    compactable and are excluded (Kafka semantics the reference's purge
    verb targets, README.md:9-11).

    One shuffle on ``key`` (the window partition).  At 100 TB this is the
    canonical per-key argmax — AQE handles skewed keys; if a key set is
    known-skewed, pre-aggregating ``max(offset) per key`` and semi-joining
    back is the two-shuffle alternative with smaller sort state.

    Ordering is a TOTAL order — (offset desc, value desc NULLS LAST) —
    so duplicate offsets within a key (possible when a key spans source
    partitions) resolve deterministically: the max non-null value wins
    the tie, tombstones lose it.  The streaming twin
    (streaming/stateful.fold_latest) folds by the same order, which is
    what makes its batch-equivalence associativity claim hold on ties
    (r4 advice).
    """
    w = Window.partitionBy("key").orderBy(
        F.col("offset").desc(), F.col("value").desc()
    )
    return (
        records.filter(F.col("key").isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .filter(~is_tombstone())
    )


def print_format(records: DataFrame) -> DataFrame:
    """Console-sink projection (Print.kt:25-59): the exact rendering of
    ConsumerRecord.kt:5-11 — ``Key:\\n{key}\\nValue:\\n{value}`` with
    ``<tombstone>`` for a NULL payload and ``<null>`` for a NULL key."""
    rendered = F.concat(
        F.lit("Key:\n"),
        F.coalesce(F.col("key"), F.lit("<null>")),
        F.lit("\nValue:\n"),
        F.coalesce(F.col("value"), F.lit("<tombstone>")),
    )
    return records.select(
        F.col("topic"),
        F.col("partition"),
        F.col("offset"),
        rendered.alias("rendered"),
    )
