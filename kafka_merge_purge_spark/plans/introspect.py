"""Physical-plan introspection — the engine's feedback loop for scale.

The reference has no optimizer (SURVEY.md §4.1); here Catalyst is the
optimizer and these helpers make its decisions assertable in tests:
did the filter push into the parquet scan, did the dimension join go
broadcast, how many exchanges does the plan have, how wide are the
whole-stage-codegen spans.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return formatted_plan(df).count("Exchange")


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan node in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(s.strip() for s in m.group(1).split(","))
    return out


def read_schema(df: DataFrame) -> list[str]:
    """Columns actually read by scans (column pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(part.split(":")[0].strip() for part in m.group(1).split(",") if part.strip())
    return cols


def node_count(df: DataFrame, operator: str) -> int:
    """Distinct plan nodes of a given operator name (the formatted plan
    prints each node twice — tree + detail — so substring counts double)."""
    plan = formatted_plan(df)
    return len(set(re.findall(rf"\((\d+)\) {re.escape(operator)}\b", plan)))


def wholestage_codegen_count(df: DataFrame) -> int:
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", formatted_plan(df))))


def spread_width(spark) -> int:
    """Partition count for spreading a CPU-bound map stage over the
    cluster before it runs: the default parallelism, never below 8.  A
    small corpus arrives as one file, so without the spread its few
    input splits pin the whole stage to a handful of tasks."""
    return max(spark.sparkContext.defaultParallelism, 8)


def let_once(value, body):
    """Expression-level let-binding: evaluate ``value`` ONCE per row and
    pass it to ``body`` as a bound lambda variable.

    Catalyst evaluates a higher-order function's lambda body per element
    and does NOT hoist loop-invariant subexpressions out of it — an
    expensive captured expression (a tokenization, a regex chain) is
    re-computed on every reference (measured r16: the shingle builder
    re-tokenized per position, 4.0 s → 0.65 s at sf0.1 once bound).
    ``projection_barrier`` fixes this for DataFrame stages; this is the
    COLUMN-level equivalent for helpers that must stay expressions:
    ``transform`` evaluates its input array exactly once, so references
    to the lambda variable inside ``body`` are plain variable reads.

    Pure codegen-friendly expression — no Generate node, no shuffle."""
    from pyspark.sql import functions as F

    return F.element_at(F.transform(F.array(value), body), 1)


def projection_barrier(df: DataFrame) -> DataFrame:
    """Pin the current projection against CollapseProject inlining.

    Catalyst's CollapseProject merges adjacent projections by inlining the
    producer expression into EVERY downstream reference — correct, but for
    an expensive producer (a chained-regex column, a tokenization) that a
    later stage references many times, the optimized plan re-evaluates the
    chain per reference (measured: the curation pipeline's optimized plan
    held 42 copies of the redaction regex chain, a ~6× slowdown).

    The barrier inserts a one-element ``explode`` — a Generate node that
    projections cannot collapse across — so every column of ``df`` is
    computed exactly once and downstream references become plain attribute
    reads.  Pure JVM, row-preserving, no shuffle, no caching; the Generate
    itself is a per-row no-op.  Use it between a stage that COMPUTES an
    expensive column and a stage that CONSUMES it repeatedly.
    """
    from pyspark.sql import functions as F

    return df.withColumn("_barrier", F.explode(F.array(F.lit(1)))).drop("_barrier")


def python_barrier(df: DataFrame) -> DataFrame:
    """A materialization boundary Catalyst cannot cross: an Arrow
    identity pass (``mapInPandas`` of the identity function).

    ``projection_barrier`` pins a projection against CollapseProject,
    but **filters** still walk through it — PushPredicateThroughProject
    substitutes the predicate's attribute references with their
    producing expressions (no cost model), so ``df.filter(keep == 1)``
    over a computed ``keep`` column re-evaluates the ENTIRE metric
    chain as a per-row predicate (measured: the Gopher keep-filter
    turned a 1.8 s stage into 8.5 s at sf0.1 — the top-word-fraction
    HOF inlined into the predicate).  Optimizer rules cannot see inside
    a Python eval node, so a filter above this stays a cheap attribute
    comparison.

    Costs one Arrow serialization round-trip of the frame — project to
    the narrow column set FIRST (column pruning cannot cross it
    either).  Batch-only (mapInPandas is streaming-safe, but the
    POINT of the barrier — blocking pushdown — applies to batch
    optimization)."""
    return df.mapInPandas(lambda it: it, schema=df.schema)
