"""Capture .explain("formatted") for named queries into plans/<tag>/.

Usage: python tools/capture_plans.py <out_subdir> <suffix> <query> [query ...]

Writes plans/<out_subdir>/<query>_<suffix>.txt.  For queries whose
operator routes through iterate(), additionally captures the round-0
step plan (the representative per-round plan — the loop's final plan is
just a checkpoint scan) into the same file under a separator, via the
plan_audit iterate-spy.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

#: a loop slot whose round 0 never ran (max_rounds == 0) — distinct from
#: any value a step can return, None included
_NOT_RUN = object()


def main() -> None:
    out_dir = Path(__file__).resolve().parent.parent / "plans" / sys.argv[1]
    suffix = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.001"

    import __spark_entry__ as entry
    import kafka_merge_purge_spark.operators.iterate as I
    from kafka_merge_purge_spark.plans.introspect import formatted_plan
    from kafka_merge_purge_spark.session import get_spark

    spark = get_spark("capture-plans", cpus=8, shuffle_partitions=8)
    out_dir.mkdir(parents=True, exist_ok=True)
    real_iterate = I.iterate
    for name in names:
        rounds: list = []

        def spy(state, step, max_rounds, **kw):
            # record round 0's RETURN value from INSIDE the real loop —
            # never call step() out-of-band: steps may carry
            # round-indexed closure state (louvain's contracted ce), and
            # an extra step(state, 0) probe would silently advance it
            # one round ahead of the loop (iterate()'s call-once
            # contract, r16).  The captured frame's plan stays readable
            # after the loop finishes (plans are lazy).
            slot = len(rounds)
            rounds.append(_NOT_RUN)

            def wrapped(s, i):
                out = step(s, i)
                if i == 0 and rounds[slot] is _NOT_RUN:
                    rounds[slot] = out
                return out

            return real_iterate(state, wrapped, max_rounds, **kw)

        I.iterate = spy
        try:
            df = getattr(entry, name)(spark, sf_dir)
        finally:
            I.iterate = real_iterate
        parts = [f"== {name}: final plan ==", formatted_plan(df).strip()]
        for j, rdf in enumerate(rounds):
            if rdf is _NOT_RUN:  # max_rounds == 0 loop: no round ever ran
                continue
            parts += [
                f"\n== {name}: iterate() round-0 step plan (loop #{j}) ==",
                formatted_plan(rdf).strip(),
            ]
        (out_dir / f"{name}_{suffix}.txt").write_text("\n".join(parts) + "\n")
        print(f"wrote {name}_{suffix}.txt ({len(rounds)} loop plans)")


if __name__ == "__main__":
    main()
