"""Local replica of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count + column names + an order-insensitive value hash
(cells canonicalized to strings, rows sorted).  Catches hash-mismatches
before the driver does.

Usage:  python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime
from decimal import Decimal
from hashlib import sha256
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        f = float(v)
        return canon_cell(f)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(
        "|".join(canon_cell(r[i]) for i in order) for r in rows
    )
    h = sha256("\n".join(canon_rows).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


def main() -> int:
    import __spark_entry__ as entry_mod
    from kafka_merge_purge_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("parity")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
            s_fp = frame_fingerprint(scols, srows)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        finally:
            # ADVICE r6: drain operator-persisted caches per query so a
            # 123-query sweep doesn't accumulate MEMORY_AND_DISK blocks
            from kafka_merge_purge_spark.operators.iterate import release_all_persisted

            release_all_persisted()
        if name not in oracles:
            print(f"ROWS  {name}: {s_fp[0]} rows (no oracle — rows-only)")
            continue
        try:
            rel = con.sql(oracles[name])
            d_cols, d_types = list(rel.columns), [str(t).upper() for t in rel.types]
            d_fp = frame_fingerprint(d_cols, rel.fetchall())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        # Driver-hasher hazard lint: DuckDB HUGEINT / DECIMAL cells hash
        # differently from Spark BIGINT/DOUBLE in the driver even though this
        # tool canonicalizes them away (round-1 q_pipeline_e2e lesson).  Any
        # un-cast SUM() is the usual culprit — always CAST in the oracle.
        s_dtypes = dict(sdf.dtypes)
        for c, t in zip(d_cols, d_types):
            risky = "HUGEINT" in t or "INT128" in t or t.startswith("DECIMAL")
            if risky and not s_dtypes.get(c, "").startswith("decimal"):
                failures.append(name)
                print(f"FAIL  {name}: oracle col {c!r} is {t} but spark is "
                      f"{s_dtypes.get(c)} — CAST it (driver hasher is type-sensitive)")
        if name in failures:
            continue
        if s_fp == d_fp:
            print(f"OK    {name}: {s_fp[0]} rows hash={s_fp[2]}")
        else:
            failures.append(name)
            print(f"FAIL  {name}: spark={s_fp} duckdb={d_fp}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
