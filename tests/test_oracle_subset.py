"""DuckDB oracle parity for the queries whose operators run a single
Arrow-kernel form: node2vec walks, char entropy, the quality
classifier, MinHash banding, SimHash, repetition and duplicate spans.
Each query's Spark result must hash-match its ``oracle_sql()`` twin
over the same parquet tables — the comparison tools/parity.py runs over
the whole suite, here on the session fixture's partitioning.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.parity import TABLES, frame_fingerprint

SF_DIR = "/root/testdata/sf0.001"

QUERIES = (
    "x_node2vec",
    "x_char_entropy",
    "x_quality_score",
    "x_minhash_pairs",
    "q_fuzzy_dedup",
    "q_simhash",
    "x_repetition",
    "x_dup_spans",
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_duckdb_oracle(spark, duck, name):
    import __spark_entry__ as entry
    from kafka_merge_purge_spark.operators.iterate import release_all_persisted

    sdf = entry.queries()[name](spark, SF_DIR)
    try:
        got = frame_fingerprint(list(sdf.columns), [tuple(r) for r in sdf.collect()])
    finally:
        release_all_persisted()
    rel = duck.sql(entry.oracle_sql()[name])
    want = frame_fingerprint(list(rel.columns), rel.fetchall())
    assert got == want and got[0] > 0
