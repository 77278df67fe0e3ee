"""Output checks that do not go through Spark.

Each check takes plain Python / Arrow outputs plus what the generator
planted, and returns a list of error strings (empty = correct).  The
drain check recomputes the expected legs with DuckDB straight from the
generated input files; the curate check recomputes shingle Jaccard in
pure Python; the graph check compares with ``networkx``.
"""

from __future__ import annotations

import re
from collections import defaultdict
from pathlib import Path

import duckdb
import networkx as nx

DEST_TOPIC = "dest"

# Expected merge and purge legs of merge-all over the events backlog:
# every live record (event_id % 13 <> 0) is merged to the destination
# topic with its payload and purged (NULL payload) at its source
# partition; the key is the user id, NULL when user_id % 97 = 0.
_EXPECTED_SQL = """
WITH ev AS (SELECT * FROM read_parquet('{inp}/*.parquet') WHERE event_id % 13 <> 0),
k AS (
    SELECT event_id, props,
           CAST(user_id % 8 AS INTEGER) AS part,
           CASE WHEN user_id % 97 = 0 THEN NULL ELSE CAST(user_id AS VARCHAR) END AS key
    FROM ev
)
SELECT 'merge' AS leg, '{dest}' AS topic, CAST(NULL AS INTEGER) AS "partition",
       'events' AS src_topic, part AS src_partition, event_id AS src_offset, key, props AS "value"
FROM k
UNION ALL
SELECT 'purge', 'events', part, 'events', part, event_id, key, CAST(NULL AS VARCHAR)
FROM k
"""

_ACTUAL_SQL = """
SELECT leg, topic, "partition", src_topic, src_partition, src_offset, key, "value"
FROM read_parquet('{out}/batch_id=*/*.parquet')
"""


def check_drain(
    input_dir: Path, out_dir: Path, n_batches: int, counters: dict[str, int]
) -> list[str]:
    """Check one drain's sink output against the generated backlog.

    ``counters`` holds the ``observe()`` totals summed over the
    micro-batches (``merged``, ``purged``)."""
    errors: list[str] = []
    names = sorted(p.name for p in out_dir.iterdir()) if out_dir.is_dir() else []
    staging = [n for n in names if n.startswith("_staging_")]
    if staging:
        errors.append(f"drain: staging dirs left behind: {staging}")
    batches = sorted(n for n in names if n.startswith("batch_id="))
    want = sorted(f"batch_id={b}" for b in range(n_batches))
    if batches != want:
        errors.append(f"drain: batch dirs {batches[:5]}... != batch_id=0..{n_batches - 1}")
    if errors:
        return errors
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP VIEW exp AS {_EXPECTED_SQL.format(inp=input_dir, dest=DEST_TOPIC)}")
        con.execute(f"CREATE TEMP VIEW act AS {_ACTUAL_SQL.format(out=out_dir)}")
        missing, extra = con.execute(
            "SELECT (SELECT count(*) FROM (FROM exp EXCEPT ALL FROM act)),"
            "       (SELECT count(*) FROM (FROM act EXCEPT ALL FROM exp))"
        ).fetchone()
        dup = con.execute(
            "SELECT count(*) FROM (SELECT leg, src_offset FROM act GROUP BY ALL HAVING count(*) > 1)"
        ).fetchone()[0]
        legs = dict(con.execute("SELECT leg, count(*) FROM act GROUP BY leg").fetchall())
    finally:
        con.close()
    if missing or extra:
        errors.append(f"drain: {missing} expected rows missing, {extra} unexpected rows")
    if dup:
        errors.append(f"drain: {dup} (leg, src_offset) pairs written more than once")
    for leg, counter in (("merge", "merged"), ("purge", "purged")):
        if legs.get(leg, 0) != counters.get(counter):
            errors.append(
                f"drain: observe() {counter}={counters.get(counter)} != {legs.get(leg, 0)} {leg} rows"
            )
    return errors


#: fewest planted near-copies, as a share, that fuzzy_dedup must cluster
#: with their source
MIN_NEAR_RECALL = 0.9


def normalize(text: str) -> str:
    return re.sub("[^a-z0-9]+", " ", text.lower()).strip()


def shingle_set(text: str, k: int = 3) -> frozenset[str]:
    toks = normalize(text).split(" ")
    return frozenset(" ".join(toks[i : i + k]) for i in range(max(len(toks) - k + 1, 1)))


def jaccard(a: frozenset[str], b: frozenset[str]) -> float:
    return len(a & b) / len(a | b)


def check_exact(texts: dict[int, str], rows: list[dict]) -> list[str]:
    """``exact_dedup`` rows ``(doc_id, n_copies)``: one row per distinct
    normalized text, carrying the minimum id and the group size."""
    groups: dict[str, list[int]] = defaultdict(list)
    for doc_id, text in texts.items():
        groups[normalize(text)].append(doc_id)
    want = {min(ids): len(ids) for ids in groups.values()}
    got = {r["doc_id"]: r["n_copies"] for r in rows}
    if len(got) != len(rows):
        return ["exact: a doc_id appears in more than one row"]
    if got != want:
        bad = sorted(set(got.items()) ^ set(want.items()))[:5]
        return [f"exact: {len(rows)} rows vs {len(want)} expected groups; differing {bad}"]
    return []


def check_fuzzy(
    texts: dict[int, str],
    exact_copies: list[tuple[int, int]],
    near_copies: list[tuple[int, int]],
    rows: list[dict],
    threshold: float,
    k: int = 3,
) -> list[str]:
    """``fuzzy_dedup`` rows ``(doc_id, cluster_id, cluster_size,
    is_canonical)``.

    Every planted exact copy shares its source's cluster (identical
    shingle sets give identical MinHash signatures, so LSH cannot miss
    them); every member of a multi-document cluster has 3-shingle
    Jaccard >= ``threshold`` to some other member (within 1e-6: the
    program rounds Jaccard to six places); each cluster's id is its
    minimum member, and that member is its one canonical document; at
    least ``MIN_NEAR_RECALL`` of the planted near-copies share their
    source's cluster.  That last check is a floor, not a per-pair
    assertion: LSH finds a near-copy with high but not certain
    probability, and the program's MinHash misses about one pair in a
    few thousand (CHANGES.md), while a broken candidate step finds
    almost none."""
    errors: list[str] = []
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    if len(cluster) != len(rows) or set(cluster) != set(texts):
        return [f"fuzzy: {len(rows)} rows for {len(texts)} documents, or unknown/duplicate ids"]
    members: dict[int, list[dict]] = defaultdict(list)
    for r in rows:
        members[r["cluster_id"]].append(r)
    split = [(c, s) for c, s in exact_copies if cluster[c] != cluster[s]]
    if split:
        errors.append(f"fuzzy: {len(split)} exact copies not clustered with their source, e.g. {split[:3]}")
    recall = near_recall(near_copies, rows)
    if recall < MIN_NEAR_RECALL:
        errors.append(f"fuzzy: near-copy recall {recall:.3f} < {MIN_NEAR_RECALL}")
    shingles: dict[int, frozenset[str]] = {}
    for cid, rs in members.items():
        ids = [r["doc_id"] for r in rs]
        canon = [r["doc_id"] for r in rs if r["is_canonical"] == 1]
        if canon != [min(ids)] or cid != min(ids):
            errors.append(f"fuzzy: cluster {cid} canonical {canon}, min id {min(ids)}")
        if any(r["cluster_size"] != len(ids) for r in rs):
            errors.append(f"fuzzy: cluster {cid} reports a size other than {len(ids)}")
        if len(ids) < 2:
            continue
        for i in ids:
            shingles.setdefault(i, shingle_set(texts[i], k))
        for i in ids:
            best = max(jaccard(shingles[i], shingles[j]) for j in ids if j != i)
            if best < threshold - 1e-6:
                errors.append(f"fuzzy: doc {i} in cluster {cid} has max Jaccard {best:.4f} < {threshold}")
    return errors


def near_recall(near_copies: list[tuple[int, int]], rows: list[dict]) -> float:
    """Share of planted near-copies that share their source's cluster."""
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    return sum(cluster[c] == cluster[s] for c, s in near_copies) / max(1, len(near_copies))


def min_labels(components) -> dict[int, int]:
    out = {}
    for comp in components:
        m = min(comp)
        out.update(dict.fromkeys(comp, m))
    return out


def expected_graph_labels(src: list[int], dst: list[int]) -> tuple[dict[int, int], dict[int, int]]:
    """Min-id SCC and weak-component labels of every edge endpoint."""
    g = nx.DiGraph()
    g.add_edges_from(zip(src, dst))
    return (
        min_labels(nx.strongly_connected_components(g)),
        min_labels(nx.connected_components(g.to_undirected())),
    )


def check_labels(kind: str, want: dict[int, int], nodes: list[int], labels: list[int]) -> list[str]:
    got = dict(zip(nodes, labels))
    if len(got) != len(nodes):
        return [f"{kind}: a node appears in more than one row"]
    if got != want:
        diff = sorted(n for n in set(got) | set(want) if got.get(n) != want.get(n))
        return [f"{kind}: {len(diff)} nodes labelled differently from networkx, e.g. {diff[:5]}"]
    return []
