"""Each output check accepts a correct output and rejects a corrupted one.

    python3 -m pytest perfbench/test_checks.py -q

No Spark: the correct outputs are built with DuckDB / networkx from
small generated inputs, then corrupted one way per test.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402

FILES, ROWS = 2, 60


@pytest.fixture
def drain(tmp_path):
    """A backlog plus the sink output a correct drain writes for it:
    one ``batch_id=N`` directory per input file."""
    inp, out = tmp_path / "in", tmp_path / "out"
    gen.drain_backlog(inp, 7, FILES, ROWS)
    con = duckdb.connect()
    for b, f in enumerate(sorted(inp.iterdir())):
        (out / f"batch_id={b}").mkdir(parents=True)
        sql = checks._EXPECTED_SQL.format(inp=inp, dest=checks.DEST_TOPIC).replace("/*.parquet", f"/{f.name}")
        con.execute(f"COPY ({sql}) TO '{out}/batch_id={b}/part-0.parquet' (FORMAT parquet)")
    merged = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/*/*.parquet') WHERE leg = 'merge'"
    ).fetchone()[0]
    con.close()
    return inp, out, {"merged": merged, "purged": merged}


def test_drain_accepts_correct_output(drain):
    inp, out, counters = drain
    assert checks.check_drain(inp, out, FILES, counters) == []


def _rewrite(out: Path, sql: str) -> None:
    """Replace batch 0's file with ``sql`` over its current rows."""
    f = out / "batch_id=0" / "part-0.parquet"
    tmp = out / "tmp.parquet"
    con = duckdb.connect()
    con.execute(f"COPY ({sql.format(t=f)}) TO '{tmp}' (FORMAT parquet)")
    con.close()
    tmp.replace(f)


def test_drain_rejects_missing_row(drain):
    inp, out, counters = drain
    _rewrite(out, "SELECT * FROM read_parquet('{t}') LIMIT (SELECT count(*) - 1 FROM read_parquet('{t}'))")
    assert checks.check_drain(inp, out, FILES, counters)


def test_drain_rejects_duplicate_row(drain):
    inp, out, counters = drain
    _rewrite(out, "SELECT * FROM read_parquet('{t}') UNION ALL (SELECT * FROM read_parquet('{t}') LIMIT 1)")
    assert checks.check_drain(inp, out, FILES, counters)


def test_drain_rejects_wrong_payload(drain):
    inp, out, counters = drain
    _rewrite(out, "SELECT * REPLACE (CASE WHEN leg = 'merge' THEN 'x' ELSE \"value\" END AS \"value\") FROM read_parquet('{t}')")
    assert checks.check_drain(inp, out, FILES, counters)


def test_drain_rejects_staging_leftover(drain):
    inp, out, counters = drain
    (out / "_staging_batch_1").mkdir()
    assert checks.check_drain(inp, out, FILES, counters)


def test_drain_rejects_missing_batch(drain):
    inp, out, counters = drain
    shutil.rmtree(out / f"batch_id={FILES - 1}")
    assert checks.check_drain(inp, out, FILES, counters)


def test_drain_rejects_counter_mismatch(drain):
    inp, out, counters = drain
    assert checks.check_drain(inp, out, FILES, {**counters, "purged": counters["purged"] + 1})


@pytest.fixture
def corpus(tmp_path):
    import pyarrow.parquet as pq

    c = gen.corpus(tmp_path / "c.parquet", 3, 120, 20, 40)
    t = pq.read_table(tmp_path / "c.parquet")
    texts = dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    return c, texts


def _exact_rows(texts):
    groups = {}
    for i, text in texts.items():
        groups.setdefault(checks.normalize(text), []).append(i)
    return [{"doc_id": min(g), "n_copies": len(g)} for g in groups.values()]


def test_exact_accepts_and_rejects(corpus):
    c, texts = corpus
    rows = _exact_rows(texts)
    assert checks.check_exact(texts, rows) == []
    bad = [dict(r) for r in rows]
    multi = next(r for r in bad if r["n_copies"] > 1)
    multi["n_copies"] -= 1
    assert checks.check_exact(texts, bad)


def _fuzzy_rows(texts, clusters):
    """Rows a correct fuzzy_dedup returns for ``clusters`` (lists of ids)."""
    rows = []
    for members in clusters:
        m = min(members)
        rows += [
            {"doc_id": i, "cluster_id": m, "cluster_size": len(members), "is_canonical": int(i == m)}
            for i in members
        ]
    return rows


def _true_clusters(c, texts):
    """Exact copies and near-copies merged with their sources."""
    parent = {i: i for i in texts}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in c.exact + c.near:
        parent[find(a)] = find(b)
    groups = {}
    for i in texts:
        groups.setdefault(find(i), []).append(i)
    return list(groups.values())


def test_fuzzy_accepts_correct_output(corpus):
    c, texts = corpus
    assert checks.check_fuzzy(texts, c.exact, c.near, _fuzzy_rows(texts, _true_clusters(c, texts)), 0.5) == []


def test_fuzzy_rejects_split_exact_copy(corpus):
    c, texts = corpus
    copy, _ = c.exact[0]
    clusters = [[i for i in g if i != copy] for g in _true_clusters(c, texts)] + [[copy]]
    assert checks.check_fuzzy(texts, c.exact, c.near, _fuzzy_rows(texts, [g for g in clusters if g]), 0.5)


def test_fuzzy_tolerates_one_missed_near_copy(corpus):
    c, texts = corpus
    copy, _ = c.near[0]
    clusters = [[i for i in g if i != copy] for g in _true_clusters(c, texts)] + [[copy]]
    rows = _fuzzy_rows(texts, [g for g in clusters if g])
    assert len(c.near) >= 10  # one miss in ten or more stays above the floor
    assert checks.check_fuzzy(texts, c.exact, c.near, rows, 0.5) == []


def test_fuzzy_rejects_missed_near_copies(corpus):
    # what a broken LSH candidate step gives: exact copies still merge
    # (their normalized text is equal) but no near-copy does
    c, texts = corpus
    near = {n for n, _ in c.near}
    clusters = [[i for i in g if i not in near] for g in _true_clusters(c, texts)] + [[n] for n in near]
    rows = _fuzzy_rows(texts, [g for g in clusters if g])
    assert checks.check_fuzzy(texts, c.exact, c.near, rows, 0.5)


def test_fuzzy_rejects_dissimilar_member(corpus):
    c, texts = corpus
    clusters = _true_clusters(c, texts)
    a, b = [g for g in clusters if len(g) == 1][:2]
    merged = [g for g in clusters if g is not a and g is not b] + [a + b]
    assert checks.check_fuzzy(texts, c.exact, c.near, _fuzzy_rows(texts, merged), 0.5)


def test_fuzzy_rejects_wrong_canonical(corpus):
    c, texts = corpus
    rows = _fuzzy_rows(texts, _true_clusters(c, texts))
    big = max({r["cluster_id"] for r in rows if r["cluster_size"] > 1})
    for r in rows:
        if r["cluster_id"] == big:
            r["is_canonical"] = 1 - r["is_canonical"]
    assert checks.check_fuzzy(texts, c.exact, c.near, rows, 0.5)


def test_graph_labels_accept_and_reject(tmp_path):
    import numpy as np
    import pyarrow.parquet as pq

    gen.link_graph(tmp_path / "g.parquet", 5, np.arange(100, 400), 2, 2, 3)
    e = pq.read_table(tmp_path / "g.parquet")
    want_scc, want_cc = checks.expected_graph_labels(e.column("src").to_pylist(), e.column("dst").to_pylist())
    nodes = sorted(want_scc)
    assert checks.check_labels("scc", want_scc, nodes, [want_scc[n] for n in nodes]) == []
    assert checks.check_labels("cc", want_cc, nodes, [want_cc[n] for n in nodes]) == []
    # a ring's largest node labelled as its own SCC, and one weak
    # component split off
    wrong = dict(want_scc)
    wrong[max(nodes)] = max(nodes)
    assert checks.check_labels("scc", want_scc, nodes, [wrong[n] for n in nodes])
    wrong_cc = dict(want_cc)
    wrong_cc[max(nodes)] = max(nodes)
    assert checks.check_labels("cc", want_cc, nodes, [wrong_cc[n] for n in nodes])
