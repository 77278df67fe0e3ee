"""Seeded input generators for the benchmark's workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes the same inputs.  The program under test only ever
sees the files written here; the planted copy pairs that ``corpus``
returns stay with the benchmark's checks.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
#: 2024-01-01T00:00:00Z in nanoseconds: the events table's epoch scale
TS_BASE_NS = 1_704_067_200_000_000_000


def _payloads(rng: np.random.Generator, n: int) -> list[str]:
    """Mixed payload sizes: 70% small (16-96 B), 25% medium (256-1024 B),
    5% large (2-6 KiB), cut from one seeded pool of printable text."""
    pool = "".join(chr(c) for c in rng.integers(97, 123, size=1 << 16))
    kind = rng.choice(3, size=n, p=[0.70, 0.25, 0.05])
    lo = np.array([16, 256, 2048])[kind]
    hi = np.array([96, 1024, 6144])[kind]
    lengths = rng.integers(lo, hi + 1)
    starts = rng.integers(0, len(pool) - lengths)
    return [
        f'{{"k": {k}, "p": "{pool[s:s + ln]}"}}'
        for k, s, ln in zip(rng.integers(0, 1000, size=n), starts, lengths)
    ]


def drain_backlog(out_dir: Path, seed: int, files: int, rows_per_file: int) -> int:
    """Write a topic backlog as ``files`` events parquet files.

    ``user_id`` is Zipf-skewed (a few hot keys, a long tail), so the
    model's ``user_id % 97 = 0`` null-key rule and ``event_id % 13 = 0``
    tombstone rule both fire.  ``ts`` is int64 epoch nanoseconds, the
    scale of the events table.  Returns the number of records."""
    rng = np.random.default_rng([seed, 1])
    out_dir.mkdir(parents=True)
    for f in range(files):
        n = rows_per_file
        event_id = np.arange(f * n, (f + 1) * n, dtype=np.int64)
        user_id = np.minimum(rng.zipf(1.3, size=n), 200_000).astype(np.int64)
        ts = TS_BASE_NS + event_id * 1_000_000_000 + rng.integers(0, 999_999_999, size=n)
        table = pa.table(
            {
                "event_id": event_id,
                "ts": ts.astype(np.int64),
                "user_id": user_id,
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
                "value": np.round(rng.gamma(2.0, 50.0, size=n), 2),
                "props": _payloads(rng, n),
            }
        )
        pq.write_table(table, out_dir / f"part-{f:05d}.parquet")
    return files * rows_per_file


@dataclass
class Corpus:
    n_docs: int
    #: (copy doc_id, source doc_id) for planted exact copies
    exact: list[tuple[int, int]]
    #: (copy doc_id, source doc_id) for planted near-copies
    near: list[tuple[int, int]]


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < size:
        ln = int(rng.integers(3, 10))
        words.add("".join(letters[rng.integers(0, 26, size=ln)]))
    return sorted(words)


def corpus(path: Path, seed: int, n_docs: int, min_tokens: int, max_tokens: int) -> Corpus:
    """Write ``(doc_id bigint, text string)`` documents.

    About 80% of the documents are fresh draws of Zipf-distributed words
    from a 4000-word vocabulary; 8% are planted exact copies of an
    earlier document (re-cased and re-spaced, so only the normalized
    text matches) and 12% are planted near-copies that substitute one
    token of their source with a word the source lacks.  A near-copy of
    an n-token source keeps token Jaccard >= 0.9 and 3-shingle Jaccard
    >= (n - 5) / (n + 1) to it: at least 0.96 for n >= 150.  Ids are
    shuffled so a copy's id is as likely to be below its source's as
    above it."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)
    ranks = np.arange(1, len(vocab) + 1)
    p = 1.0 / ranks**1.05
    p /= p.sum()
    ids = rng.permutation(np.arange(10_000, 10_000 + n_docs, dtype=np.int64))
    texts: list[str] = []
    exact: list[tuple[int, int]] = []
    near: list[tuple[int, int]] = []
    originals: list[int] = []
    kinds = rng.choice(3, size=n_docs, p=[0.80, 0.08, 0.12])
    for i in range(n_docs):
        if kinds[i] == 0 or len(originals) < 10:
            n = int(rng.integers(min_tokens, max_tokens + 1))
            toks = [vocab[j] for j in rng.choice(len(vocab), size=n, p=p)]
            texts.append(" ".join(toks))
            originals.append(i)
            continue
        src = originals[int(rng.integers(0, len(originals)))]
        if kinds[i] == 1:
            words = texts[src].split(" ")
            texts.append("  ".join(w.upper() if j % 7 == 0 else w for j, w in enumerate(words)) + " .")
            exact.append((int(ids[i]), int(ids[src])))
        else:
            toks = texts[src].split(" ")
            # "zq" words are not in the vocabulary, so never in the source
            toks[int(rng.integers(0, len(toks)))] = "zq" + vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            near.append((int(ids[i]), int(ids[src])))
    pq.write_table(pa.table({"doc_id": ids, "text": texts}), path)
    return Corpus(n_docs, exact, near)


def link_graph(path: Path, seed: int, ids: np.ndarray, trees: int, children: int, cycle: int) -> int:
    """Write a directed link graph ``(src bigint, dst bigint)`` over
    documents of the corpus: ``trees`` weak components, each a root
    cycle of ``cycle`` documents with ``children`` child cycles of the
    same size hanging off it, every child reached by one edge from a
    random root node to a random child node.  Each cycle is one SCC (a
    link ring); the condensation is a forest of stars.

    Node ids are a seeded sample of ``ids``, sorted and handed out in
    tree order (root cycle first), so a parent cycle's ids are below its
    children's.  Every SCC's minimum then reaches no smaller id, and
    ``strongly_connected_components`` decides all of them in its first
    outer round: the number of iterate rounds depends on the shape, not
    on the seed.  Returns the number of edges."""
    rng = np.random.default_rng([seed, 3])
    n_nodes = trees * (children + 1) * cycle
    nodes = np.sort(rng.choice(ids, size=n_nodes, replace=False)).reshape(trees, children + 1, cycle)
    src: list[int] = []
    dst: list[int] = []
    for tree in nodes:
        for ring in tree:
            src += ring.tolist()
            dst += np.roll(ring, -1).tolist()
        for child in tree[1:]:
            src.append(int(rng.choice(tree[0])))
            dst.append(int(rng.choice(child)))
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}), path)
    return len(src)
