"""Property-based tests (hypothesis): the reference's semantic invariants
hold for *arbitrary* record sets, not just the fixtures.

Kept cheap: small generated frames, few examples, no deadline (Spark job
latency dominates).  These complement the DuckDB oracle gate — the gate
pins exact values on real data; these pin algebraic laws on adversarial
data (empty frames, all-tombstones, duplicate keys, null keys).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_merge_purge_spark.operators import routing

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

#: (offset, key, value) — nullable key/value model tombstones + null keys
records_strategy = st.lists(
    st.tuples(
        st.integers(0, 10_000),
        st.one_of(st.none(), st.integers(0, 5).map(str)),
        st.one_of(st.none(), st.text("abc", min_size=0, max_size=5)),
    ),
    max_size=25,
    unique_by=lambda t: t[0],
)


def _records_df(spark, rows):
    return spark.createDataFrame(
        [("t", int(o) % 4, o, k, v) for o, k, v in rows],
        "topic string, partition int, offset long, key string, value string",
    )


@given(rows=records_strategy)
@SETTINGS
def test_purge_preserves_partition_and_never_double_tombstones(spark, rows):
    df = _records_df(spark, rows)
    out = routing.purge_all(df).collect()
    live = [r for r in rows if r[2] is not None]
    # one tombstone per live record (Pipeline.kt:93-95), none for tombstones
    assert len(out) == len(live)
    assert all(r["value"] is None for r in out)
    # partition-preserving (Pipeline.kt:97)
    by_offset = {r[0]: int(r[0]) % 4 for r in rows}
    assert all(r["partition"] == by_offset[r["src_offset"]] for r in out)


@given(rows=records_strategy)
@SETTINGS
def test_merge_all_leg_counts_balance(spark, rows):
    df = _records_df(spark, rows)
    out = routing.merge_all(df, "dest").collect()
    live = [r for r in rows if r[2] is not None]
    merge_leg = [r for r in out if r["leg"] == "merge"]
    purge_leg = [r for r in out if r["leg"] == "purge"]
    assert len(merge_leg) == len(purge_leg) == len(live)
    # merge leg carries the payload untouched; purge leg tombstones
    assert all(r["value"] is not None or r["leg"] == "purge" for r in out)
    assert {r["topic"] for r in merge_leg} <= {"dest"}


@given(rows=records_strategy)
@SETTINGS
def test_compaction_is_idempotent_and_unique_per_key(spark, rows):
    df = _records_df(spark, rows)
    once = routing.compaction(df)
    keys = [r["key"] for r in once.collect()]
    assert len(keys) == len(set(keys))  # ≤1 live row per key
    twice = routing.compaction(once)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(rows=records_strategy)
@SETTINGS
def test_tombstone_filter_is_a_projection_fixpoint(spark, rows):
    df = _records_df(spark, rows)
    once = routing.filter_tombstones(df)
    assert once.filter(F.col("value").isNull()).count() == 0
    assert routing.filter_tombstones(once).count() == once.count()


@given(
    texts=st.lists(st.text("ab c", min_size=0, max_size=20), min_size=1, max_size=8)
)
@SETTINGS
def test_rolling_hash_matches_python_model(spark, texts):
    import re

    from kafka_merge_purge_spark.operators import text as tx

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["rhash"] for r in tx.rolling_hash(df).collect()}

    def model(s: str) -> int:
        norm = re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()
        acc = 0
        for tok in norm.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % tx.ROLL_MOD
            acc = (acc * tx.ROLL_BASE + h) % tx.ROLL_MOD
        return acc

    assert got == {i: model(s) for i, s in enumerate(texts)}


edges_strategy = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 20)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=30,
)


@given(edges_strategy)
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """For arbitrary small graphs, distributed min-label propagation must
    equal a plain union-find (components keyed by their min node id)."""
    from kafka_merge_purge_spark.operators.components import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # both physical plans: the driver union-find fast path (default at
    # this size) and the distributed Pregel loop (forced)
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected
    dist = {
        r["node"]: r["component"]
        for r in connected_components(df, max_driver_edges=0).collect()
    }
    assert dist == expected


def test_connected_components_path_graph_converges_logarithmically(spark):
    """Adversarial high-diameter input: a 1,000-node path.  Plain
    min-label propagation needs 999 rounds; with pointer jumping the
    label horizon doubles per round, so 15 rounds must suffice — if the
    doubling regressed, max_iter=15 leaves wrong labels and this fails."""
    from kafka_merge_purge_spark.operators.components import connected_components

    n = 1000
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # force the distributed Pregel path — the driver union-find fast path
    # would otherwise absorb this graph and leave the doubling unpinned
    got = connected_components(df, max_iter=15, max_driver_edges=0)
    assert got.filter(F.col("component") != 0).isEmpty()
    assert got.count() == n


texts_strategy = st.lists(
    st.one_of(
        st.none(),
        st.text(
            "abcdefgh XYZ019 .,!?-\t", min_size=0, max_size=40
        ),
    ),
    min_size=0,
    max_size=12,
)


@given(texts=texts_strategy)
@SETTINGS
def test_shingle_frame_forms_agree_on_arbitrary_text(spark, texts):
    """The shingle kernel and the ``shingles()`` Catalyst HOF column are
    the same function for ANY text (case, punctuation runs, empties,
    NULLs) — set, order, and the NULL→[\"\"] fold all identical."""
    from kafka_merge_purge_spark.operators import dedup as dd

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    vec = {r["id"]: r["sh"] for r in dd.shingle_frame(df).collect()}
    col = {r["doc_id"]: r["sh"]
           for r in df.select("doc_id", dd.shingles(F.col("text")).alias("sh")).collect()}
    assert vec == col


@given(data=st.binary(min_size=0, max_size=64), width=st.integers(1, 9))
@SETTINGS
def test_pgm_pixel_stats_match_python_model(data, width):
    """pixel_stats over a synthesized P5 equals the direct byte model
    (zero padding included) for arbitrary payload bytes."""
    from kafka_merge_purge_spark.operators import multimodal as mm

    s = mm.pixel_stats(mm.synth_pgm(data, width=width))
    height = max(1, -(-len(data) // width))
    raster = data + b"\x00" * (height * width - len(data))
    assert s["format"] == "pgm" and s["n_bytes"] == len(raster)
    assert s["px_min"] == min(raster) and s["px_max"] == max(raster)
    assert s["px_sum"] == sum(raster)


@given(samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=40))
@SETTINGS
def test_wav_pcm_stats_match_python_model(samples):
    """pcm_stats over a synthesized WAV equals the signed-sample model
    for arbitrary 16-bit values (both sign extremes included)."""
    import struct as stt

    from kafka_merge_purge_spark.operators import multimodal as mm

    body = stt.pack(f"<{len(samples)}h", *samples)
    s = mm.pcm_stats(mm.synth_wav(body))
    assert s["format"] == "wav" and s["n_samples"] == len(samples)
    if samples:
        assert s["smp_min"] == min(samples) and s["smp_max"] == max(samples)
    else:
        assert (s["smp_min"], s["smp_max"]) == (0, 0)
    assert s["smp_sum"] == sum(samples)


@given(
    docs=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 30)),
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
@SETTINGS
def test_pack_sequences_matches_naive_for_sparse_ids(spark, docs):
    """The two-level prefix sum equals the naive global ordered window
    for arbitrary SPARSE, unordered ids and token counts (bucket math
    must not assume dense or contiguous ids)."""
    from kafka_merge_purge_spark.operators.text import pack_sequences

    rows = [(i, " ".join("w" for _ in range(max(n, 1)))) for i, n in docs]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["tokens_before"], r["shard_id"])
        for r in pack_sequences(df, capacity=7, bucket_size=3).collect()
    )
    cum, want = 0, []
    for i, n in sorted(docs):
        n_tok = max(n, 1)  # " ".join of k words → k tokens, min 1
        want.append((i, cum, cum // 7))
        cum += n_tok
    assert got == want


# ------------------------------------------------ curation tier laws

docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 1_000_000),
        st.text(alphabet="abc @.", min_size=0, max_size=40),
    ),
    max_size=12,
    unique_by=lambda t: t[0],
)


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@SETTINGS
@given(rows=docs_strategy)
def test_pii_redaction_is_idempotent(spark, rows):
    """redact(redact(x)) == redact(x): masks contain no redactable spans,
    so a second pass never changes the text — the law that makes the
    operator safe to re-run in a retried pipeline stage."""
    from kafka_merge_purge_spark.operators.curation import redact_pii

    df = _docs_df(spark, rows).withColumn("pii_text", F.col("text"))
    once = redact_pii(df)
    twice = redact_pii(once.select("doc_id", F.col("text_redacted").alias("pii_text")))
    a = {r["doc_id"]: r["text_redacted"] for r in once.collect()}
    b = {r["doc_id"]: r["text_redacted"] for r in twice.collect()}
    assert a == b


@SETTINGS
@given(rows=docs_strategy)
def test_line_dedup_counts_are_conserved(spark, rows):
    """kept + removed == total lines, and cleaned text token-prefix order
    is preserved (no reordering from the struct sort)."""
    from kafka_merge_purge_spark.operators.curation import boilerplate_line_dedup

    df = _docs_df(spark, rows)
    out = boilerplate_line_dedup(df).collect()
    for r in out:
        assert r["n_lines_kept"] + r["n_lines_removed"] == r["n_lines"]
        assert r["n_lines"] >= 1


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1_000_000),
            st.lists(st.sampled_from("ab"), min_size=0, max_size=12).map(" ".join),
        ),
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_duplicate_spans_matches_pure_python_reference(spark, rows):
    """duplicate_spans == a brute-force reference on adversarial tiny-vocab
    corpora (2-letter alphabet forces heavy gram collisions): same spans,
    maximal (non-adjacent) and within-document disjoint."""
    import hashlib

    from kafka_merge_purge_spark.operators.dedup import duplicate_spans

    K = 3

    def norm_toks(t):
        return [w for w in t.lower().split(" ") if w] or [""]

    def grams(t):
        tk = norm_toks(t)
        n = len(tk)
        return [" ".join(tk[i : i + K]) for i in range(max(n - K + 1, 1))]

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    per_doc = {i: [h(g) for g in grams(t)] for i, t in rows}
    docs_of = {}
    for i, hs in per_doc.items():
        for x in set(hs):
            docs_of.setdefault(x, set()).add(i)
    expect = set()
    for i, hs in per_doc.items():
        ntok = len(norm_toks(dict(rows)[i]))
        dup_pos = [p + 1 for p, x in enumerate(hs) if len(docs_of[x]) >= 2]
        run = []
        for p in dup_pos:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expect.add((i, run[0], min(run[-1] + K - 1, ntok)))
                run = [p]
        if run:
            expect.add((i, run[0], min(run[-1] + K - 1, ntok)))

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=K, min_docs=2).collect()
    }
    assert got == expect


def test_snm_full_window_equals_exact_all_pairs(spark):
    """Sorted-neighborhood with window >= n-1 degenerates to ALL pairs,
    so its verified output must equal ngram_jaccard_pairs exactly — the
    exhaustiveness anchor for the windowed approximation (any miss at
    full window would mean the rank or verify stage drops pairs)."""
    import random

    from kafka_merge_purge_spark.operators import dedup as dd

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 10))))
        for i in range(1, 10)
    ]
    # plant exact and near duplicates so the >=0.2 pair set is non-empty
    rows.append((10, rows[0][1]))
    rows.append((11, rows[1][1] + " omega"))
    rows.append((12, rows[2][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.ngram_jaccard_pairs(df, threshold=0.2).collect()
    )
    snm = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dd.sorted_neighborhood_pairs(
            df, window=len(rows) - 1, jaccard_threshold=0.2
        ).collect()
    )
    assert snm == exact and len(exact) > 0


url_strategy = st.lists(
    st.builds(
        lambda scheme, www, host, port, path, slash, params, frag: (
            f"{scheme}://{www}{host}{port}/{path}{slash}"
            + ("?" + "&".join(params) if params else "")
            + frag
        ),
        scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
        www=st.sampled_from(["", "www.", "WWW."]),
        host=st.sampled_from(["a.example.com", "B.example.COM", "site.org"]),
        port=st.sampled_from(["", ":80", ":443", ":8080"]),
        path=st.sampled_from(["", "p", "p/q", "P/Q"]),
        slash=st.sampled_from(["", "/", "//"]),
        params=st.lists(
            st.sampled_from(["a=1", "b=2", "utm_source=x", "gclid=z", "z=9"]),
            max_size=4,
        ),
        frag=st.sampled_from(["", "#f"]),
    ),
    min_size=1,
    max_size=12,
)


@given(urls=url_strategy)
@SETTINGS
def test_canonical_url_is_idempotent(spark, urls):
    """canonical_url(canonical_url(u)) == canonical_url(u): the
    canonical form is a fixed point — re-canonicalizing a cleaned URL
    never changes it (no normalization step reintroduces work for a
    later one)."""
    from kafka_merge_purge_spark.operators.curation import canonical_url

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    once = canonical_url(df).select(
        "doc_id", F.col("canonical_url").alias("url")
    )
    twice = canonical_url(once)
    rows = twice.collect()
    assert all(r["url"] == r["canonical_url"] for r in rows)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=1,
            max_size=80,
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_char_entropy_bounds(spark, texts):
    """0 ≤ entropy ≤ log2(n_distinct_chars) for every document, with
    equality at 0 iff one distinct char; counts and value equal a
    Python Counter entropy on arbitrary printable input."""
    import math
    from collections import Counter

    from kafka_merge_purge_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    a = sorted(map(tuple, char_entropy(df).collect()))
    want = []
    for i, t in enumerate(texts):
        if t:
            c = Counter(t)
            h = -sum(v / len(t) * math.log2(v / len(t)) for v in c.values())
            want.append((i, len(t), len(c), h))
    assert [r[:3] for r in a] == [w[:3] for w in want]
    assert all(abs(r[3] - w[3]) <= 2e-6 for r, w in zip(a, want))
    for _, n, k, ent in a:
        assert 0.0 <= ent <= round(math.log2(k), 6) + 1e-9
        assert (ent == 0.0) == (k == 1)


@given(
    pts=st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
        max_size=20,
    )
)
@SETTINGS
def test_spearman_matches_python_model(spark, pts):
    """spearman_corr == pure-Python average-tie Spearman (exact
    fractions) on arbitrary integer point sets — ties, negatives,
    constants, empties all generated."""
    import math
    from fractions import Fraction

    from kafka_merge_purge_spark.operators.similarity import spearman_corr

    df = spark.createDataFrame(pts, "x long, y long") if pts else (
        spark.createDataFrame([], "x long, y long")
    )
    got = spearman_corr(df, "x", "y", bucket_size=7).collect()[0]
    assert got["n"] == len(pts)

    def avg_ranks(vs):
        below, out = 0, {}
        for v in sorted(set(vs)):
            c = vs.count(v)
            out[v] = Fraction(2 * below + c + 1, 2)
            below += c
        return [out[v] for v in vs]

    if not pts:
        assert got["spearman_rho"] is None
        return
    xs, ys = [p[0] for p in pts], [p[1] for p in pts]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(pts)
    sx, sy = sum(rx), sum(ry)
    num = n * sum(a * b for a, b in zip(rx, ry)) - sx * sy
    dx = n * sum(a * a for a in rx) - sx * sx
    dy = n * sum(b * b for b in ry) - sy * sy
    if dx <= 0 or dy <= 0:
        assert got["spearman_rho"] is None
    else:
        want = round(float(num) / (math.sqrt(float(dx)) * math.sqrt(float(dy))), 6)
        assert got["spearman_rho"] == want


@given(
    ids=st.lists(st.integers(-20, 20), max_size=15, unique=True),
    lo=st.integers(1, 3),
    span=st.integers(0, 3),
)
@SETTINGS
def test_offset_pairs_equals_quadratic_filter(spark, ids, lo, span):
    """offset_pairs == the quadratic cross-filter for arbitrary sparse
    (gappy, negative) id sets and offset windows — the equi rewrite
    must not assume dense or positive ids."""
    from kafka_merge_purge_spark.operators.rangejoin import offset_pairs

    hi = lo + span
    df = spark.createDataFrame([(i,) for i in ids], "k long") if ids else (
        spark.createDataFrame([], "k long")
    )
    got = sorted(
        (r["a"], r["b"])
        for r in offset_pairs(df, df, "k", max_offset=hi, min_offset=lo)
        .select(F.col("a.k").alias("a"), F.col("b.k").alias("b"))
        .collect()
    )
    want = sorted(
        (i, j) for i in ids for j in ids if lo <= j - i <= hi
    )
    assert got == want
