"""Sanity + plan-shape tests for the relational/LLM operator surface.
(Value-level correctness is covered by the DuckDB parity gate —
tools/parity.py / the driver's t2.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_merge_purge_spark.operators import dedup as dd
from kafka_merge_purge_spark.operators import similarity as sim
from kafka_merge_purge_spark.operators import text as tx
from kafka_merge_purge_spark.operators.sessionize import session_stats, sessionize
from kafka_merge_purge_spark.plans.introspect import (
    has_broadcast_join,
    pushed_filters,
    read_schema,
)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello, world!"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_copies"] for r in dd.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # normalization folds 1 and 2 together


def test_shingles_and_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "doc_id long, text string",
    )
    pairs = dd.ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_exact_dup_pair(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely unrelated text about spark engines")],
        "doc_id long, text string",
    )
    pairs = dd.minhash_lsh_pairs(df, jaccard_threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_minhash_drops_degenerate_docs_before_banding(spark):
    # documents normalizing to empty text shingle to [""] and would
    # collide in every band (quadratic mega-bucket); they must be
    # filtered before the self-join and never pair with anything
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it"),
         (2, "the quick brown fox jumps over it"),
         (3, "!!! ... ???"), (4, "~~~"), (5, ""), (6, None)],
        "doc_id long, text string",
    )
    pairs = dd.minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]


def test_minhash_agrees_with_exact_jaccard(tables):
    docs = tables["documents"].limit(200)
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(docs, jaccard_threshold=0.8).collect()
    }
    # LSH candidates are verified with the same exact jaccard → subset;
    # at threshold 0.8 with 4x4 banding recall should be near-total
    assert lsh <= exact
    if exact:
        assert len(lsh) >= len(exact) * 0.8


def _py_tokens(text):
    """Python model of ``tokens(normalize(text))``: lowercase, squeeze
    non-alphanumerics to one space, trim, split on spaces."""
    import re

    return re.sub("[^a-z0-9]+", " ", text.lower()).strip().split(" ")


def _py_md5_int(s):
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_simhash(text, bits=32):
    """Majority vote over the distinct tokens' 60-bit md5 hashes; NULL
    text fingerprints to 0."""
    if text is None:
        return 0
    hs = [_py_md5_int(t) for t in dict.fromkeys(_py_tokens(text))]
    return sum(
        1 << j for j in range(bits) if 2 * sum((h >> j) & 1 for h in hs) >= len(hs)
    )


def test_simhash_near_for_similar_docs(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])
    assert fps == {r["doc_id"]: _py_simhash(r["text"]) for r in df.collect()}


def test_brute_force_topk_selfexcluded_and_ranked(tables):
    emb = tables["embeddings"]
    out = sim.brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=4)
    rows = out.collect()
    assert len(rows) == 12
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4]
        assert all(r["neighbor_id"] != q for r in rs)
        cos = [r["cos"] for r in rs]
        assert cos == sorted(cos, reverse=True)


def test_brute_force_topk_broadcasts_queries(tables):
    emb = tables["embeddings"]
    plan_df = sim.brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=4)
    assert has_broadcast_join(plan_df)


def test_ivf_topk_mostly_agrees_with_exact(tables):
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(probes, emb, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.ivf_topk(probes, emb, k=3, n_cells=8, nprobe=4).collect()
    }
    # approximate search: require meaningful recall, not equality
    assert len(exact & approx) >= len(exact) * 0.5


def test_kmeans_centroids_deterministic_and_normalized(tables):
    import numpy as np

    emb = tables["embeddings"]
    c1 = sim.kmeans_centroids(emb, 8)
    c2 = sim.kmeans_centroids(emb, 8)
    r1 = {r["cell_id"]: r["centroid"] for r in c1.collect()}
    r2 = {r["cell_id"]: r["centroid"] for r in c2.collect()}
    assert r1 == r2  # fixed sample + fixed init + fixed iters
    assert sorted(r1) == list(range(1, 9))
    for v in r1.values():
        assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-9  # unit sphere


def test_lsh_topk_recall_vs_brute_force(tables):
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.brute_force_topk(probes, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.lsh_topk(probes, emb, k=5, n_planes=4, n_tables=16).collect()
    }
    # deterministic hyperplanes → deterministic recall (measured 0.91)
    assert len(exact & approx) >= len(exact) * 0.8


def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(1, 101))  # 100 tokens
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = {r["chunk_idx"]: r for r in tx.chunk_documents(df, 50, 10).collect()}
    assert sorted(chunks) == [1, 2, 3]
    assert chunks[1]["n_chunk_tokens"] == 50 and chunks[1]["chunk_text"].startswith("t1 ")
    assert chunks[2]["chunk_text"].startswith("t41 ")   # stride 40 → overlap 10
    assert chunks[3]["n_chunk_tokens"] == 20            # tail chunk clamps
    # a short doc still yields exactly one chunk
    short = spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    assert tx.chunk_documents(short, 50, 10).count() == 1


def test_tfidf_rare_term_ranks_first(spark):
    df = spark.createDataFrame(
        [(1, "common rare common"), (2, "common common other")],
        "doc_id long, text string",
    )
    out = tx.tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r["word"] for r in out}
    # 'common' appears in every doc → idf 0; doc-unique terms win
    assert top == {1: "rare", 2: "other"}


def test_rolling_hash_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["rhash"] for r in tx.rolling_hash(df).collect()}
    assert out[1] == out[3]          # same token stream → same hash
    assert out[1] != out[2]          # reordered tokens → different hash
    assert all(0 <= v < tx.ROLL_MOD for v in out.values())


def test_media_features_md5_and_bytes(spark):
    from kafka_merge_purge_spark.operators import multimodal as mm
    import hashlib

    df = spark.createDataFrame(
        [(1, b"hello"), (2, None)], "media_id long, payload binary"
    )
    media = mm.attach_meta(df, kind="image", fmt="png")
    rows = {r["media_id"]: r for r in mm.extract_features(media, fake=True).collect()}
    assert rows[1]["n_bytes"] == 5
    assert rows[1]["payload_md5"] == hashlib.md5(b"hello").hexdigest()
    assert len(rows[1]["feature"]) == 8
    assert rows[2]["n_bytes"] == 0 and rows[2]["feature"] == [0.0] * 8


def test_wav_synth_parse_roundtrip():
    from kafka_merge_purge_spark.operators import multimodal as mm
    import hashlib

    data = b"0123456789abcdef" * 100  # 1600 bytes of "PCM"
    wav = mm.synth_wav(data, sample_rate=8000, channels=2, bits=16)
    m = mm.parse_media_meta(wav)
    assert m["format"] == "wav"
    assert m["sample_rate"] == 8000 and m["channels"] == 2 and m["bits"] == 16
    assert m["data_bytes"] == 1600
    # byte_rate = 8000*2*2 = 32000 → 1600 bytes = 50 ms
    assert m["duration_ms"] == 50
    assert m["data_md5"] == hashlib.md5(data).hexdigest()
    # odd-length data chunk: RIFF requires a pad byte after the body
    # (size field stays 3, RIFF size includes the pad — r4 advice), so
    # the container ends word-aligned and a chunk appended after ``data``
    # still parses from the right offset
    odd = mm.synth_wav(b"abc", sample_rate=16000)
    assert len(odd) % 2 == 0
    m_odd = mm.parse_media_meta(odd)
    assert m_odd["data_bytes"] == 3
    assert m_odd["data_md5"] == hashlib.md5(b"abc").hexdigest()
    trailed = odd + b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    m_trail = mm.parse_media_meta(trailed)
    assert m_trail["data_bytes"] == 3
    assert m_trail["data_md5"] == hashlib.md5(b"abc").hexdigest()


def test_bmp_synth_parse_roundtrip():
    from kafka_merge_purge_spark.operators import multimodal as mm

    bmp = mm.synth_bmp(b"x" * 100, width=10)  # 10px → 30B rows + 2B pad
    m = mm.parse_media_meta(bmp)
    assert m["format"] == "bmp"
    assert m["width"] == 10 and m["height"] == 4  # ceil(100/30)
    assert m["bits"] == 24
    assert m["data_bytes"] == 4 * 32  # 4 rows × (30 + 2 pad)
    # empty payload still produces a 1-row image
    assert mm.parse_media_meta(mm.synth_bmp(b"", width=5))["height"] == 1


def test_parse_media_meta_rejects_garbage():
    from kafka_merge_purge_spark.operators import multimodal as mm

    for junk in (None, b"", b"not a container at all", b"RIFFxxxx????toolong"):
        m = mm.parse_media_meta(junk)
        assert m["format"] is None and m["width"] is None and m["duration_ms"] is None


def test_media_real_decode_features(spark):
    """fake=False runs the REAL header parse: features carry parsed dims."""
    from kafka_merge_purge_spark.operators import multimodal as mm

    wav = mm.synth_wav(b"\x00\x01" * 8000, sample_rate=16000)  # 500 ms mono
    bmp = mm.synth_bmp(b"y" * 60, width=4)
    df = spark.createDataFrame(
        [(1, wav), (2, bmp), (3, b"junk")], "media_id long, payload binary"
    )
    media = mm.attach_meta(df, kind="audio", fmt="wav")
    rows = {r["media_id"]: r for r in mm.extract_features(media, fake=False).collect()}
    # feature = [fmt_code, width, height, duration_ms, sample_rate, channels, bits, data_bytes]
    assert rows[1]["feature"] == [1.0, 0.0, 0.0, 500.0, 16000.0, 1.0, 16.0, 16000.0]
    assert rows[2]["feature"][:3] == [2.0, 4.0, 5.0]  # bmp 4px wide, ceil(60/12)=5 rows
    assert rows[3]["feature"] == [0.0] * 8  # unrecognized container → zeros


def test_decode_meta_dataframe(spark):
    from kafka_merge_purge_spark.operators import multimodal as mm

    wav = mm.synth_wav(b"ab" * 441, sample_rate=44100)
    df = spark.createDataFrame([(7, wav), (8, None)], "media_id long, payload binary")
    rows = {r["media_id"]: r for r in mm.decode_meta(df).collect()}
    assert rows[7]["format"] == "wav" and rows[7]["sample_rate"] == 44100
    assert rows[7]["data_bytes"] == 882 and rows[7]["duration_ms"] == 10
    assert rows[8]["format"] is None and rows[8]["data_bytes"] is None


def test_frame_sample_plan_counts(spark):
    from kafka_merge_purge_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "video", 3500), (2, "video", 400), (3, "image", 9000)],
        "media_id long, kind string, duration_ms long",
    ).select(
        "media_id",
        F.lit(None).cast("binary").alias("payload"),
        F.struct(
            F.col("kind"),
            F.lit("mp4").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.col("duration_ms"),
        ).alias("meta"),
    )
    out = mm.frame_sample_plan(df, every_ms=1000).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r["sample_at_ms"])
    assert sorted(by_media[1]) == [0, 1000, 2000]   # floor(3500/1000) = 3 frames
    assert sorted(by_media[2]) == [0]               # sub-interval → 1 frame min
    assert 3 not in by_media                        # non-video filtered out


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [(1, "the fast join wins"), (2, "der die das haus"), (3, "zzz qqq")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_guess"] for r in tx.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_sessionize_gap_splits(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 100),
         (2, "2024-01-01 00:10:00", 100),
         (3, "2024-01-01 02:00:00", 100),
         (4, "2024-01-01 00:00:00", 200)],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize(df, gap_minutes=30)
    sess = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert sess[1] == 1 and sess[2] == 1 and sess[3] == 2 and sess[4] == 1
    stats = session_stats(df, gap_minutes=30).collect()
    s1 = [r for r in stats if r["user_id"] == 100 and r["session_id"] == 1][0]
    assert s1["n_events"] == 2 and s1["span_sec"] == 600


def test_salted_aggregation_matches_plain_and_rejects_bad_combiners(spark, tables):
    import pytest as _pytest
    from kafka_merge_purge_spark.operators.skew import salted_aggregation

    e = tables["events"]
    salted = salted_aggregation(
        e, ["event_type"],
        {"sum_value": F.sum(F.col("value").cast("decimal(18,4)")), "n": F.count(F.lit(1))},
    )
    plain = e.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        F.count(F.lit(1)).alias("n"),
    )
    got = {r["event_type"]: (r["sum_value"], r["n"]) for r in salted.collect()}
    want = {r["event_type"]: (r["sum_value"], r["n"]) for r in plain.collect()}
    assert got == want  # decimal partials recombine exactly
    with _pytest.raises(ValueError, match="avg_value"):
        salted_aggregation(e, ["event_type"], {"avg_value": F.avg("value")})


def test_salted_join_matches_plain_join(tables):
    from kafka_merge_purge_spark.operators.skew import salted_join

    o, c = tables["orders"], tables["customer"]
    plain = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
    salted = salted_join(o, c, "o_custkey", "c_custkey", salt_factor=8).select(
        "o_orderkey", "c_name"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_auto_salted_join_engages_only_above_threshold(spark):
    """The r10 verdict's missing last mile, wired: auto_salted_join
    measures the hottest fact-key share and salts only when it crosses
    the threshold.  Planted-skew frame → salted plan (the `_salt`
    explode is visible); uniform frame → plain join (no `_salt`);
    results equal the plain join in BOTH regimes."""
    from pyspark.sql import functions as F2

    from kafka_merge_purge_spark.operators.skew import (
        auto_salted_aggregation,
        auto_salted_join,
        measured_key_share,
    )

    # 700 rows of key 1 + 300 distinct keys → top share ~0.7
    hot = spark.range(1000).select(
        F2.when(F2.col("id") < 700, F2.lit(1)).otherwise(F2.col("id")).alias("k"),
        F2.col("id").alias("payload"),
    )
    uniform = spark.range(1000).select(
        F2.col("id").alias("k"), F2.col("id").alias("payload")
    )
    dim = spark.range(1000).select(
        F2.col("id").alias("dk"), F2.concat(F2.lit("n"), F2.col("id")).alias("name")
    )
    assert measured_key_share(hot, "k") == 0.7
    assert measured_key_share(uniform, "k") < 0.05
    assert measured_key_share(hot.limit(0), "k") == 0.0

    engaged = auto_salted_join(hot, dim, "k", "dk", share_threshold=0.05)
    assert "_salt" in engaged._jdf.queryExecution().executedPlan().toString()
    off = auto_salted_join(uniform, dim, "k", "dk", share_threshold=0.05)
    assert "_salt" not in off._jdf.queryExecution().executedPlan().toString()

    for out, fact in ((engaged, hot), (off, uniform)):
        plain = fact.join(dim, fact["k"] == dim["dk"]).select("payload", "name")
        got = out.select("payload", "name")
        assert got.exceptAll(plain).count() == 0
        assert plain.exceptAll(got).count() == 0

    # aggregation twin: same threshold logic, schema identical either way
    aggs = {"n": F2.count(F2.lit(1)), "sum_payload": F2.sum("payload")}
    a_on = auto_salted_aggregation(hot, ["k"], aggs, share_threshold=0.05)
    a_off = auto_salted_aggregation(uniform, ["k"], aggs, share_threshold=0.05)
    assert "_salt" in a_on._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in a_off._jdf.queryExecution().executedPlan().toString()
    assert a_on.columns == a_off.columns == ["k", "n", "sum_payload"]
    want = {r["k"]: (r["n"], r["sum_payload"]) for r in
            hot.groupBy("k").agg(*[e.alias(n) for n, e in aggs.items()]).collect()}
    got = {r["k"]: (r["n"], r["sum_payload"]) for r in a_on.collect()}
    assert got == want

    import pytest as _pytest

    with _pytest.raises(ValueError):
        auto_salted_aggregation(hot, ["k"], {"avg_payload": F2.avg("payload")})


def test_salted_join_spreads_hot_key(spark):
    from kafka_merge_purge_spark.operators.skew import salted_join
    from pyspark.sql import functions as F2

    # one hot key (1000 rows of key 7) + dimension of 3 keys
    fact = spark.range(1000).select(F2.lit(7).alias("k"), F2.col("id").alias("payload"))
    dim = spark.createDataFrame([(7, "hot"), (8, "a"), (9, "b")], "dk long, name string")
    out = salted_join(fact, dim, "k", "dk", salt_factor=8)
    assert out.count() == 1000
    # the salt derived from fact columns actually fans the hot key out
    salts = (
        fact.withColumn("_salt", F2.pmod(F2.xxhash64("k", "payload"), F2.lit(8)))
        .select("_salt").distinct().count()
    )
    assert salts == 8


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 4-node chain (needs >1 round to converge),
    a separate triangle, and a 2-node island each collapse to their
    minimum node id."""
    from kafka_merge_purge_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),   # chain 10-11-12-13
         (2, 3), (3, 4), (2, 4),         # triangle
         (7, 8)],                        # island pair
        "id_a long, id_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 2: 2, 3: 2, 4: 2, 7: 7, 8: 7}


def test_connected_components_paths_agree_on_schema_and_nulls(spark):
    """Which physical plan fires (driver union-find vs distributed
    Pregel) must be unobservable: same output dtype (the union-coerced
    id type, here int) and same NULL handling (null-endpoint edges are
    dropped, not crashed on) on both paths (r4 advice)."""
    from kafka_merge_purge_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 9), (9, None), (5, 6)],
        "id_a int, id_b int",
    )
    fast = connected_components(edges)
    pregel = connected_components(edges, max_driver_edges=0)
    assert fast.dtypes == pregel.dtypes == [("node", "int"), ("component", "int")]
    want = {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}  # 9's edges are null-sided → absent
    assert {r["node"]: r["component"] for r in fast.collect()} == want
    assert {r["node"]: r["component"] for r in pregel.collect()} == want


def test_embedding_neardup_underestimated_hint_falls_back(tables):
    """A too-small n_rows hint must NOT trigger an unbounded driver
    collect: the probe is limit-guarded even with a hint, so the call
    falls through to the distributed path and still returns exact
    results (r4 advice)."""
    emb = tables["embeddings"]
    lied = dd.embedding_near_dup_pairs(
        emb, threshold=0.4, n_rows=1, broadcast_max_rows=10, block_size=64
    )
    default = dd.embedding_near_dup_pairs(emb, threshold=0.4)
    assert {(r.id_a, r.id_b, r.cos) for r in lied.collect()} == {
        (r.id_a, r.id_b, r.cos) for r in default.collect()
    }


def test_aqe_splits_skewed_join_partition(spark):
    """The platform-native alternative to manual salting: with AQE skew
    handling on (thresholds tuned down to the test's data size), a 95%-hot
    key gets its shuffle partition split at runtime — the final adaptive
    plan carries the skew=true marker.  At 100 TB the default thresholds
    (256MB) do this automatically; skew.salted_join remains the
    deterministic-plan alternative when AQE is unavailable."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(400_000).select(
            F.when(F.col("id") < 380_000, F.lit(7))
            .otherwise(F.col("id") % 100)
            .cast("long")
            .alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(20_000).select(
            F.col("id").alias("dk"), F.concat(F.lit("n"), F.col("id")).alias("name")
        )
        out = fact.join(dim, fact.k == dim.dk)
        assert len(out.collect()) == 400_000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan  # the hot partition was split at runtime
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_salted_join_rejects_dim_duplicating_join_types(tables):
    from kafka_merge_purge_spark.operators.skew import salted_join

    o, c = tables["orders"], tables["customer"]
    for how in ("right", "full_outer", "full", "cross"):
        with pytest.raises(ValueError, match="not result-preserving"):
            salted_join(o, c, "o_custkey", "c_custkey", how=how)


def test_embedding_neardup_plan_has_no_shuffle(tables):
    from kafka_merge_purge_spark.plans.introspect import shuffle_count

    out = dd.embedding_near_dup_pairs(tables["embeddings"], threshold=0.4)
    # broadcast-corpus GEMM: a narrow mapInPandas over the scan — any
    # Exchange here would mean the pairing shuffles the corpus
    assert shuffle_count(out) == 0


def test_embedding_neardup_broadcast_path_never_counts(tables, monkeypatch):
    """The broadcast fast path must not run a dedicated count scan: the
    limit-probe IS the collect (r3 verdict item 7 — at 100 TB an extra
    count is a wasted full scan)."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("count() called on the broadcast fast path")

    monkeypatch.setattr(DataFrame, "count", boom)
    out = dd.embedding_near_dup_pairs(tables["embeddings"], threshold=0.4)
    assert len(out.collect()) > 0


def test_embedding_neardup_n_rows_hint_skips_probe(tables):
    """An exact n_rows hint picks the physical plan with zero extra jobs
    and must not change results."""
    emb = tables["embeddings"]
    n = emb.count()
    hinted = dd.embedding_near_dup_pairs(emb, threshold=0.4, n_rows=n)
    default = dd.embedding_near_dup_pairs(emb, threshold=0.4)
    assert {(r.id_a, r.id_b, r.cos) for r in hinted.collect()} == {
        (r.id_a, r.id_b, r.cos) for r in default.collect()
    }


def test_embedding_neardup_block_path_matches_broadcast(tables):
    emb = tables["embeddings"]
    fast = dd.embedding_near_dup_pairs(emb, threshold=0.4)
    # Force the distributed block-pair GEMM (no driver collect of the
    # corpus) with several blocks; exact quantized dots → identical pairs.
    blocked = dd.embedding_near_dup_pairs(
        emb, threshold=0.4, broadcast_max_rows=0, block_size=37
    )
    f = {(r.id_a, r.id_b): r.cos for r in fast.collect()}
    b = {(r.id_a, r.id_b): r.cos for r in blocked.collect()}
    assert f == b and len(f) > 0


def test_binned_range_join_matches_naive_and_hash_joins(spark, tables):
    from kafka_merge_purge_spark.operators.rangejoin import binned_range_join
    from kafka_merge_purge_spark.plans.introspect import node_count

    e = tables["events"]
    bands = spark.createDataFrame(
        [(0, 0.0, 50.0), (1, 50.0, 100.0), (2, 100.0, 200.0), (3, 200.0, 1e9)],
        "band_id int, lo double, hi double",
    )
    naive = e.join(
        F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi)
    ).select("event_id", "band_id")
    binned = binned_range_join(
        e, F.broadcast(bands), "value", bin_width=64.0, hi_cap=1024.0
    ).select("event_id", "band_id")
    assert binned.exceptAll(naive).count() == 0
    assert naive.exceptAll(binned).count() == 0
    # the whole point: an equi hash join, not a nested-loop join
    assert node_count(binned, "BroadcastHashJoin") == 1
    assert node_count(binned, "BroadcastNestedLoopJoin") == 0


def test_offset_pairs_matches_naive_and_hash_joins(spark, tables):
    from kafka_merge_purge_spark.operators.rangejoin import offset_pairs
    from kafka_merge_purge_spark.plans.introspect import node_count

    v = tables["embeddings"].select("vec_id", "label")
    naive = (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("b.vec_id") > F.col("a.vec_id"))
            & (F.col("b.vec_id") - F.col("a.vec_id") <= 4),
        )
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
    fast = offset_pairs(v, v, "vec_id", max_offset=4).select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
    )
    assert fast.exceptAll(naive).count() == 0
    assert naive.exceptAll(fast).count() == 0
    # the whole point: an equi hash join, not a nested-loop join
    assert node_count(fast, "BroadcastNestedLoopJoin") == 0
    assert node_count(fast, "CartesianProduct") == 0
    assert (
        node_count(fast, "BroadcastHashJoin")
        + node_count(fast, "SortMergeJoin")
        + node_count(fast, "ShuffledHashJoin")
        == 1
    )


def test_offset_pairs_min_offset_and_validation(spark):
    from kafka_merge_purge_spark.operators.rangejoin import offset_pairs

    df = spark.range(6).withColumnRenamed("id", "k")
    got = sorted(
        (r["a"], r["b"])
        for r in offset_pairs(df, df, "k", max_offset=3, min_offset=2)
        .select(F.col("a.k").alias("a"), F.col("b.k").alias("b"))
        .collect()
    )
    want = sorted(
        (i, i + d) for i in range(6) for d in (2, 3) if i + d < 6
    )
    assert got == want
    with pytest.raises(ValueError, match="min_offset"):
        offset_pairs(df, df, "k", max_offset=1, min_offset=2)
    with pytest.raises(ValueError, match="_d"):
        offset_pairs(df.withColumn("_d", F.lit(1)), df, "k", max_offset=1)


def test_link_auc_plan_has_no_nested_loop_join(spark):
    from kafka_merge_purge_spark.plans.introspect import node_count
    import __spark_entry__ as E

    df = E.queries()["x_link_auc"](spark, "/root/testdata/sf0.001")
    assert node_count(df, "BroadcastNestedLoopJoin") == 0
    assert node_count(df, "CartesianProduct") == 0


def test_train_test_split_deterministic_and_proportional(tables):
    split = tx.train_test_split(tables["documents"])
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == tables["documents"].count()
    assert 0.7 < counts["train"] / total < 0.9  # md5 buckets ≈ uniform
    # deterministic: identical assignment on recompute
    again = {r["doc_id"]: r["split"] for r in tx.train_test_split(tables["documents"]).collect()}
    first = {r["doc_id"]: r["split"] for r in split.collect()}
    assert first == again


def test_bucketed_join_needs_no_shuffle(spark, tables, tmp_path):
    from kafka_merge_purge_spark.plans.introspect import shuffle_count

    # co-located join: both sides bucketed 8 ways on the join key —
    # the 100 TB pattern for repeated fact⋈fact joins without exchanges
    for name, df, key in (
        ("orders_b", tables["orders"], "o_custkey"),
        ("customer_b", tables["customer"], "c_custkey"),
    ):
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = spark.table("orders_b")
        c = spark.table("customer_b")
        joined = o.join(c, o.o_custkey == c.c_custkey).select("o_orderkey", "c_name")
        assert shuffle_count(joined) == 0
        assert joined.count() == tables["orders"].count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_partitioned_parquet_sink_roundtrip(spark, tables, tmp_path):
    from kafka_merge_purge_spark.sources.write import write_parquet
    from kafka_merge_purge_spark.plans.introspect import formatted_plan

    events = tables["events"]
    out = str(tmp_path / "events_by_type")
    write_parquet(
        events, out, partition_by=("event_type",), sort_within=("ts",),
        max_records_per_file=100_000,
    )
    back = spark.read.parquet(out)
    assert back.count() == events.count()
    # directory partitioning is prunable: a filter on the partition column
    # reaches the scan as a partition filter, not a data filter
    pruned = back.filter(back.event_type == "click")
    assert "PartitionFilters" in formatted_plan(pruned)
    assert (tmp_path / "events_by_type" / "event_type=click").exists()


def test_filter_pushdown_reaches_scan(spark, tables):
    df = tables["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    pushed = pushed_filters(df)
    assert any("o_orderstatus" in f for f in pushed)
    # column pruning: scan reads only the two needed columns
    assert set(read_schema(df)) <= {"o_orderkey", "o_orderstatus"}


def test_connected_components_empty_edges(spark):
    from kafka_merge_purge_spark.operators.components import connected_components

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty).count() == 0


def test_embedding_neardup_block_path_tolerates_empty_blocks(spark):
    # block_size=1 over 3 rows → most hash blocks empty; pairing must
    # still find every pair instead of crashing on a side-less group
    df = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in (1, 2, 3)], "vec_id long, embedding array<float>"
    )
    out = dd.embedding_near_dup_pairs(df, threshold=0.9, broadcast_max_rows=0, block_size=1)
    # compare as a sorted LIST, not a set: an off-diagonal group with an
    # empty side that mis-classifies as diagonal re-emits intra-block
    # pairs — duplicates a set comparison would hide
    pairs = sorted((r["id_a"], r["id_b"]) for r in out.collect())
    assert pairs == [(1, 2), (1, 3), (2, 3)]


def test_fuzzy_dedup_end_to_end(spark):
    # two dup clusters ({1,2,3} transitively, {10,11}) + two singletons;
    # doc 3 only chains through 2 — components must close the transitive
    # link even when 1 and 3 share no band
    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again!"),
        (3, "a quick brown fox jumps over the lazy dog again and again!"),
        (10, "completely different text about spark catalyst optimizer plans"),
        (11, "completely different text about spark catalyst optimizer plan"),
        (20, "unrelated singleton document with its own vocabulary entirely"),
        (21, "another lonely document sharing nothing with the rest at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.fuzzy_dedup(df, jaccard_threshold=0.5).collect()}
    assert len(out) == 7  # one row per input doc
    assert [out[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [out[i]["cluster_id"] for i in (10, 11)] == [10, 10]
    assert out[20]["cluster_id"] == 20 and out[21]["cluster_id"] == 21
    assert out[1]["cluster_size"] == 3 and out[10]["cluster_size"] == 2
    assert [r["is_canonical"] for r in out.values()] == [
        1 if r["doc_id"] == r["cluster_id"] else 0 for r in out.values()
    ]


def test_fuzzy_dedup_banding_recall_is_exhaustive(tables):
    # the gated q_fuzzy_dedup hash-matches an EXACT oracle, which is only
    # sound if the deterministic 24x8 banding finds every J>=0.5 pair of
    # this corpus — pin that property where the gate can't see it drift
    docs = tables["documents"]
    exact = {(r.id_a, r.id_b) for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(
            docs, num_hashes=24, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_null_and_empty_text_match_expression_form(spark):
    # NULL text must fingerprint to 0, not crash in np.asarray(None)
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "alpha beta gamma")], "doc_id long, text string"
    )
    vec = {r["doc_id"]: r["simhash"] for r in dd.simhash(df).collect()}
    assert vec == {r["doc_id"]: _py_simhash(r["text"]) for r in df.collect()}
    assert vec[1] == 0


def test_repetition_vectorized_matches_expression_form(spark):
    """repetition_score equals a Python k-gram count, including
    NULL/empty/short-text edges (NULL text folds to one empty gram, as
    the shingles() expression chain does)."""
    from kafka_merge_purge_spark.operators.text import repetition_score

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),
            (2, None),
            (3, ""),
            (4, "x"),
            (5, "  !!  "),
            (6, "one two three four five one two three four five"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: tuple(r)[1:] for r in repetition_score(df).collect()}
    want = {}
    for r in df.collect():
        toks = _py_tokens(r["text"]) if r["text"] is not None else []
        grams = [" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))]
        want[r["doc_id"]] = (len(grams), len(set(grams)), 1 - len(set(grams)) / len(grams))
    assert got.keys() == want.keys() and len(got) == 6
    for i, (n, d, rep) in got.items():
        assert (n, d) == want[i][:2] and abs(rep - want[i][2]) <= 1e-6


def test_ppm_synth_parse_roundtrip():
    from kafka_merge_purge_spark.operators import multimodal as mm

    ppm = mm.synth_ppm(b"z" * 100, width=8)  # 8px → 24B/row → ceil(100/24)=5
    m = mm.parse_media_meta(ppm)
    assert m["format"] == "ppm" and m["bits"] == 24
    assert m["width"] == 8 and m["height"] == 5
    assert m["data_bytes"] == 8 * 5 * 3
    # header grammar: comments + arbitrary whitespace between tokens
    tricky = b"P6\n# a comment\n  12\t# inline\n 3\n255\n" + b"\x00" * (12 * 3 * 3)
    t = mm.parse_media_meta(tricky)
    assert (t["width"], t["height"]) == (12, 3)
    # P5 greyscale: 8-bit, 1 byte/pixel
    g = mm.parse_media_meta(b"P5\n4 2\n255\n" + b"\x00" * 8)
    assert g["format"] == "pgm" and g["bits"] == 8 and g["data_bytes"] == 8
    # truncated/malformed headers refuse cleanly
    assert mm.parse_media_meta(b"P6\n12 x\n255\n")["format"] is None
    assert mm.parse_media_meta(b"P6\n12")["format"] is None


def test_pgm_pixel_stats_content_decode(spark):
    """The content tier below the container header: stats computed from
    the actual raster bytes, padding included, header comments honored,
    truncated rasters refused."""
    from kafka_merge_purge_spark.operators import multimodal as mm

    data = bytes([10, 200, 30])
    s = mm.pixel_stats(mm.synth_pgm(data, width=2))  # 2x2, one pad zero
    assert (s["format"], s["width"], s["height"], s["n_bytes"]) == ("pgm", 2, 2, 4)
    assert (s["px_min"], s["px_max"], s["px_sum"]) == (0, 200, 240)
    assert s["px_mean"] == 60.0
    # no padding → min comes from the data itself
    s2 = mm.pixel_stats(mm.synth_pgm(bytes([7, 9]), width=2))
    assert (s2["px_min"], s2["px_max"], s2["n_bytes"]) == (7, 9, 2)
    # P6 raster stats count all RGB bytes
    s3 = mm.pixel_stats(mm.synth_ppm(bytes([1, 2, 3]), width=1))
    assert (s3["format"], s3["n_bytes"], s3["px_sum"]) == ("ppm", 3, 6)
    # comment-bearing header parses; raster offset lands after the single
    # whitespace byte that terminates maxval
    tricky = b"P5\n# c\n 2 1\n255\n" + bytes([5, 6])
    t = mm.pixel_stats(tricky)
    assert (t["width"], t["height"], t["px_sum"]) == (2, 1, 11)
    # truncated raster / wrong magic / None → all-NULL stats
    assert mm.pixel_stats(b"P5\n4 4\n255\n" + b"\x00" * 3)["format"] is None
    assert mm.pixel_stats(b"BM123456")["format"] is None
    assert mm.pixel_stats(None)["format"] is None
    # DataFrame plumbing: one narrow mapInPandas stage
    media = spark.createDataFrame(
        [(1, bytearray(mm.synth_pgm(data, width=2))), (2, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in mm.decode_pixel_stats(media).collect()}
    assert rows[1]["px_sum"] == 240 and rows[2]["px_sum"] is None


def test_image_ahash_exact_blocks_and_neardup(spark):
    """r7 verdict item 2: the perceptual aHash must reproduce the
    hand-computed block-mean bits, refuse sub-grid/truncated payloads,
    survive None-mixed Arrow batches WITHOUT float64 rounding (the
    >2^53 fingerprint coercion bug), and the banded pair join must
    EQUAL the exact quadratic Hamming join (pigeonhole recall)."""
    from kafka_merge_purge_spark.operators import multimodal as mm

    # hand-computable 8x7 image (w=8 h=7 → every block is 1 pixel):
    # bit b set iff pixel value * 56 > total (mean comparison)
    data = bytes(range(56))  # values 0..55, total 1540
    p = mm.image_ahash(mm.synth_pgm(data, width=8))
    assert (p["width"], p["height"]) == (8, 7)
    expect = 0
    for b in range(56):
        if b * 56 > 1540:
            expect |= 1 << b
    assert p["ahash"] == expect
    # P6: r+g+b collapse — 3 identical pixels → flat image, no bit set
    flat = mm.image_ahash(mm.synth_ppm(bytes([9, 9, 9] * 56), width=8))
    assert flat["ahash"] == 0 and flat["width"] == 8
    # sub-grid / truncated / wrong magic / None → NULL fingerprint
    assert mm.image_ahash(mm.synth_pgm(bytes(16), width=16))["ahash"] is None
    assert mm.image_ahash(b"P5\n16 8\n255\n" + b"\x00" * 3)["ahash"] is None
    assert mm.image_ahash(b"BM123")["ahash"] is None
    assert mm.image_ahash(None)["ahash"] is None

    # distributed plumbing: a batch mixing NULL with a >2^53 fingerprint
    # must come back exact (nullable Int64, not float64)
    big = bytes([(i * 37) % 251 for i in range(16 * 10)])  # 16x10 image
    fp_direct = mm.image_ahash(mm.synth_pgm(big, width=16))["ahash"]
    assert fp_direct > 2**53  # the regression needs a high-bit fp
    media = spark.createDataFrame(
        [(1, bytearray(mm.synth_pgm(big, width=16))), (2, None),
         (3, bytearray(mm.synth_pgm(bytes(16), width=16)))],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r["ahash"] for r in mm.decode_image_ahash(media).collect()}
    assert rows[1] == fp_direct and rows[2] is None and rows[3] is None

    # banded pairs == exact quadratic Hamming (pigeonhole exactness)
    import random

    rng = random.Random(23)
    imgs = []
    base = bytes([rng.randrange(256) for _ in range(16 * 12)])
    for i in range(30):
        mut = bytearray(base)
        for _ in range(rng.randrange(0, 60)):
            mut[rng.randrange(len(mut))] = rng.randrange(256)
        imgs.append((i, bytearray(mm.synth_pgm(bytes(mut), width=16))))
    df = spark.createDataFrame(imgs, "media_id long, payload binary")
    banded = {(r.id_a, r.id_b, r.hamming)
              for r in mm.image_neardup_pairs(df, max_hamming=6).collect()}
    fps = {r["media_id"]: r["ahash"] for r in mm.decode_image_ahash(df).collect()}
    exact = set()
    for a in fps:
        for b in fps:
            if a < b and fps[a] is not None and fps[b] is not None:
                h = bin(fps[a] ^ fps[b]).count("1")
                if h <= 6:
                    exact.add((a, b, h))
    assert banded == exact


def test_wav_pcm_stats_content_decode(spark):
    """Signed 16-bit LE sample decode from the real data chunk: sign
    wrap, empty-silence, odd-size rejection, and the pad byte after an
    odd chunk not leaking into the samples."""
    import struct as st

    from kafka_merge_purge_spark.operators import multimodal as mm

    # samples 1000, -2, 300 → little-endian int16 stream
    body = st.pack("<3h", 1000, -2, 300)
    s = mm.pcm_stats(mm.synth_wav(body, sample_rate=8000))
    assert (s["format"], s["sample_rate"], s["bits"]) == ("wav", 8000, 16)
    assert (s["n_samples"], s["smp_min"], s["smp_max"], s["smp_sum"]) == (
        3, -2, 1000, 1298,
    )
    # empty data chunk = valid silence
    z = mm.pcm_stats(mm.synth_wav(b""))
    assert (z["n_samples"], z["smp_sum"]) == (0, 0)
    # odd data size cannot be 16-bit samples
    assert mm.pcm_stats(mm.synth_wav(b"abc"))["format"] is None
    # non-wav payloads refuse cleanly
    assert mm.pcm_stats(mm.synth_pgm(b"xy", width=2))["format"] is None
    assert mm.pcm_stats(None)["format"] is None
    # DataFrame plumbing
    media = spark.createDataFrame(
        [(1, bytearray(mm.synth_wav(body))), (2, None)],
        "media_id long, payload binary",
    )
    rows = {r["media_id"]: r for r in mm.decode_pcm_stats(media).collect()}
    assert rows[1]["smp_sum"] == 1298 and rows[2]["smp_sum"] is None


def test_simhash_hamming_pairs_exact_recall(spark):
    """Pigeonhole banding is exact, not probabilistic: the banded join
    must find precisely the brute-force bit_count(xor) <= h pairs."""
    import itertools

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),   # near 1
        (3, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (4, "one two three four five six seven eight"),
        (5, "!!! ..."),                                        # degenerate
        (6, None),                                             # degenerate
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_hamming_pairs(df, max_hamming=6).collect()
    }
    fps = {
        r["doc_id"]: r["simhash"]
        for r in dd.simhash(
            df.filter(F.col("text").rlike("[a-zA-Z0-9]"))
        ).collect()
    }
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 6
    }
    assert got == want
    assert (1, 3) in got and got[(1, 3)] == 0          # exact dup
    assert not any(5 in p or 6 in p for p in got)      # degenerates dropped


def test_minhash_banding_vectorized_matches_expression_form(tables):
    """The LSH banding kernel emits exactly the verified pairs that the
    public ``shingles()`` / ``minhash_signature_from_shingles()``
    columns give when banded in Python (numpy int64 reproduces the JVM
    affine arithmetic exactly), at both the default and the fuzzy-dedup
    hash configurations."""
    import itertools

    docs = tables["documents"].limit(300)
    content = docs.filter(F.col("text").rlike("[a-zA-Z0-9]"))
    for nh, nb in ((16, 4), (24, 8)):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dd.minhash_lsh_pairs(
                docs, num_hashes=nh, bands=nb, jaccard_threshold=0.5
            ).collect()
        }
        sh = F.col("sh")
        ref = content.select("doc_id", dd.shingles(F.col("text")).alias("sh")).select(
            "doc_id", sh, dd.minhash_signature_from_shingles(sh, nh).alias("sig")
        ).collect()
        rows = nh // nb
        buckets = {}
        for r in ref:
            for b in range(nb):
                key = (b, tuple(r["sig"][b * rows:(b + 1) * rows]))
                buckets.setdefault(key, []).append(r["doc_id"])
        sets = {r["doc_id"]: set(r["sh"]) for r in ref}
        want = {}
        for ids in buckets.values():
            for a, b in itertools.combinations(sorted(ids), 2):
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if round(j, 6) >= 0.5:
                    want[(a, b)] = j
        assert got.keys() == want.keys() and len(got) > 0
        assert all(abs(got[p] - want[p]) <= 1e-6 for p in got)


def test_ngram_contamination_screen(spark):
    """Explicit benchmark grams flag exactly the docs sharing a shingle;
    the self-derived demo form is deterministic across builds."""
    from kafka_merge_purge_spark.operators.text import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "a quick brown fox sleeps"),
            (3, "entirely different words here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in ngram_contamination(
            docs, benchmark_grams=["quick brown fox"]
        ).collect()
    }
    assert got[1]["n_hits"] == 1 and got[1]["is_contaminated"] == 1
    assert got[2]["n_hits"] == 1 and got[2]["is_contaminated"] == 1
    assert got[3]["n_hits"] == 0 and got[3]["is_contaminated"] == 0
    # doc 1 has 3 distinct shingles -> contamination 1/3
    assert got[1]["contamination"] == round(1 / 3, 6)
    # self-derived benchmark: deterministic and flags something on a
    # corpus with repeated phrases
    a = sorted(map(tuple, ngram_contamination(docs).collect()))
    b = sorted(map(tuple, ngram_contamination(docs).collect()))
    assert a == b


def test_embedding_fuzzy_dedup_labels_clusters(spark):
    """Vector twin of fuzzy_dedup: near-identical vectors cluster under
    the min id; singletons are their own canonical cluster."""
    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [0.999, 0.01, 0.0]),   # ~cos 0.9999 with 10
        (12, [0.0, 1.0, 0.0]),      # orthogonal singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # default path is now candidates="lsh" (r6 verdict): the bucketed
    # composition must label this tiny corpus correctly out of the box
    got = {r["vec_id"]: r for r in dd.embedding_fuzzy_dedup(emb, threshold=0.95).collect()}
    assert got[10]["cluster_id"] == 10 and got[11]["cluster_id"] == 10
    assert got[10]["cluster_size"] == 2 and got[11]["is_canonical"] == 0
    assert got[10]["is_canonical"] == 1
    assert got[12]["cluster_id"] == 12 and got[12]["cluster_size"] == 1
    # the forced-distributed exact block form labels identically
    blocked = {
        r["vec_id"]: (r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in dd.embedding_fuzzy_dedup(
            emb, threshold=0.95, candidates="exact",
            broadcast_max_rows=0, block_size=2
        ).collect()
    }
    assert blocked == {
        k: (v["cluster_id"], v["cluster_size"], v["is_canonical"])
        for k, v in got.items()
    }


def test_pack_sequences_two_level_prefix_matches_naive(spark, tables):
    """The bucketed prefix sum must equal the naive global ordered
    window, and the only single-partition exchange in the plan must be
    the tiny bucket-totals frame, never the document rows."""
    import re

    from pyspark.sql import Window

    from kafka_merge_purge_spark.plans.introspect import formatted_plan

    docs = tables["documents"]
    out = tx.pack_sequences(docs, capacity=500, bucket_size=37)
    naive_w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    ).select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(naive_w), F.lit(0)).alias("tokens_before"),
    ).withColumn("shard_id", F.floor(F.col("tokens_before") / 500).cast("long"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, naive.collect()))
    # shards are contiguous in id order and start at 0
    rows = sorted(map(tuple, out.collect()))
    shard_seq = [r[3] for r in rows]
    assert shard_seq[0] == 0
    assert all(b - a in (0, 1) or b == a for a, b in zip(shard_seq, shard_seq[1:]))
    # plan: SinglePartition exchanges may touch only the bucket totals
    plan = formatted_plan(out)
    blocks = [b.strip() for b in re.split(r"\n\s*\n", plan) if b.strip()]
    single = [
        b
        for b in blocks
        if b.splitlines()[0].lstrip("() 0123456789").startswith("Exchange")
        and "SinglePartition" in b
    ]
    assert single, "expected the tiny bucket-totals global window"
    for b in single:
        assert "text" not in b and "doc_id" not in b, (
            "document rows flow through a single-partition exchange:\n" + b
        )


def test_shingle_frame_vectorized_matches_expression(spark):
    """The shingle kernel produces the ``shingles()`` column's arrays
    (set AND first-occurrence order), incl. NULL / empty / short docs."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the quick brown fox"),
            (2, "a b"),            # shorter than k → whole-text shingle
            (3, ""),
            (4, None),
            (5, "Tabs,  punct!! And CASE?"),
        ],
        "doc_id long, text string",
    )
    vec = {r["id"]: r["sh"] for r in dd.shingle_frame(df).collect()}
    col = {r["doc_id"]: r["sh"]
           for r in df.select("doc_id", dd.shingles(F.col("text")).alias("sh")).collect()}
    assert vec == col
    assert vec[4] == [""] and vec[3] == [""]  # NULL/empty fold like the HOF chain
    assert vec[2] == ["a b"]  # shorter than k -> whole-text shingle


def test_cross_corpus_dedup_bipartite(spark, tables):
    """Bipartite banding finds exactly the qualifying cross pairs (no
    new-new or ref-ref pairs), matching the quadratic cross Jaccard."""
    docs = tables["documents"].limit(300)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    got = {
        (r["new_id"], r["ref_id"], r["jaccard"])
        for r in dd.minhash_lsh_pairs_against(
            new, ref, num_hashes=24, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    sh = dd.shingle_frame(docs.filter(F.col("text").rlike("[a-zA-Z0-9]")))
    a = sh.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a")).filter(
        F.col("new_id") % 2 == 1
    )
    b = sh.select(F.col("id").alias("ref_id"), F.col("sh").alias("sh_b")).filter(
        F.col("ref_id") % 2 == 0
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    want = {
        (r["new_id"], r["ref_id"], r["jaccard"])
        for r in a.crossJoin(b)
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    }
    assert got == want and len(want) > 0
    assert all(n % 2 == 1 and r % 2 == 0 for n, r, _ in got)


def test_ivf_index_roundtrip_and_partition_pruning(spark, tables, tmp_path):
    """The persisted IVF layout returns exactly the direct ivf_topk
    results (same centroids), and the probed-cell filter reaches the
    scan as a PartitionFilter so unprobed cell directories are never
    listed."""
    from kafka_merge_purge_spark.plans.introspect import formatted_plan

    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    sim.build_ivf_index(emb, path, n_cells=8)
    direct = sim.ivf_topk(probes, emb, k=3, n_cells=8, nprobe=3)
    indexed = sim.ivf_topk_indexed(spark, path, probes, k=3, nprobe=3)
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, direct.collect())
    )
    plan = formatted_plan(indexed)
    assert "PartitionFilters: [cell_id" in plan.replace("\n", " ") or (
        "PartitionFilters" in plan and "cell_id" in plan
    ), "probed-cell filter did not reach the scan as a partition filter:\n" + plan


def test_bm25_ranks_rare_terms_and_saturates(spark):
    """BM25: doc-discriminating terms outrank corpus-wide ones, and tf
    saturation keeps a term repeated 10x from scoring 10x."""
    df = spark.createDataFrame(
        [
            (1, "common rare common common"),
            (2, "common common other common"),
            (3, "common spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    out = tx.bm25_top_terms(df, k=2).collect()
    top = {r["doc_id"]: r["word"] for r in out if r["rank"] == 1}
    assert top == {1: "rare", 2: "other", 3: "spam"}
    scores = {(r["doc_id"], r["word"]): r["bm25"] for r in out}
    one_spam = tx.bm25_top_terms(
        spark.createDataFrame(
            [(1, "common rare common common"), (2, "common common other common"),
             (3, "common spam")],
            "doc_id long, text string",
        ),
        k=2,
    ).collect()
    one = {(r["doc_id"], r["word"]): r["bm25"] for r in one_spam}
    # 10 occurrences must score < 10x one occurrence (saturation)
    assert scores[(3, "spam")] < 10 * one[(3, "spam")]


def _planted(tables):
    """The gated demo's planted near-dup corpus — imported from the
    entry module so the recall tests pin EXACTLY the corpus the
    benchmarked query runs (r6 review: a verbatim copy here could drift
    from the demo silently)."""
    import __spark_entry__ as entry

    emb = tables["embeddings"]
    return entry._planted_embeddings(emb.sparkSession, "/root/testdata/sf0.001")


@pytest.mark.parametrize("method", ["lsh", "ivf"])
def test_embedding_ann_pairs_recall_and_exact_scores(tables, method):
    """The bucketed pair source (r5 verdict headline): ≥0.95 recall vs
    the exact all-pairs form at the production threshold, and the
    quantized scorer is BIT-IDENTICAL on every pair both paths emit —
    bucketing only changes which pairs are considered, never a score."""
    planted = _planted(tables)
    exact = {(r.id_a, r.id_b): r.cos for r in
             dd.embedding_near_dup_pairs(planted, threshold=0.95).collect()}
    ann = {(r.id_a, r.id_b): r.cos for r in
           dd.embedding_ann_pairs(planted, threshold=0.95, method=method).collect()}
    assert len(exact) >= 50  # every planted copy pairs with its source
    common = set(ann) & set(exact)
    assert len(common) / len(exact) >= 0.95
    assert all(ann[p] == exact[p] for p in common)
    # no false positives: verification is exact, so every emitted pair
    # is a true >= threshold pair
    assert set(ann) <= set(exact)


def test_embedding_fuzzy_dedup_ann_matches_exact_composition(tables):
    """End-to-end: the candidates='lsh' composition labels the planted
    corpus identically to the exact composition (deterministic planes →
    deterministic recall, 1.0 on this corpus)."""
    planted = _planted(tables)
    exact = sorted(map(tuple, dd.embedding_fuzzy_dedup(
        planted, threshold=0.95, candidates="exact").collect()))
    ann = sorted(map(tuple, dd.embedding_fuzzy_dedup(
        planted, threshold=0.95, candidates="lsh").collect()))
    assert ann == exact
    # sanity: the planted duplicates actually cluster
    n_clustered = sum(1 for r in ann if r[2] > 1)
    assert n_clustered >= 100  # 50 sources + 50 copies


def test_embedding_fuzzy_dedup_rejects_unknown_candidates(tables):
    with pytest.raises(ValueError, match="candidates"):
        dd.embedding_fuzzy_dedup(tables["embeddings"], candidates="nope")


def test_ivf_topk_precomputed_centroids_identical(tables):
    """ivf_topk(centroids=...) — the amortized-bootstrap path — returns
    exactly the per-call-fit result for the same corpus."""
    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 10)
    cents = sim._kmeans_cells(emb, 16)
    a = sorted(map(tuple, sim.ivf_topk(probes, emb, k=5, n_cells=16, nprobe=4).collect()))
    b = sorted(map(tuple, sim.ivf_topk(
        probes, emb, k=5, n_cells=16, nprobe=4, centroids=cents).collect()))
    assert a == b and len(a) > 0


def test_ivf_tag_and_probe_forms_agree(tables):
    """IVF cell tagging is the argmax dot over the centroids (lowest cell
    id on ties) and probing takes the ``nprobe`` best cells ordered by
    (dot desc, cell id asc) — checked against a driver-side numpy
    reference on the real corpus (1-based cell ids)."""
    import numpy as np

    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 10)
    cents = sim._kmeans_cells(emb, 8)
    C = np.asarray(cents, dtype=np.float64)
    dots = {
        r["vec_id"]: C @ np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
        if r["embedding"] is not None
    }
    tagged = sorted(map(tuple, sim._tag_cells(emb, cents, "vec_id", "embedding")
                        .select("neighbor_id", "cell_id").collect()))
    want_tag = sorted((i, int(d.argmax()) + 1) for i, d in dots.items())
    assert tagged == want_tag and len(tagged) > 0
    probed = sorted(map(tuple, sim._probe_cells(probes, cents, 3, "vec_id", "embedding")
                        .select("query_id", "cell_id").collect()))
    want_probe = sorted(
        (i, c + 1)
        for i, d in dots.items()
        if i < 10
        for c in sorted(range(len(cents)), key=lambda c: (-d[c], c))[:3]
    )
    assert probed == want_probe and len(probed) > 0


def test_tokens_adaptive_cjk_fallback(spark):
    """On unsegmented script, plain tokens() collapses a document to ONE
    token (degrading Gopher rules/shingles/spans to doc granularity —
    r5 verdict item 4); tokens_adaptive falls back to codepoint bigrams.
    Space-delimited text is untouched (identical to tokens())."""
    cjk = "今日は良い天気ですね散歩に行きましょう公園の桜がきれいに咲いています"
    en = "the quick brown fox jumps"
    word = "hello"          # short + space-free + ASCII: stays ONE token
    short_cjk = "今日は晴れ"  # short but unsegmented script: still n-grams
    url = "https://example.com/some/long/path?query=abcdef0123456789"
    df = spark.createDataFrame(
        [(1, en), (2, cjk), (3, ""), (4, word), (5, short_cjk), (6, url)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            F.size(tx.tokens(F.col("text"))).alias("plain"),
            tx.tokens_adaptive(F.col("text")).alias("adaptive"),
        ).collect()
    }
    assert out[1]["plain"] == 5 and out[1]["adaptive"] == en.split(" ")
    assert out[2]["plain"] == 1  # the degradation being fixed
    assert out[2]["adaptive"] == [cjk[i : i + 2] for i in range(len(cjk) - 1)]
    assert len(out[2]["adaptive"]) == len(cjk) - 1
    assert out[3]["adaptive"] == [""]  # empty text: one empty token, no crash
    assert out[4]["adaptive"] == ["hello"]  # a lone word is not a bigram bag
    # a SHORT unsegmented text still n-grams (r6 review: a length-only
    # guard silently bypassed the fallback for short CJK titles)
    assert out[5]["adaptive"] == [short_cjk[i : i + 2] for i in range(len(short_cjk) - 1)]
    # ADVICE r6: a LONG space-free pure-ASCII text (URL, hash,
    # identifier) is one token at any length — the old 20-char cap
    # bigrammed it, silently changing its dedup behavior under the flag
    assert out[6]["adaptive"] == [url]


def test_adaptive_shingles_identical_on_ascii(tables):
    """On the pure-ASCII space-delimited corpus the adaptive shingle
    stage (normalize_unicode + tokens_adaptive) is a strict
    generalization: shingle sets — and therefore every MinHash pair —
    are IDENTICAL to the default stage, so enabling it on a mixed
    corpus never changes results for documents the default handled."""
    docs = tables["documents"]
    a = {r["id"]: sorted(r["sh"]) for r in dd.shingle_frame(docs).collect()}
    b = {r["id"]: sorted(r["sh"]) for r in dd.shingle_frame(docs, adaptive=True).collect()}
    assert a == b and len(a) > 0


def test_fuzzy_dedup_adaptive_handles_cjk(spark):
    """The verdict's CJK degradation, end-to-end: without adaptive, CJK
    docs normalize to '' and are dropped as degenerate (no pairs at
    all); with adaptive=True the duplicated CJK docs cluster while the
    distinct one stays apart — codepoint-bigram shingles carry the
    signal whitespace tokens cannot."""
    base = "今日は良い天気ですね散歩に行きましょう公園の桜がきれいに咲いています午後から友達と会う予定です"
    near = base + "夕方には家に帰ります"          # shared long prefix
    other = "機械学習の分散処理基盤を構築して大規模データを毎日解析する仕事をしています世界は広い"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )
    # default path: all four drop at the degenerate filter → no pairs
    assert dd.minhash_lsh_pairs(df, jaccard_threshold=0.3).count() == 0
    out = {r["doc_id"]: r for r in
           dd.fuzzy_dedup(df, jaccard_threshold=0.3, adaptive=True).collect()}
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == 1  # exact dup pair
    assert out[3]["cluster_id"] == 1                          # near-dup joins
    assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1


def test_sorted_neighborhood_finds_dups_without_global_window(spark, tables):
    """SNM: exact duplicates get equal SimHash fingerprints, sort
    adjacently, and pair at Jaccard 1.0; unrelated docs in the window
    are rejected by the exact verify.  The global rank must come from
    the two-level prefix sum — no single-partition Exchange feeding a
    Window (the plan a naive row_number() OVER (ORDER BY ...) gives)."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog tonight"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different text about spark physical planning"),
         (4, "yet another unrelated document on parquet statistics")],
        "doc_id long, text string",
    )
    out = dd.sorted_neighborhood_pairs(df, window=3, jaccard_threshold=0.9)
    assert [(r.id_a, r.id_b, r.jaccard) for r in out.collect()] == [(1, 2, 1.0)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, (
        "global rank fell back to a single-task window:\n" + plan
    )
    # window-bounded candidate cost: per doc at most `window` successors
    docs = tables["documents"].limit(100)
    n = docs.count()
    cand_bound = n * 3
    all_pairs = dd.sorted_neighborhood_pairs(docs, window=3, jaccard_threshold=0.0)
    assert all_pairs.count() <= cand_bound


def test_ivf_index_incremental_append(spark, tables, tmp_path):
    """Incremental ingest: build the index on half the corpus, append
    the other half against the STORED centroids — the indexed query
    over the union equals ivf_topk(centroids=stored) over the unioned
    frames exactly (cell ids stable, no rebuild)."""
    emb = tables["embeddings"]
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_inc")
    sim.build_ivf_index(half_a, path, n_cells=8)
    sim.append_to_ivf_index(spark, path, half_b)
    probes = emb.filter(F.col("vec_id") < 10)
    cents = [list(r["centroid"]) for r in
             spark.read.parquet(f"{path}/centroids").orderBy("cell_id").collect()]
    direct = sorted(map(tuple, sim.ivf_topk(
        probes, emb, k=5, n_cells=8, nprobe=3, centroids=cents).collect()))
    indexed = sorted(map(tuple, sim.ivf_topk_indexed(
        spark, path, probes, k=5, nprobe=3).collect()))
    assert indexed == direct and len(indexed) > 0


def test_misra_gries_heavy_hitters_guarantees(spark, tables):
    """The two Misra-Gries guarantees, against the exact aggregation:
    (1) merged weights are LOWER bounds on true counts; (2) every value
    with true frequency > n/capacity is present in the merged summary.
    And the tiny-capacity sketch still ranks the dominant value first."""
    from kafka_merge_purge_spark.operators.sketch import (
        heavy_hitters_exact,
        heavy_hitters_sketch,
        merged_heavy_hitters,
        misra_gries_summaries,
    )

    words = tables["documents"].select(
        F.explode(tx.tokens(F.col("text"))).alias("word")
    )
    true = {r["word"]: r["n"] for r in
            words.groupBy("word").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_total = sum(true.values())
    capacity = 64
    merged = {
        r["word"]: r["weight"]
        for r in merged_heavy_hitters(words, "word", capacity).collect()
    }
    # the exported merged view IS the raw grouped-sum of summaries
    raw = {
        r["word"]: r["weight"]
        for r in misra_gries_summaries(words, "word", capacity)
        .groupBy("word").agg(F.sum("weight").alias("weight")).collect()
    }
    assert merged == raw
    assert merged, "summary is empty"
    for w, wt in merged.items():
        assert wt <= true[w], (w, wt, true[w])          # lower bounds
    threshold = n_total / capacity
    for w, c in true.items():
        if c > threshold:
            assert w in merged, (w, c, threshold)       # no heavy value lost
    # ADVICE r6: the presence guarantee is a property of the MERGED
    # summary — a top-k slice can legally cut values above the
    # threshold when more than k clear it, which is why the guarantee
    # asserts against merged_heavy_hitters, never heavy_hitters_sketch
    top_exact = heavy_hitters_exact(words, "word", k=1).collect()[0]["word"]
    top_sketch = heavy_hitters_sketch(words, "word", k=1, capacity=capacity).collect()[0]["word"]
    assert top_sketch == top_exact
    # skewed stream, capacity 2: the dominant value survives by guarantee
    skew = spark.createDataFrame(
        [("hot",)] * 60 + [(f"v{i}",) for i in range(30)], "v string"
    ).coalesce(1)
    s = heavy_hitters_sketch(skew, "v", k=1, capacity=2).collect()
    assert s and s[0]["v"] == "hot"


def test_hashed_embedding_pipeline_recovers_minhash_dups(tables):
    """Model-free text→vector bridge: hashed 64-d embeddings + the
    quantized near-dup scorer at cosine ≥ 0.95 recover EVERY MinHash
    J≥0.5 duplicate pair of the corpus — the end-to-end pipeline a
    deployment runs before any learned embedding model exists.  Dense
    and long forms agree (the dense assembly is just the long form
    scattered into an array)."""
    docs = tables["documents"]
    dense = tx.hashed_embedding(docs, dim=64, dense=True)
    hp = {(r.id_a, r.id_b) for r in dd.embedding_near_dup_pairs(
        dense, id_col="doc_id", vec_col="embedding", threshold=0.95).collect()}
    mh = {(r.id_a, r.id_b) for r in dd.minhash_lsh_pairs(
        docs, jaccard_threshold=0.5).select("id_a", "id_b").collect()}
    assert mh and mh <= hp
    # long ↔ dense agreement
    long_w = {(r["doc_id"], r["bucket"]): r["weight"]
              for r in tx.hashed_embedding(docs, dim=64).collect()}
    row = dense.orderBy("doc_id").first()
    for j, v in enumerate(row["embedding"]):
        assert v == float(long_w.get((row["doc_id"], j), 0))


def test_hashed_embedding_ann_scale_path(tables):
    """The 100 TB form of the hashed-embedding pipeline: LSH-bucketed
    candidates + in-bucket exact verify on the hashed vectors equals the
    exact all-pairs scorer on this corpus (recall pinned ≥0.95, no
    false positives by construction) — so the oracle-gated exact demo
    (x_hashed_ann) has a drop-in bucketed twin for corpora where n²
    is unaffordable."""
    dense = tx.hashed_embedding(tables["documents"], dim=64, dense=True)
    exact = {(r.id_a, r.id_b) for r in dd.embedding_near_dup_pairs(
        dense, id_col="doc_id", vec_col="embedding", threshold=0.95).collect()}
    ann = {(r.id_a, r.id_b) for r in dd.embedding_ann_pairs(
        dense, id_col="doc_id", vec_col="embedding", threshold=0.95,
        method="lsh").collect()}
    assert exact and ann <= exact
    assert len(ann & exact) / len(exact) >= 0.95


def test_estimate_junk_cos_pins_measured_background(spark, tables):
    """r7 verdict top item: the background-cosine estimator must
    reproduce the r7 hand-measured calibration (junk_cos ≈ 0.8 on the
    templated 64-d hashed-embedding corpus) from a bounded deterministic
    sample, report a LOW background on the near-random synthetic
    embeddings, and be exactly repeatable."""
    dense = tx.hashed_embedding(tables["documents"], dim=64, dense=True)
    est = sim.estimate_junk_cos(dense, id_col="doc_id", vec_col="embedding")
    # the r7 hand calibration was 0.8 (BENCH_SCALE round-7c)
    assert 0.7 <= est <= 0.9, est
    assert sim.estimate_junk_cos(dense, id_col="doc_id", vec_col="embedding") == est
    low = sim.estimate_junk_cos(tables["embeddings"])
    assert low < 0.5, low
    # the estimated junk level produces a geometry at least as sharp as
    # the hand calibration did (planes never BELOW the junk=0 default's)
    n = dense.count()
    auto_b, _ = sim.auto_lsh_params(n, n * (n - 1) / 2, 0.95, 0.99, junk_cos=est)
    base_b, _ = sim.auto_lsh_params(n, n * (n - 1) / 2, 0.95, 0.99, junk_cos=0.0)
    assert auto_b >= base_b
    # degenerate inputs: empty and single-row corpora → 0.0 (no pairs)
    empty = tables["embeddings"].filter(F.col("vec_id") < 0)
    assert sim.estimate_junk_cos(empty) == 0.0
    one = tables["embeddings"].limit(1)
    assert sim.estimate_junk_cos(one) == 0.0


def test_clear_junk_cos_memo_invalidates(spark, tmp_path):
    """r9 ADVICE (low): a file-backed corpus rewritten IN PLACE yields
    the same plan, so the sameSemantics memo would return the stale
    estimate — clear_junk_cos_memo() is the documented invalidation
    hook and also releases the pinned DataFrame refs."""
    import numpy as np

    p = str(tmp_path / "vecs")
    rows = [(i, [float(i % 7), 1.0, 0.5]) for i in range(64)]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>").write.parquet(p)
    df = spark.read.parquet(p)
    first = sim.estimate_junk_cos(df)
    # rewrite the SAME path with a very different geometry
    rows2 = [(i, [float(np.cos(i)), float(np.sin(i)), 0.0]) for i in range(64)]
    spark.createDataFrame(rows2, "vec_id long, embedding array<double>").write.mode(
        "overwrite"
    ).parquet(p)
    df2 = spark.read.parquet(p)
    # same plan -> memo serves the stale value (the documented caveat)
    assert sim.estimate_junk_cos(df2) == first
    assert sim.clear_junk_cos_memo() >= 1
    fresh = sim.estimate_junk_cos(df2)
    assert fresh != first  # recomputed on the new bytes
    assert sim.estimate_junk_cos(df2, memo=False) == fresh


def test_lsh_planes_split_anisotropic_cone(spark):
    """r6 review regression: on a cone corpus (every pairwise cosine
    positive — the usual real sentence-embedding shape) corpus-drawn
    planes put EVERY vector on the positive side of EVERY plane, so all
    signatures collapse to one bucket and candidate generation reverts
    to O(n²).  Seeded Gaussian planes split any cone: the candidate set
    must stay well under all-pairs while still catching the planted
    near-duplicate."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(1, 201):
        # shared mean + comparable noise → typical pairwise cos ≈ 0.5
        # with (almost) all dots positive: the cone shape that collapses
        # corpus-drawn planes (every sign bit true) without the vectors
        # being near-duplicates of each other
        rows.append((i, [1.0 + rng.gauss(0, 1.0) for _ in range(16)]))
    rows.append((1001, [v * 1.0001 for v in rows[0][1]]))  # planted near-dup of id 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cand = dd.embedding_candidate_pairs(df, method="lsh")
    n = len(rows)
    n_cand = cand.count()
    assert n_cand < (n * (n - 1) // 2) * 0.5, (
        f"bucket collapse: {n_cand} candidates of {n*(n-1)//2} pairs"
    )
    pairs = {(r.id_a, r.id_b) for r in dd.embedding_ann_pairs(
        df, threshold=0.999, method="lsh").collect()}
    assert (1, 1001) in pairs


def test_semantic_dedup_planted_groups(spark):
    """r7 verdict item 3 (SemDeDup composition): on a planted corpus
    with two tight semantic-duplicate groups and isolated singletons,
    within-cell prune must drop exactly the non-lowest members of each
    group, keep all singletons, and drop NULL-vector rows."""
    import random

    rng = random.Random(13)
    rows = []
    # group A: near-identical copies of a base vector (ids 1..3)
    base_a = [1.0, 0.2, 0.1, 0.0]
    for i in (1, 2, 3):
        rows.append((i, [v + rng.gauss(0, 0.001) for v in base_a]))
    # group B around an orthogonal direction (ids 10, 11)
    base_b = [0.0, 0.1, 0.2, 1.0]
    for i in (10, 11):
        rows.append((i, [v + rng.gauss(0, 0.001) for v in base_b]))
    # singletons far from both (ids 20, 21)
    rows.append((20, [1.0, -1.0, 1.0, -1.0]))
    rows.append((21, [-1.0, 1.0, 1.0, 1.0]))
    rows.append((99, None))  # NULL vector: no cell, dropped
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in dd.semantic_dedup(df, threshold=0.95, k=2).collect()}
    assert 99 not in out
    kept = {i for i, r in out.items() if r["is_kept"] == 1}
    dropped = {i for i, r in out.items() if r["is_kept"] == 0}
    # keep-lowest-id within each planted group; singletons survive.
    # (groups may share a k=2 cell with singletons — singletons are far
    # below threshold so they are never pruned)
    assert 1 in kept and {2, 3} <= dropped
    assert 10 in kept and 11 in dropped
    assert {20, 21} <= kept
    # exact-composition equality: the pruned set equals the brute-force
    # rule "has a lower-id neighbor at cos>=t in the SAME cell"
    from kafka_merge_purge_spark.operators.cluster import kmeans_assign

    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(df, k=2, iters=2).collect()
        if r["cluster_id"] is not None
    }
    exact = {
        (r.id_a, r.id_b)
        for r in dd.embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    expect_drop = {
        b for (a, b) in exact if cells[a] == cells[b]
    }
    assert dropped == expect_drop


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_fuzzy_dedup_releases_shingle_cache(spark, tables):
    """r6 review: the persisted shingle frame must not outlive the
    composed flagship (a per-ingest-batch service would otherwise
    accumulate MEMORY_AND_DISK blocks forever).  A direct
    minhash_lsh_pairs call leaves its cache live for reuse until the
    ledger drains; fuzzy_dedup frees its own.  Asserts on id sets, not
    census counts — ContextCleaner unpersists GC'd frames
    asynchronously, so counts are racy in a long session."""
    from kafka_merge_purge_spark.operators.iterate import release_all_persisted

    release_all_persisted()  # an earlier test's cache of this plan would be reused
    before = _persistent_ids(spark)
    dd.minhash_lsh_pairs(tables["documents"]).collect()
    made = _persistent_ids(spark) - before
    assert made  # cache live, reusable
    release_all_persisted()
    assert not (_persistent_ids(spark) & made)

    # the composed flagship releases its own cache before returning
    before = _persistent_ids(spark)
    dd.fuzzy_dedup(tables["documents"]).collect()
    assert not (_persistent_ids(spark) - before)


def test_release_all_persisted_registry_drains(spark, tables):
    """ADVICE r6: direct pair-generator callers (bench entries,
    notebooks) may transform or discard the result — the ledger must
    still know about the caches and release_all_persisted() must drain
    them all, exactly once."""
    from kafka_merge_purge_spark.operators.iterate import release_all_persisted

    release_all_persisted()  # drain whatever earlier tests left behind
    before = _persistent_ids(spark)
    pairs = dd.minhash_lsh_pairs(tables["documents"])
    # a transformation of the result — the old leak scenario
    pairs.select("id_a", "id_b").collect()
    made = _persistent_ids(spark) - before
    assert made
    assert release_all_persisted() == 1
    assert not (_persistent_ids(spark) & made)
    # released frames leave the ledger: a second drain releases nothing
    assert release_all_persisted() == 0


def test_persisted_registry_strong_refs(spark, tables):
    """ADVICE r8: the ledger holds STRONG cache handles — CacheManager
    keeps the cached plan alive regardless of Python handles, so only a
    strong ledger handle guarantees release_all_persisted() can still
    unpersist after the caller discarded the result (the r7 weakref
    form silently leaked exactly that case)."""
    import gc

    from kafka_merge_purge_spark.operators.iterate import release_all_persisted

    release_all_persisted()
    before = _persistent_ids(spark)
    # drop every caller handle → the ledger MUST still drain the cache
    pairs = dd.minhash_lsh_pairs(tables["documents"])
    pairs.collect()
    made = _persistent_ids(spark) - before
    del pairs
    gc.collect()
    assert release_all_persisted() == 1
    assert not (_persistent_ids(spark) & made)


def test_embedding_fuzzy_dedup_rejects_exact_kwargs_on_bucketed_path(spark):
    """ADVICE r7: the candidates default flipped 'exact'→'lsh' in r7;
    legacy exact-path kwargs without candidates='exact' must raise a
    message naming the default change, not an opaque TypeError."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(TypeError, match="candidates='exact'"):
        dd.embedding_fuzzy_dedup(df, broadcast_max_rows=0)
    # the same kwargs WITH candidates='exact' still work
    out = dd.embedding_fuzzy_dedup(df, candidates="exact", broadcast_max_rows=0)
    assert out.count() == 2


def test_cross_corpus_dedup_adaptive_handles_cjk(spark):
    """r6 review: the incremental-ingest form gets the same multilingual
    path as the self-join form — CJK docs in either corpus pair up with
    adaptive=True and silently vanish without it."""
    base = "今日は良い天気ですね散歩に行きましょう公園の桜がきれいに咲いています午後から友達と会う予定です"
    new_df = spark.createDataFrame([(1, base)], "doc_id long, text string")
    ref_df = spark.createDataFrame(
        [(100, base + "夕方には帰ります"), (101, "全然違う話題の文書です機械学習の話など")],
        "doc_id long, text string",
    )
    assert dd.minhash_lsh_pairs_against(new_df, ref_df, jaccard_threshold=0.3).count() == 0
    out = dd.minhash_lsh_pairs_against(
        new_df, ref_df, jaccard_threshold=0.3, adaptive=True
    ).collect()
    assert [(r.new_id, r.ref_id) for r in out] == [(1, 100)]


def test_bigram_logprob_order_sensitivity(spark):
    """The bigram LM is order-sensitive where the unigram LM is blind:
    a document whose tokens are scrambled (same unigram profile) scores
    strictly lower than the in-order original when the corpus repeats
    the ordered phrase, and <2-token docs drop (no bigrams)."""
    phrase = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the brown lazy jumps fox quick over the"
    rows = [(i, phrase) for i in range(1, 9)] + [(9, scrambled), (10, "single")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.bigram_logprob(df).collect()}
    assert 10 not in out  # one token → no bigrams → dropped
    assert out[1]["avg_logprob"] > out[9]["avg_logprob"]
    assert out[9]["n_bigrams"] == 8
    # unigram LM cannot tell them apart (same token multiset)
    uni = {r["doc_id"]: r["avg_logprob"] for r in tx.unigram_logprob(df).collect()}
    assert uni[1] == uni[9]


def test_trigram_logprob_matches_brute_force_reference(spark):
    """trigram_logprob (r15): the distributed exact-rational λ-mix must
    equal a pure-Python replay of the same formula (counts from dicts,
    same single division + round(ln, 6) + decimal-sum + final rounded
    division), and <3-token docs drop."""
    import math
    from collections import Counter
    from decimal import Decimal

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox sleeps"),
        (3, "a quick brown fox"),
        (4, "two words"),
        (5, "one"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.trigram_logprob(df).collect()}
    assert set(got) == {1, 2, 3}  # <3 tokens drop

    docs = {i: t.split() for i, t in rows}
    tri = Counter(
        tuple(t[i : i + 3]) for t in docs.values() for i in range(len(t) - 2)
    )
    h12 = Counter(
        tuple(t[i : i + 2]) for t in docs.values() for i in range(len(t) - 2)
    )
    big = Counter(
        tuple(t[i : i + 2]) for t in docs.values() for i in range(len(t) - 1)
    )
    h2 = Counter(t[i] for t in docs.values() for i in range(len(t) - 1))
    uni = Counter(w for t in docs.values() for w in t)
    T = sum(uni.values())
    for doc_id, t in docs.items():
        trigrams = [tuple(t[i : i + 3]) for i in range(len(t) - 2)]
        if not trigrams:
            continue
        lps = []
        for w1, w2, w3 in trigrams:
            num = (
                5 * tri[(w1, w2, w3)] * h2[w2] * T
                + 3 * big[(w2, w3)] * h12[(w1, w2)] * T
                + 2 * uni[w3] * h12[(w1, w2)] * h2[w2]
            )
            den = 10 * h12[(w1, w2)] * h2[w2] * T
            lps.append(Decimal(str(round(math.log(num / den), 6))))
        want = round(float(sum(lps)) / len(lps), 6)
        assert got[doc_id]["avg_logprob"] == want, (doc_id, want)
        assert got[doc_id]["n_trigrams"] == len(lps)


def test_trigram_logprob_separation_beats_bigram(spark):
    """r14 verdict item 4's done-gate, the pin BIGRAM CANNOT PASS: a
    splice document whose bigrams are ALL corpus-frequent but whose
    trigram is novel ("p q t" spliced from "p q r"×8 and "s q t"×8).
    The bigram LM is blind to it (both test docs score within noise of
    each other), while the trigram tier sees the 3-token context
    collapse — a strictly stronger separation than the bigram form's
    order-sensitivity test (which any n≥2 model passes).  Scrambled
    text still separates too, and lambda validation rejects bad
    weights."""
    import pytest as _pytest

    rows = (
        [(i, "p q r") for i in range(1, 9)]
        + [(i, "s q t") for i in range(9, 17)]
        + [(17, "p q r"), (18, "p q t")]  # natural vs bigram-clean splice
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tri = {r["doc_id"]: r["avg_logprob"] for r in tx.trigram_logprob(df).collect()}
    bi = {r["doc_id"]: r["avg_logprob"] for r in tx.bigram_logprob(df).collect()}
    tri_margin = tri[17] - tri[18]
    bi_margin = bi[17] - bi[18]
    assert tri_margin > 0  # trigram catches the splice
    assert abs(bi_margin) < 0.2  # bigram is (near-)blind to it
    assert tri_margin > abs(bi_margin) + 0.5  # strictly sharper

    # order sensitivity still holds on scrambled text
    phrase = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the brown lazy jumps fox quick over the"
    df2 = spark.createDataFrame(
        [(i, phrase) for i in range(1, 9)] + [(9, scrambled)],
        "doc_id long, text string",
    )
    tri2 = {r["doc_id"]: r["avg_logprob"] for r in tx.trigram_logprob(df2).collect()}
    assert tri2[1] > tri2[9]

    with _pytest.raises(ValueError, match="lambdas"):
        tx.trigram_logprob(df, lambdas=(0, 0, 0))
    with _pytest.raises(ValueError, match="lambdas"):
        tx.trigram_logprob(df, lambdas=(5, -1, 2))


def test_kneser_ney_matches_brute_force_reference(spark):
    """kneser_ney_logprob (r15): the distributed exact-rational
    three-level interpolation must equal a pure-Python replay of the
    same continuation-count formula, and <3-token docs drop."""
    import math
    from collections import Counter, defaultdict
    from decimal import Decimal

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox sleeps"),
        (3, "a quick brown fox"),
        (4, "two words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.kneser_ney_logprob(df).collect()}
    assert set(got) == {1, 2, 3}

    docs = {i: t.split() for i, t in rows}
    tris = [tuple(t[i : i + 3]) for t in docs.values() for i in range(len(t) - 2)]
    bigs = [tuple(t[i : i + 2]) for t in docs.values() for i in range(len(t) - 1)]
    c123 = Counter(tris)
    c12 = Counter(t[:2] for t in tris)
    r12 = {h: len({t[2] for t in c123 if t[:2] == h}) for h in c12}
    n12 = {s: len({t[0] for t in c123 if t[1:] == s}) for s in {t[1:] for t in tris}}
    n2mid = defaultdict(int)
    r2 = defaultdict(int)
    for (w2, _w3), v in n12.items():
        n2mid[w2] += v
        r2[w2] += 1
    n1c3 = {w: len({b[0] for b in set(bigs) if b[1] == w}) for w in {b[1] for b in bigs}}
    nbt = len(set(bigs))
    for doc_id, t in docs.items():
        trigrams = [tuple(t[i : i + 3]) for i in range(len(t) - 2)]
        if not trigrams:
            continue
        lps = []
        for w1, w2, w3 in trigrams:
            p2n = (4 * n12[(w2, w3)] - 3) * nbt + 3 * r2[w2] * n1c3[w3]
            num = (4 * c123[(w1, w2, w3)] - 3) * 4 * n2mid[w2] * nbt + 3 * r12[(w1, w2)] * p2n
            den = 16 * c12[(w1, w2)] * n2mid[w2] * nbt
            lps.append(Decimal(str(round(math.log(num / den), 6))))
        want = round(float(sum(lps)) / len(lps), 6)
        assert got[doc_id]["avg_logprob"] == want, (doc_id, want)
        assert got[doc_id]["n_trigrams"] == len(lps)


def test_kneser_ney_continuation_beats_raw_frequency(spark):
    """THE Kneser-Ney signature ("san francisco" effect): a frequent-
    but-single-context word must score BELOW a rarer multi-context word
    in the same trigram slot — and the raw-frequency JM trigram
    provably ranks them the OTHER way on the same corpus.  Docs 1/2
    share identical trigram- and bigram-level statistics by
    construction; only the continuation-vs-raw unigram tier differs."""
    rows = [
        (1, "a b francisco"),
        (2, "a b thing"),
        # francisco: 7 raw occurrences, but only 2 distinct left
        # contexts ({san, b}); thing: 4 raw, 4 contexts ({b, p, r, t})
        (3, "san francisco goes"), (4, "san francisco goes"),
        (5, "san francisco goes"), (6, "san francisco goes"),
        (7, "san francisco goes"), (8, "san francisco goes"),
        (9, "p thing q"), (10, "r thing s"), (11, "t thing u"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kn = {r["doc_id"]: r["avg_logprob"] for r in tx.kneser_ney_logprob(df).collect()}
    jm = {r["doc_id"]: r["avg_logprob"] for r in tx.trigram_logprob(df).collect()}
    assert kn[1] < kn[2], "KN must punish the single-context frequent word"
    assert jm[1] > jm[2], "raw-frequency JM ranks them the other way"


def test_auto_lsh_params_scale_and_recall_contract():
    """r6 verdict item 3: the parameter solver must (a) satisfy its own
    recall inequality at the returned corner, (b) grow planes ~log2(n)
    so the junk-candidate ratio stays flat as the corpus scales, and
    (c) respect the bounded-cost caps."""
    import math

    prev_planes = 0
    for n in (100, 10_000, 1_000_000, 100_000_000):
        b, t = sim.auto_lsh_params(n, n * (n - 1) / 2.0, 0.95, 0.99)
        assert 4 <= b <= 24 and 1 <= t <= 64
        assert b >= prev_planes, "plane count must not shrink as n grows"
        prev_planes = b
        p1 = 1.0 - math.acos(0.95) / math.pi
        assert 1.0 - (1.0 - p1**b) ** t >= 0.99, "recall target violated"
        # junk candidates per table bounded ~linear in n
        assert (n * (n - 1) / 2.0) * 0.5**b <= 4.0 * n
    # higher target cosine → sharper (more) planes are affordable for
    # the same recall, never fewer tables than 1
    b_hi, t_hi = sim.auto_lsh_params(10_000, 5e7, 0.999, 0.99)
    b_lo, t_lo = sim.auto_lsh_params(10_000, 5e7, 0.8, 0.99)
    assert b_hi >= b_lo
    # infeasible corner (extreme recall at low cosine) degrades to the
    # bounded best-effort corner instead of raising
    b, t = sim.auto_lsh_params(10**12, 1e24, 0.3, 0.999999)
    assert 1 <= t <= 64 and 4 <= b <= 24


def test_auto_ivf_params_sqrt_rule():
    assert sim.auto_ivf_params(256) == (16, 6)  # reproduces the r2 default
    cells_small, _ = sim.auto_ivf_params(10)
    assert cells_small == 4  # floor
    cells_big, probe_big = sim.auto_ivf_params(10_000_000)
    assert cells_big == 256  # cap (driver-side Lloyd sample stays small)
    assert probe_big == round(256 * 6 / 16)
    cells_mid, probe_mid = sim.auto_ivf_params(10_000)
    assert cells_mid == 100 and probe_mid == round(100 * 6 / 16)


def test_embedding_candidate_pairs_auto_params_bound_candidates(spark):
    """With AUTO parameters (no explicit planes/tables) the candidate
    set on a 200-vector corpus must stay well under all-pairs while the
    planted near-duplicate is still found — the no-tuning posture."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1.0) for _ in range(16)]) for i in range(1, 201)]
    rows.append((1001, [v * 1.0001 for v in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n = len(rows)
    n_cand = dd.embedding_candidate_pairs(df, method="lsh").count()
    assert n_cand < (n * (n - 1) // 2) * 0.25
    pairs = {(r.id_a, r.id_b) for r in dd.embedding_ann_pairs(
        df, threshold=0.999, method="lsh").collect()}
    assert (1, 1001) in pairs
    # ivf auto path finds it too
    pairs_ivf = {(r.id_a, r.id_b) for r in dd.embedding_ann_pairs(
        df, threshold=0.999, method="ivf").collect()}
    assert (1, 1001) in pairs_ivf


def test_embedding_ann_string_ids(spark):
    """ADVICE r6: the candidate/score kernels must carry the caller's id
    dtype end-to-end — string ids flow through LSH buckets, the exact
    scorer, and the empty-corpus short-circuit without a hardcoded-long
    schema divergence."""
    rows = [
        ("doc-a", [1.0, 0.0, 0.0]),
        ("doc-b", [0.999, 0.01, 0.0]),
        ("doc-z", [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = dd.embedding_ann_pairs(df, threshold=0.95, method="lsh")
    assert [f.dataType.simpleString() for f in out.schema.fields[:2]] == [
        "string",
        "string",
    ]
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert ("doc-a", "doc-b") in pairs
    # empty corpus: schema matches the non-empty path (union-safe)
    empty = dd.embedding_candidate_pairs(
        df.filter(F.col("vec_id") == "nope"), method="lsh"
    )
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "string",
        "string",
    ]
    assert empty.count() == 0


def test_bpe_encode_known_merges():
    """Hand-computed encodings under the committed tiny merge table:
    priority order matters ('information' must become 5 subwords via
    at→ati→ation, not the sequential-greedy 3), chains merge
    left-to-right, unknown scripts stay codepoints."""
    ranks = {p: i for i, p in enumerate(tx.load_bpe_merges())}
    cache: dict = {}

    def enc(w):
        return tx.bpe_encode_word(w, ranks, cache)

    assert enc("the") == ["the"]
    assert enc("that") == ["that"]
    assert enc("information") == ["in", "f", "or", "m", "ation"]
    assert enc("and") == ["and"]
    assert enc("thththt") == ["th", "th", "th", "t"]
    assert enc("x") == ["x"]
    assert enc("伝統") == ["伝", "統"]
    # cache determinism
    assert enc("information") == ["in", "f", "or", "m", "ation"]


def test_bpe_token_count_and_pack(spark):
    """bpe_token_count returns word + subword counts per doc; the
    subword count is always ≤ the char count and ≥ the word count, and
    pack_sequences(tokenizer='bpe') packs by those counts with the same
    prefix arithmetic as the whitespace form."""
    rows = [
        (1, "the information and that"),
        (2, "x"),
        (3, "thththt thththt"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.bpe_token_count(df).collect()}
    assert got[1]["n_words"] == 4 and got[1]["n_tokens"] == 1 + 5 + 1 + 1
    assert got[2]["n_words"] == 1 and got[2]["n_tokens"] == 1
    assert got[3]["n_words"] == 2 and got[3]["n_tokens"] == 8
    packed = {r["doc_id"]: r for r in
              tx.pack_sequences(df, capacity=8, tokenizer="bpe").collect()}
    assert packed[1]["tokens_before"] == 0 and packed[1]["shard_id"] == 0
    assert packed[2]["tokens_before"] == 8 and packed[2]["shard_id"] == 1
    assert packed[3]["tokens_before"] == 9 and packed[3]["shard_id"] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="tokenizer"):
        tx.pack_sequences(df, tokenizer="wordpiece")


def _bpe_reference(word_freqs, n_merges):
    """Recompute-stats-every-merge Sennrich reference (the O(n_merges ·
    corpus) textbook form): ground truth for the incremental-stats +
    lazy-heap trainer — any retract/re-add or stale-heap-entry bug
    diverges from this immediately."""
    vocab = {w: list(w) for w, f in sorted(word_freqs.items()) if w and f > 0}
    freqs = {w: int(f) for w, f in word_freqs.items() if w and f > 0}
    merges = []
    for _ in range(n_merges):
        stats: dict = {}
        for w, syms in vocab.items():
            for p in zip(syms, syms[1:]):
                stats[p] = stats.get(p, 0) + freqs[w]
        cands = [(c, p) for p, c in stats.items() if c >= 2]
        if not cands:
            break
        best = min(cands, key=lambda t: (-t[0], t[1]))[1]
        merges.append(best)
        new = best[0] + best[1]
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and (syms[i], syms[i + 1]) == best:
                    out.append(new)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_learn_bpe_merges_matches_bruteforce_reference():
    """r8 verdict item 2: the incremental trainer's invariants — pair-stat
    retract/re-add consistency, the count-then-lexicographic tie-break,
    the count<2 stop rule, heap staleness handling — pinned against the
    recompute-everything reference on the classic paper vocabulary,
    overlap/tie corner cases, and 25 seeded random vocabularies."""
    import random

    # the Sennrich et al. (2016) paper vocabulary: 'es' (9) merges first
    paper = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    got = tx.learn_bpe_merges(paper, 10)
    assert got == _bpe_reference(paper, 10)
    assert got[0] == ("e", "s") and got[1] == ("es", "t")

    # count<2 stop: singleton pairs never merge; an exhausted vocab stops
    # early no matter how many merges were requested
    assert tx.learn_bpe_merges({"ab": 1, "cd": 1}, 5) == []
    assert tx.learn_bpe_merges({"ab": 2}, 5) == [("a", "b")]

    # ties: equal counts break to the lexicographically smallest pair
    tie = {"xy": 3, "ab": 3}
    assert tx.learn_bpe_merges(tie, 1) == [("a", "b")]

    # overlapping runs ("aaa" counts (a,a) twice but merges left-to-right)
    runs = {"aaaa": 3, "aaab": 2, "baaa": 2}
    assert tx.learn_bpe_merges(runs, 8) == _bpe_reference(runs, 8)

    # dict insertion order must not matter (determinism contract)
    r = dict(reversed(list(paper.items())))
    assert tx.learn_bpe_merges(r, 10) == got

    # zero/empty entries are dropped, not crashed on
    assert tx.learn_bpe_merges({"": 5, "ok": 0, "abab": 4}, 3) == _bpe_reference(
        {"abab": 4}, 3
    )

    rng = random.Random(23)
    for _ in range(25):
        n_words = rng.randint(2, 14)
        vocab = {}
        for _w in range(n_words):
            w = "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)
        n = rng.randint(1, 25)
        assert tx.learn_bpe_merges(vocab, n) == _bpe_reference(vocab, n), vocab


def test_corpus_bpe_merges_roundtrip(spark):
    """corpus_bpe_merges → bpe_token_count round-trip: the distributed
    word-frequency pass feeds the driver trainer the same dict a local
    count builds, and the learned table drives the encoder to the same
    per-document subword counts as a driver-side re-encode."""
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate the fat rat"),
        (3, "a cat and a rat sat"),
        (4, "the the the cat cat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = tx.corpus_bpe_merges(df, n_merges=12, max_vocab=100)

    local: dict = {}
    for _, t in rows:
        for w in t.split(" "):
            local[w] = local.get(w, 0) + 1
    assert merges == tx.learn_bpe_merges(local, 12)
    assert merges  # 'the'/'cat' repeats guarantee at least one merge

    ranks = {p: i for i, p in enumerate(merges)}
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in tx.bpe_token_count(df, merges=merges).collect()
    }
    want = {
        d: sum(len(tx.bpe_encode_word(w, ranks, {})) for w in t.split(" "))
        for d, t in rows
    }
    assert got == want


def test_semantic_dedup_auto_k_scales_with_corpus(spark):
    """r8 verdict item 3: unconfigured semantic_dedup must not be
    quadratic-by-default — k=None sizes cells by the √n IVF rule via
    auto_ivf_params, so the cell count GROWS with the corpus (~√n)
    instead of pinning the old fixed k=16; planted duplicates are still
    pruned under auto sizing, and the explicit-k path is unchanged for
    the oracle gate."""
    import random

    from kafka_merge_purge_spark.operators.similarity import auto_ivf_params

    rng = random.Random(41)

    def corpus(n):
        rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(n)]
        # plant one duplicate pair: id n+1 copies id 0 (cos ≈ 1)
        rows.append((n + 1, list(rows[0][1])))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for n in (400, 4000):
        want_k, _ = auto_ivf_params(n + 1)
        out = dd.semantic_dedup(corpus(n), threshold=0.95)  # k=None → auto
        cells = out.select("cell_id").distinct().count()
        # cell ids are 1..k; most cells stay populated on gaussian data
        assert cells <= want_k
        assert cells >= want_k // 2, (n, cells, want_k)
        pruned = {r["vec_id"] for r in out.filter("is_kept = 0").collect()}
        assert n + 1 in pruned  # the planted copy is caught across scales
    assert auto_ivf_params(4001)[0] > 2 * auto_ivf_params(401)[0]  # √n growth


def test_estimate_junk_cos_memoized_by_plan_semantics(spark, tmp_path):
    """r8 verdict item 5: a repeat estimate over the same corpus plan
    must not re-run the 512-row sample job.  Proof by destruction: the
    parquet files are DELETED between the first and second invocation —
    any recomputation would fail at scan time, so the correct memo hit
    is the only way the second call can return."""
    import shutil

    rows = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(4)]) for i in range(40)]
    src = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "memo_emb")
    src.write.parquet(path)

    df1 = spark.read.parquet(path)
    df2 = spark.read.parquet(path)  # same plan, constructed before deletion
    v1 = sim.estimate_junk_cos(df1)
    assert 0.0 <= v1 <= 0.99

    shutil.rmtree(path)
    assert sim.estimate_junk_cos(df2) == v1  # memo hit — no scan possible

    # a different (sample_size, quantile) is a different key: it must
    # recompute, which now fails against the deleted files
    with pytest.raises(Exception):
        sim.estimate_junk_cos(df2, quantile=0.5)

    # memo=False always recomputes (the non-deterministic-input escape)
    with pytest.raises(Exception):
        sim.estimate_junk_cos(df2, memo=False)

    # the memo is bounded: flooding past the cap drops the oldest entry
    for i in range(sim._JUNK_MEMO_CAP + 2):
        small = spark.createDataFrame(
            [(j, [float(j + i)]) for j in range(3)],
            "vec_id long, embedding array<double>",
        )
        sim.estimate_junk_cos(small)
    assert len(sim._JUNK_MEMO) == sim._JUNK_MEMO_CAP


def test_image_ahash_words_wide_path(spark):
    """r9 keyspace fix: the wide (multi-word) aHash path — word packing
    (bit 63 rides the sign exactly as a two's-complement long), parity
    with the single-word hash on a ≤63-bit grid, the sub-grid NULL
    contract, and hamming_banded_pairs_words == the quadratic
    XOR-popcount reference (exact recall) on a planted corpus with the
    P6 color branch included."""
    import random

    from kafka_merge_purge_spark.operators import multimodal as mm

    rng = random.Random(5)

    # word packing vs the narrow path on the same 7×8 grid: one word,
    # identical bits (both decode through the shared _ahash_geometry)
    data = bytes(rng.randrange(256) for _ in range(200))
    img = mm.synth_pgm(data, width=8)
    narrow = mm.image_ahash(img)  # 7×8 default
    wide_78 = mm.image_ahash_words(img, grid_rows=7, grid_cols=8)
    assert wide_78["ahash_words"] == [narrow["ahash"]]
    assert (wide_78["width"], wide_78["height"]) == (narrow["width"], narrow["height"])

    # sign-bit packing: a bright bottom-right 16×16 image sets high bits;
    # words are valid SIGNED int64s reproducing the arbitrary-precision
    # bit string
    grad = bytes(min(255, (i * 255) // 511) for i in range(16 * 32))
    w = mm.image_ahash_words(mm.synth_pgm(grad, width=16))
    assert w["ahash_words"] is not None and len(w["ahash_words"]) == 4
    bits = 0
    for i, word in enumerate(w["ahash_words"]):
        assert -(1 << 63) <= word < (1 << 63)
        bits |= (word & ((1 << 64) - 1)) << (64 * i)
    assert bits.bit_count() > 0
    geo = mm._ahash_geometry(mm.synth_pgm(grad, width=16), 16, 16)
    assert bits == geo[2]

    # sub-grid images are NULL on the wide grid even when the narrow
    # grid accepts them
    small = mm.synth_pgm(bytes(range(120)), width=8)  # 8×15: ≥7×8, <16×16
    assert mm.image_ahash(small)["ahash"] is not None
    assert mm.image_ahash_words(small)["ahash_words"] is None

    # banded == quadratic on a planted corpus (exact + near dups, P5+P6)
    rows = []
    for i in range(40):
        base = bytes(rng.randrange(256) for _ in range(300))
        synth = mm.synth_ppm if i % 3 == 0 else mm.synth_pgm
        rows.append((i, synth(base, width=16)))
        if i % 4 == 0:
            rows.append((i + 1000, synth(base, width=16)))  # exact copy
        if i % 5 == 0:
            mut = bytearray(base)
            mut[7] ^= 0xFF  # one hot pixel: hamming-small perturbation
            rows.append((i + 2000, synth(bytes(mut), width=16)))
    rows.append((9999, None))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.image_neardup_pairs_wide(df, max_hamming=6).collect()
    }
    fps = {
        i: mm.image_ahash_words(p)["ahash_words"]
        for i, p in rows
        if p is not None and mm.image_ahash_words(p)["ahash_words"] is not None
    }
    want = {}
    ids = sorted(fps)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            h = sum(((u ^ v) & ((1 << 64) - 1)).bit_count() for u, v in zip(fps[a], fps[b]))
            if h <= 6:
                want[(a, b)] = h
    assert got == want and any(h == 0 for h in want.values())


def test_semantic_dedup_gemm_equals_pairs_strategy(spark):
    """r9: the in-cell chunked-GEMM prune must equal brute-force in-cell
    pairs scored by ``score_candidate_pairs`` (bit-identical quantized
    cosine math): a row is pruned iff some lower-id row of its cell
    scores ``cos >= threshold`` against it.  The id dtype is kept."""
    import random

    rng = random.Random(77)
    rows = []
    for i in range(300):
        v = [rng.gauss(0, 1) for _ in range(8)]
        rows.append((i, v))
        if i % 7 == 0:
            rows.append((i + 10000, [x + rng.gauss(0, 0.001) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dd.semantic_dedup(df, threshold=0.9, k=3, iters=2)
    assert dict(out.dtypes)["vec_id"] == "bigint"
    got = {tuple(r) for r in out.collect()}
    cells = spark.createDataFrame(
        [(i, c) for i, c, _ in got], "vec_id long, cell_id int"
    )
    cand = (
        cells.select(F.col("vec_id").alias("id_a"), "cell_id")
        .join(cells.select(F.col("vec_id").alias("id_b"), "cell_id"), "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    dropped = {r["id_b"] for r in dd.score_candidate_pairs(cand, df, threshold=0.9).collect()}
    want = {(i, c, 0 if i in dropped else 1) for i, c, _ in got}
    assert got == want and dropped and len(got) == len(rows)


def test_multimodal_dedup_matches_reference_union_find(spark):
    """r9 cross-modal dedup, part 1: the composed gate clustering
    equals a driver union-find over the UNION of the independently
    computed text (MinHash J≥0.5) and WIDE-image (hamming≤6) pair sets
    on the gate corpus.  (On THIS synthetic corpus images are renders
    of the text, so the image set is a consistency subset — the planted
    cross-modal transitivity lives in part 2 below.)"""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    tp = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            entry._t(spark, sf, "documents"), jaccard_threshold=0.5
        ).collect()
    }
    from kafka_merge_purge_spark.operators import multimodal as mm

    ip = {
        (r["id_a"], r["id_b"])
        for r in mm.image_neardup_pairs_wide(
            entry._synth_pgm16(spark, sf), max_hamming=6
        ).collect()
    }
    assert ip  # the image leg produces pairs (non-degenerate corpus)
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in tp | ip:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    got = {
        r["node"]: r["component"]
        for r in entry.x_multimodal_dedup(spark, sf).collect()
    }
    assert got == want


def test_multimodal_dedup_transitive_merge_planted(spark):
    """r9 cross-modal dedup, part 2: planted corpus where the modalities
    genuinely diverge — docs 1,2 share TEXT (near-dup shingles, distinct
    images); docs 2,3 share an IMAGE (same payload, unrelated texts) —
    so the union clusters {1,2,3} through BOTH modalities while a
    text-only or image-only clustering keeps them apart."""
    import random

    from kafka_merge_purge_spark.operators import multimodal as mm
    from kafka_merge_purge_spark.operators.components import connected_components

    rng = random.Random(3)
    base = " ".join(f"w{rng.randrange(50)}" for _ in range(60))
    other = " ".join(f"z{rng.randrange(50)}" for _ in range(60))
    img_payload = bytes(rng.randrange(256) for _ in range(400))
    texts = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, other), (4, "unrelated " * 30)],
        "doc_id long, text string",
    )
    images = spark.createDataFrame(
        [
            (1, mm.synth_pgm(bytes(rng.randrange(256) for _ in range(400)), 16)),
            (2, mm.synth_pgm(img_payload, 16)),
            (3, mm.synth_pgm(img_payload, 16)),
            (4, mm.synth_pgm(bytes(rng.randrange(256) for _ in range(400)), 16)),
        ],
        "media_id long, payload binary",
    )
    tp = dd.minhash_lsh_pairs(texts, jaccard_threshold=0.5).select("id_a", "id_b")
    ip = mm.image_neardup_pairs_wide(images, max_hamming=6).select("id_a", "id_b")
    tset = {(r["id_a"], r["id_b"]) for r in tp.collect()}
    iset = {(r["id_a"], r["id_b"]) for r in ip.collect()}
    assert (1, 2) in tset and (2, 3) not in tset  # text links 1-2 only
    assert (2, 3) in iset and (1, 2) not in iset  # image links 2-3 only
    comp = {
        r["node"]: r["component"]
        for r in connected_components(
            tp.unionByName(ip).dropDuplicates(["id_a", "id_b"])
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1  # transitive cross-modal merge
    assert 4 not in comp  # isolated doc never enters the edge set


def test_snapshot_diff_and_scd2_semantics(spark):
    """r9 dataset-evolution operators: diff labels (added/removed/
    changed), the nullity tag (NULL ≠ '' — concat_ws would silently
    equate them), include_unchanged, duplicate-timestamp determinism
    and NULL-transition handling in the SCD2 run-length collapse."""
    from kafka_merge_purge_spark.operators.snapshot import (
        scd2_history,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", "s"), (2, "b", "s"), (3, None, "s"), (4, "d", "s")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "a", "s"), (2, "B", "s"), (3, "", "s"), (5, "e", "s")],
        "doc_id long, text string, source string",
    )
    got = {
        r["doc_id"]: r["change"]
        for r in snapshot_diff(old, new, ["doc_id"], ["text", "source"]).collect()
    }
    # 3: NULL -> '' must be CHANGED, not silently equal
    assert got == {2: "changed", 3: "changed", 4: "removed", 5: "added"}
    full = {
        r["doc_id"]: r["change"]
        for r in snapshot_diff(
            old, new, ["doc_id"], ["text", "source"], include_unchanged=True
        ).collect()
    }
    assert full[1] == "unchanged" and len(full) == 5

    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: a,a,b,b,a -> versions a(0..2), b(2..4), a(4..)
        (1, t(0), 10, "a"), (1, t(1), 11, "a"), (1, t(2), 12, "b"),
        (1, t(3), 13, "b"), (1, t(4), 14, "a"),
        # user 2: NULL -> x -> NULL transitions all count as changes;
        # duplicate ts resolves by event_id (21 before 22)
        (2, t(0), 20, None), (2, t(1), 21, "x"), (2, t(1), 22, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    h = {
        (r["user_id"], r["version"]): (r["event_type"], r["valid_from"], r["valid_to"])
        for r in scd2_history(
            df, "user_id", "ts", ["event_type"], order_tiebreak="event_id"
        ).collect()
    }
    assert h[(1, 1)] == ("a", t(0), t(2))
    assert h[(1, 2)] == ("b", t(2), t(4))
    assert h[(1, 3)] == ("a", t(4), None)  # current version open-ended
    assert h[(2, 1)] == (None, t(0), t(1))
    assert h[(2, 2)] == ("x", t(1), t(1))  # closed by the same-ts successor
    assert h[(2, 3)] == (None, t(1), None)
    assert len(h) == 6


def test_grouped_heavy_hitters_guarantees(spark):
    """r9 grouped Misra-Gries: per-group lower bounds (weight ≤ true
    count), the per-group presence guarantee in the exact regime
    (capacity ≥ distinct ⇒ sketch == exact counts), and sub-capacity
    behavior — a group's dominant value survives a tight capacity while
    weights stay lower bounds; NULL values are skipped."""
    import random

    from kafka_merge_purge_spark.operators.sketch import (
        grouped_heavy_hitters,
        grouped_mg_summaries,
    )

    rng = random.Random(13)
    rows = []
    for g in range(6):
        items = [f"hot{g}"] * 60 + [f"v{i}" for i in range(25)]
        rng.shuffle(items)
        rows += [(g, it) for it in items]
    rows.append((0, None))
    df = spark.createDataFrame(rows, "g long, item string").repartition(4)

    true = {}
    for g, it in rows:
        if it is not None:
            true[(g, it)] = true.get((g, it), 0) + 1

    # exact regime: capacity ≥ distinct per group → sketch == exact
    exact = {
        (r["g"], r["item"]): r["weight"]
        for r in grouped_mg_summaries(df, "g", "item", capacity=64)
        .groupBy("g", "item").agg(F.sum("weight").alias("weight")).collect()
    }
    assert exact == true

    # sub-capacity: weights are lower bounds, the dominant value
    # survives per group at rank 1
    top = {
        r["g"]: r
        for r in grouped_heavy_hitters(df, "g", "item", k=1, capacity=8).collect()
    }
    for g in range(6):
        assert top[g]["item"] == f"hot{g}"
        assert top[g]["weight"] <= true[(g, f"hot{g}")]
    summ = grouped_mg_summaries(df, "g", "item", capacity=8).collect()
    for r in summ:
        assert r["weight"] <= true[(r["g"], r["item"])]


def test_grouped_kmv_distinct_exact_merge_and_estimator(spark):
    """r9 KMV bottom-k sketch: (1) exact regime — k > per-group distinct
    ⇒ distinct_est == COUNT(DISTINCT) and min_hash == min(md5(value));
    (2) EXACT mergeability — merge(sketch(A), sketch(B)) equals
    sketch(A ∪ B) bit-for-bit even AT capacity (KMV's defining property;
    MG has no such merge); (3) estimator regime — 5000 distinct values
    at k=256 land within 15% relative error, deterministically."""
    import hashlib

    from kafka_merge_purge_spark.operators.sketch import (
        grouped_kmv_distinct,
        grouped_kmv_sketch,
        merge_kmv_sketches,
    )

    rows = []
    for g in range(5):
        for i in range(g + 3):
            for _ in range(3):  # duplicates must not inflate the count
                rows.append((g, f"val{g}_{i}"))
    rows.append((0, None))  # NULL is not a distinct class
    df = spark.createDataFrame(rows, "g long, item string").repartition(4)

    got = {
        r["g"]: r for r in grouped_kmv_distinct(df, "g", "item", k=64).collect()
    }
    for g in range(5):
        vals = {f"val{g}_{i}" for i in range(g + 3)}
        assert got[g]["distinct_est"] == len(vals)
        assert got[g]["min_hash"] == min(
            hashlib.md5(v.encode()).hexdigest() for v in vals
        )

    # exact mergeability at capacity: k=4 < distinct on both sides
    a = spark.createDataFrame(
        [(0, f"a{i}") for i in range(9)] + [(0, f"c{i}") for i in range(4)],
        "g long, item string",
    ).repartition(3)
    b = spark.createDataFrame(
        [(0, f"b{i}") for i in range(7)] + [(0, f"c{i}") for i in range(4)],
        "g long, item string",
    ).repartition(2)
    merged = merge_kmv_sketches(
        grouped_kmv_sketch(a, "g", "item", k=4),
        grouped_kmv_sketch(b, "g", "item", k=4),
        "g", "item", k=4,
    )
    whole = grouped_kmv_sketch(a.unionByName(b), "g", "item", k=4)
    key = lambda r: (r["g"], r["rank"], r["item"], r["h"])
    assert sorted(map(key, merged.collect())) == sorted(map(key, whole.collect()))

    # estimator regime: deterministic md5 ⇒ a fixed, repeatable estimate
    big = spark.createDataFrame(
        [(0, f"u{i}") for i in range(5000)], "g long, item string"
    ).repartition(8)
    est = grouped_kmv_distinct(big, "g", "item", k=256).collect()[0]["distinct_est"]
    assert abs(est - 5000) / 5000 < 0.15


def test_pagerank_matches_reference_and_properties(spark):
    """r9 quantized PageRank: (1) bit-identical to a driver-side
    reference that replays the documented integer spec on 10 seeded
    random graphs (incl. dangling nodes and parallel-edge weighting);
    (2) structural sanity — symmetric 2-cycle ranks equal, a star's hub
    outranks its leaves, total mass stays within the documented
    truncation loss; (3) NULL-endpoint edges are dropped."""
    import random

    from kafka_merge_purge_spark.operators.components import PR_SCALE, pagerank

    def reference(edge_rows, iterations=3):
        nodes = sorted({u for u, _ in edge_rows} | {v for _, v in edge_rows})
        n = len(nodes)
        od: dict = {}
        for u, _ in edge_rows:
            od[u] = od.get(u, 0) + 1
        rank = {v: PR_SCALE // n for v in nodes}
        for _ in range(iterations):
            inflow = {v: 0 for v in nodes}
            for u, v in edge_rows:
                inflow[v] += rank[u] // od[u]
            dang = sum(rank[v] for v in nodes if v not in od)
            rank = {
                v: (3 * (PR_SCALE // n)) // 20
                + (17 * (inflow[v] + dang // n)) // 20
                for v in nodes
            }
        return rank

    rng = random.Random(59)
    for trial in range(10):
        n = rng.randint(4, 14)
        m = rng.randint(3, 30)
        edge_rows = [
            (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}") for _ in range(m)
        ]
        df = spark.createDataFrame(edge_rows, "src string, dst string")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        assert got == reference(edge_rows), f"trial {trial}: {edge_rows}"

    cyc = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    r = {x["node"]: x["rank"] for x in pagerank(cyc).collect()}
    assert r["a"] == r["b"]
    assert abs(sum(r.values()) - PR_SCALE) < 100  # truncation only

    star_edges = [("hub", f"l{i}") for i in range(5)] + [
        (f"l{i}", "hub") for i in range(5)
    ]
    star = spark.createDataFrame(star_edges, "src string, dst string")
    r = {x["node"]: x["rank"] for x in pagerank(star).collect()}
    assert all(r["hub"] > r[f"l{i}"] for i in range(5))

    withnull = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "a"), ("b", "a")],
        "src string, dst string",
    )
    r = {x["node"]: x["rank"] for x in pagerank(withnull).collect()}
    assert set(r) == {"a", "b"} and r == reference([("a", "b"), ("b", "a")])


def test_grouped_mp_quantiles_exact_and_estimator_regimes(spark):
    """r9 Munro-Paterson quantile digest: (1) exact regime — k ≥ group
    rows ⇒ each output equals the brute-force quantile_disc rule
    (rank = ceil(q·n), 1-indexed) incl. duplicates, negatives and an
    all-NULL-value group vanishing; (2) estimator regime — 20k values
    through k=64 digests: every estimate's true rank is within the
    classic levels·n/(2k) bound (asserted at the looser 0.08·n), and
    the summary actually compressed (sketch rows ≪ n); (3) weight
    conservation — the merged digest still knows the exact n."""
    import math
    import random

    from kafka_merge_purge_spark.operators.sketch import (
        grouped_mp_quantiles,
        grouped_mp_summaries,
        mp_count,
        mp_merge,
        mp_new,
        mp_update,
    )

    rng = random.Random(71)
    rows = []
    for g in range(4):
        n_g = rng.randint(5, 40)
        vals = [round(rng.uniform(-50, 50), 3) for _ in range(n_g)]
        vals += vals[: n_g // 3]  # duplicates
        rows += [(g, v) for v in vals]
    rows.append((9, None))  # all-NULL group must vanish
    df = spark.createDataFrame(rows, "g long, v double").repartition(5)

    def disc(vals, q):
        s = sorted(vals)
        from fractions import Fraction

        fr = Fraction(q) * len(s)
        rank = max(1, -((-fr.numerator) // fr.denominator))
        return s[rank - 1]

    qs = (0.25, 0.5, 0.75, 0.875)
    got = {r["g"]: r for r in grouped_mp_quantiles(df, "g", "v", qs=qs, k=512).collect()}
    assert set(got) == {0, 1, 2, 3}
    truth = {}
    for g, v in rows:
        if v is not None:
            truth.setdefault(g, []).append(v)
    for g, vals in truth.items():
        for q, col in zip(qs, ("q_25", "q_5", "q_75", "q_875")):
            assert got[g][col] == disc(vals, q), (g, q)

    # estimator regime
    big_vals = [rng.gauss(0, 100) for _ in range(20000)]
    big = spark.createDataFrame([(0, v) for v in big_vals], "g long, v double").repartition(8)
    n_rows = grouped_mp_summaries(big, "g", "v", k=64).count()
    assert n_rows < len(big_vals) / 4  # compression actually happened
    est = grouped_mp_quantiles(big, "g", "v", qs=qs, k=64).collect()[0]
    s = sorted(big_vals)
    for q, col in zip(qs, ("q_25", "q_5", "q_75", "q_875")):
        import bisect

        # true rank window of the estimate (duplicates-aware)
        lo = bisect.bisect_left(s, est[col])
        hi = bisect.bisect_right(s, est[col])
        target = max(1, math.ceil(q * len(s))) - 1
        err = 0 if lo <= target < hi else min(abs(lo - target), abs(hi - 1 - target))
        assert err <= 0.08 * len(s), (q, err)

    # weight conservation through merges and collapses
    d1, d2 = mp_new(), mp_new()
    for i, v in enumerate(big_vals[:5000]):
        mp_update(d1 if i % 2 else d2, v, 32)
    merged = mp_merge(d1, d2, 32)
    assert mp_count(merged) == 5000


def test_orc_roundtrip_pushdown_and_partition_pruning(spark, tables, tmp_path):
    """r9 ORC connector (native datasource, no extra jar): write →
    read roundtrip is value-identical to the parquet source; predicate
    pushdown and column pruning reach the ORC scan; a partitioned
    write prunes by directory exactly like the parquet sink."""
    from kafka_merge_purge_spark.plans.introspect import formatted_plan
    from kafka_merge_purge_spark.sources.batch import read_orc
    from kafka_merge_purge_spark.sources.write import write_orc

    orders = tables["orders"]
    flat = str(tmp_path / "orders_orc")
    write_orc(orders, flat, sort_within=("o_orderkey",))
    back = read_orc(spark, flat)
    a = sorted(map(tuple, orders.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b

    df = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = formatted_plan(df)
    assert "PushedFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[1].split("\n")[0]
    assert "ReadSchema" in plan

    part = str(tmp_path / "orders_orc_part")
    write_orc(orders, part, partition_by=("o_orderstatus",))
    pruned = read_orc(spark, part).filter(F.col("o_orderstatus") == "F")
    assert "PartitionFilters" in formatted_plan(pruned)
    assert (tmp_path / "orders_orc_part" / "o_orderstatus=F").exists()
    assert pruned.count() == orders.filter(F.col("o_orderstatus") == "F").count()


def test_trustrank_demotes_spam_farm(spark):
    """r9 TrustRank: on a graph where a spam farm of mutually-linking
    pages inflates vanilla PageRank, seeding the teleport set with the
    trusted cluster keeps every farm node at (near) zero — no trust
    path reaches it — while vanilla PageRank ranks farm nodes ABOVE
    trusted ones (the exact failure TrustRank exists to fix).  Also:
    teleport == all nodes reproduces vanilla bit-for-bit, and seeds
    absent from the graph are ignored."""
    from kafka_merge_purge_spark.operators.components import pagerank

    trusted = [("t1", "t2"), ("t2", "t3"), ("t3", "t1"), ("t1", "t3")]
    # spam farm: 6 pages all linking to a boosted target
    farm = [(f"f{i}", "spam") for i in range(6)] + [
        ("spam", f"f{i}") for i in range(6)
    ]
    edges = spark.createDataFrame(trusted + farm, "src string, dst string")
    seeds = spark.createDataFrame(
        [("t1",), ("t2",), ("t3",), ("ghost",)], "node string"
    )

    vanilla = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    trust = {
        r["node"]: r["rank"] for r in pagerank(edges, teleport=seeds).collect()
    }
    # vanilla: the farm target outranks every trusted page
    assert vanilla["spam"] > max(vanilla[n] for n in ("t1", "t2", "t3"))
    # trustrank: all mass stays in the trusted cluster; the farm is ~0
    assert all(trust[n] == 0 for n in ["spam"] + [f"f{i}" for i in range(6)])
    assert all(trust[n] > 0 for n in ("t1", "t2", "t3"))

    all_nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    assert {r["node"]: r["rank"] for r in pagerank(edges, teleport=all_nodes).collect()} == vanilla


def test_set_similarity_pairs_generic_sets(spark):
    """r9 generic set-similarity join: (1) on a planted corpus where
    every banding collision is certain (identical sets share every
    band), pairs equal the quadratic Jaccard ≥ threshold brute force;
    (2) within-set duplicates don't inflate Jaccard (DISTINCT-element
    semantics); (3) NULL and empty sets are dropped, never
    mega-bucketed; (4) long ids pass through."""
    import itertools

    from kafka_merge_purge_spark.operators.dedup import set_similarity_pairs
    from kafka_merge_purge_spark.operators.iterate import release_all_persisted

    sets = {
        1: ["a", "b", "c", "d"],
        2: ["a", "b", "c", "d"],          # exact dup of 1
        3: ["a", "b", "c", "d", "a", "b"],  # dup elements: same set as 1
        4: ["w", "x", "y", "z"],
        5: ["a", "b"],                     # subset: J = 0.5 vs 1
        6: [],                             # dropped
    }
    rows = [(k, v) for k, v in sets.items()] + [(7, None)]
    df = spark.createDataFrame(rows, "id long, items array<string>")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_pairs(
            df, id_col="id", set_col="items", jaccard_threshold=0.99
        ).collect()
    }
    release_all_persisted()
    # identical sets agree on every band -> banding recall is certain
    assert got == {(1, 2): 1.0, (1, 3): 1.0, (2, 3): 1.0}

    # lower threshold: the subset pair appears iff banding collides —
    # verify against the SAME banded contract via a band-key replay
    got_low = set_similarity_pairs(
        df, id_col="id", set_col="items", jaccard_threshold=0.4
    )
    rows_low = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_low.collect()}
    release_all_persisted()
    from kafka_merge_purge_spark.operators.dedup import _banded_minhash_keys

    sh = spark.createDataFrame(
        [(k, sorted(set(v))) for k, v in sets.items() if v],
        "id long, sh array<string>",
    )
    keys = _banded_minhash_keys(sh, 24, 8).collect()
    by_id = {}
    for r in keys:
        by_id.setdefault(r["id"], set()).add((r["band"], r["band_key"]))
    expect = {}
    for a, b in itertools.combinations(sorted(k for k, v in sets.items() if v), 2):
        if by_id[a] & by_id[b]:
            ja = len(set(sets[a]) & set(sets[b])) / len(set(sets[a]) | set(sets[b]))
            if round(ja, 6) >= 0.4:
                expect[(a, b)] = round(ja, 6)
    assert rows_low == expect and (1, 2) in rows_low


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Snapshots drift schemas over a 100 TB corpus's lifetime; the
    parquet source must read a directory whose files disagree on
    columns.  mergeSchema=True unions the schemas (missing columns
    NULL-fill per file), and a filter on the NEW column still prunes
    to the files that have it."""
    old = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "de")], "doc_id long, text string, lang string"
    )
    path = tmp_path / "evolving"
    old.write.parquet(str(path / "batch=0"))
    new.write.parquet(str(path / "batch=1"))

    merged = spark.read.option("mergeSchema", "true").parquet(str(path))
    assert set(merged.columns) == {"doc_id", "text", "lang", "batch"}
    rows = {r["doc_id"]: (r["text"], r["lang"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", "en"), 4: ("d", "de")}
    assert merged.filter(F.col("lang") == "en").count() == 1


def test_jl_projection_distortion_and_exactness(spark):
    """r9 JL projection: (1) kernel output equals the driver-side
    quantize→±1-GEMM reference bit-for-bit (both array and long
    forms); (2) the JL guarantee, empirically: cosine drift scales as
    ~1/sqrt(out_dim) (σ≈0.25 at out_dim 16), so over 300 seeded pairs
    the worst |Δcos| stays under ~3σ and the mean under σ, halving at
    out_dim 64 (deterministic seed — the numbers cannot drift); (3) NULL vectors are
    dropped; (4) the plan is a pure map stage — zero exchanges."""
    import random

    import numpy as np

    from kafka_merge_purge_spark.operators.dedup import QUANT_SCALE
    from kafka_merge_purge_spark.operators.similarity import jl_project, jl_signs
    from kafka_merge_purge_spark.plans.introspect import formatted_plan

    rng = random.Random(103)
    vecs = [
        [rng.gauss(0, 1) for _ in range(64)] for _ in range(120)
    ]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(999, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {r["id"]: list(r["proj"]) for r in jl_project(df, out_dim=16).collect()}
    assert 999 not in got and len(got) == 120

    # float32 storage: the reference must quantize the float32-rounded
    # values, exactly like the Arrow kernel sees them
    f32 = {i: np.asarray(v, dtype=np.float32).astype(np.float64) for i, v in enumerate(vecs)}
    S16 = jl_signs(64, 16)
    for i in (0, 7, 63, 119):
        q = np.floor(f32[i] * QUANT_SCALE + 0.5).astype(np.int64)
        assert got[i] == list(q @ S16), i

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return float(a @ b / (na * nb)) if na and nb else 0.0

    for out_dim, worst_bound, mean_bound in ((16, 0.75, 0.25), (64, 0.40, 0.125)):
        S = jl_signs(64, out_dim)
        proj = {i: (np.floor(f32[i] * QUANT_SCALE + 0.5).astype(np.int64) @ S).astype(np.float64) for i in f32}
        deltas = []
        for _ in range(300):
            a, b = rng.sample(range(120), 2)
            deltas.append(abs(cos(f32[a], f32[b]) - cos(proj[a], proj[b])))
        assert max(deltas) <= worst_bound, (out_dim, max(deltas))
        assert sum(deltas) / len(deltas) <= mean_bound, (out_dim, sum(deltas) / len(deltas))

    plan = formatted_plan(jl_project(df, out_dim=16))
    assert "Exchange" not in plan


def test_char_entropy_hand_values_and_plan(spark):
    """Hand-derived entropies: 'aaaa' -> 0 bits, 'ab' -> 1, 'abcd' -> 2,
    'aab' -> H(2/3,1/3); NULL/empty drop; and the plan is a pure narrow
    map — zero Exchange at any scale."""
    import math

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "aab"), (5, None), (6, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.char_entropy(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["entropy_bits"] == 0.0
    assert out[2]["entropy_bits"] == 1.0
    assert out[3]["entropy_bits"] == 2.0
    h = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(out[4]["entropy_bits"] - round(h, 6)) < 1e-9
    assert out[3]["n_chars"] == 4 and out[3]["n_distinct_chars"] == 4
    plan = tx.char_entropy(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_inverted_index_postings_and_cap(spark):
    """Exact doc_freq, sorted postings, within-doc dedup before the
    explode (repeated terms in one doc count once), cap keeps the
    LOWEST ids while doc_freq stays exact."""
    df = spark.createDataFrame(
        [(3, "a b a a"), (1, "b c"), (2, "c a"), (4, None), (5, "...")],
        "doc_id long, text string",
    )
    full = {r["term"]: r for r in tx.inverted_index(df).collect()}
    assert full["a"]["doc_freq"] == 2 and full["a"]["postings"] == "2,3"
    assert full["b"]["doc_freq"] == 2 and full["b"]["postings"] == "1,3"
    assert full["c"]["postings"] == "1,2"
    capped = {r["term"]: r for r in tx.inverted_index(df, max_postings=1).collect()}
    assert capped["a"]["doc_freq"] == 2 and capped["a"]["postings"] == "2"
    # the within-doc dedup is in the narrow projection, before the shuffle
    plan = tx.inverted_index(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.index("array_distinct") > plan.index("Aggregate")  # bottom-up string: distinct below the agg


def test_pmi_cooccurrence_hand_values(spark):
    """Hand-derived PMI on a 4-doc corpus; vocab restriction and the
    min_count floor; plan has no self-join on doc_id (pairs are
    generated in-expression)."""
    import math

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "b c x")],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r for r in
           tx.pmi_cooccurrence(df, top_m=10, min_count=1).collect()}
    assert out[("a", "b")]["c12"] == 2
    assert abs(out[("a", "b")]["pmi"] - round(math.log(2 * 4 / (3 * 3)), 6)) < 1e-9
    assert out[("a", "c")]["c12"] == 1
    assert abs(out[("a", "c")]["pmi"] - round(math.log(1 * 4 / (3 * 2)), 6)) < 1e-9
    assert ("b", "x") in out and ("c", "x") in out and ("x", "b") not in out
    # min_count floor drops the singletons
    floored = {(r["w1"], r["w2"]) for r in
               tx.pmi_cooccurrence(df, top_m=10, min_count=2).collect()}
    assert floored == {("a", "b")}
    # vocab restriction: top_m=3 keeps a,b,c (count desc, term asc) — x drops
    v3 = {(r["w1"], r["w2"]) for r in
          tx.pmi_cooccurrence(df, top_m=3, min_count=1).collect()}
    assert v3 == {("a", "b"), ("a", "c"), ("b", "c")}
    # no doc_id self-join: the only joins are the broadcast count joins
    plan = tx.pmi_cooccurrence(df, top_m=3, min_count=1)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_containment_pairs_exact_vs_bruteforce(spark):
    """Prefix filtering is EXACT (recall 1): the directed pair set
    equals the naive quadratic containment join on a seeded random
    corpus; duplicate elements collapse; min_set_size screens tiny
    sets; both orientations can appear."""
    import itertools
    import random

    rng = random.Random(5)
    rows = [
        (i, [f"e{rng.randrange(50)}" for _ in range(rng.randint(1, 12))])
        for i in range(80)
    ]
    # plant strict subsets so high-containment pairs exist
    rows += [(100 + i, list(set(rows[i][1]))[:3]) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, items array<string>")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(df, threshold=0.7, min_set_size=3).collect()
    }
    sets = {i: set(s) for i, s in rows}
    want = {}
    for a, b in itertools.permutations(sets, 2):
        if len(sets[a]) < 3 or len(sets[b]) < 3:
            continue
        inter = len(sets[a] & sets[b])
        if inter * 1_000_000 >= 700_000 * len(sets[a]):
            want[(a, b)] = round(inter / len(sets[a]), 6)
    assert got == want and want
    assert any(a != b and (b, a) in got for a, b in got)  # asymmetric pairs

    # hand pins: {a,b,c} ⊂ {a,b,c,d} directed, not the reverse at 0.9
    h = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "c", "d"]), (3, ["x", "y", "z"])],
        "id long, items array<string>",
    )
    hp = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(h, threshold=0.9, min_set_size=3).collect()
    }
    assert hp == {(1, 2): 1.0}

    with pytest.raises(ValueError):
        dd.containment_pairs(h, threshold=0.0)


def test_char_entropy_kernel_matches_agg(spark, tables):
    """char_entropy equals a Counter-based Shannon entropy computed in
    Python on the real corpus + crafted edge docs (runs of one char,
    full-range distinct, multibyte); NULL/empty text drops."""
    import math
    from collections import Counter

    def ref(i, t):
        c = Counter(t)
        h = -sum(v / len(t) * math.log2(v / len(t)) for v in c.values())
        return i, len(t), len(c), h

    edge = spark.createDataFrame(
        [(1, "aaaabbbbccccdddd"), (2, "zyxw vut"), (3, "αβγ αβ α"), (4, "a" * 500),
         (5, ""), (6, None)],
        "doc_id long, text string",
    )
    for df in (tables["documents"], edge):
        got = sorted(map(tuple, tx.char_entropy(df).collect()))
        want = sorted(ref(r["doc_id"], r["text"]) for r in df.collect() if r["text"])
        assert [g[:3] for g in got] == [w[:3] for w in want] and got
        assert all(abs(g[3] - w[3]) <= 2e-6 for g, w in zip(got, want))
    assert {r["doc_id"] for r in tx.char_entropy(edge).collect()} == {1, 2, 3, 4}


def test_label_propagation_matches_reference(spark):
    """Synchronous derandomized LPA equals a driver-side reference
    (same mode + (count desc, label asc) tie-break) on seeded random
    graphs; bridged triangles resolve to two communities; nodes
    without in-edges keep their label."""
    import random

    from kafka_merge_purge_spark.operators.components import label_propagation

    def reference(edges, iters):
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
        lab = {v: v for v in nodes}
        for _ in range(iters):
            inc: dict = {}
            for u, v in edges:
                inc.setdefault(v, []).append(lab[u])
            new = dict(lab)
            for v, ls in inc.items():
                cnt: dict = {}
                for l in ls:
                    cnt[l] = cnt.get(l, 0) + 1
                new[v] = min(cnt, key=lambda l: (-cnt[l], l))
            lab = new
        return lab

    rng = random.Random(9)
    for trial in range(4):
        nodes = [f"n{i}" for i in range(24)]
        edges = list({
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(60)
        })
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["label"] for r in
               label_propagation(df, iterations=3).collect()}
        assert got == reference(edges, 3), f"trial {trial}"

    tri = [("a","b"),("b","c"),("c","a"),("x","y"),("y","z"),("z","x"),("c","x")]
    und = tri + [(b, a) for a, b in tri]
    df = spark.createDataFrame(und, "src string, dst string")
    got = {r["node"]: r["label"] for r in
           label_propagation(df, iterations=4).collect()}
    assert got == reference(und, 4)
    assert len({got["a"], got["x"]}) == 2  # two communities survive the bridge

    # directed: a source-only node keeps its own label
    d2 = spark.createDataFrame([("s", "t")], "src string, dst string")
    g2 = {r["node"]: r["label"] for r in label_propagation(d2, iterations=2).collect()}
    assert g2 == {"s": "s", "t": "s"}


def test_label_propagation_until_stable_matches_fixed_twin(spark):
    """Convergence-stopped LPA (until_stable=True over the generic
    iterate() primitive) equals the fixed-sweep twin run past
    convergence: once a sweep moves no label, every further fixed sweep
    is a no-op, so the early-stopped labels ARE the fixed-form labels
    for any iterations >= the stable round."""
    from kafka_merge_purge_spark.operators.components import label_propagation

    tri = [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")]
    und = tri + [(b, a) for a, b in tri]
    df = spark.createDataFrame(und, "src string, dst string")
    stable = {
        r["node"]: r["label"]
        for r in label_propagation(df, iterations=20, until_stable=True).collect()
    }
    fixed = {
        r["node"]: r["label"]
        for r in label_propagation(df, iterations=20).collect()
    }
    assert stable == fixed
    # the `_changed` plumbing column never leaks into the output schema
    out = label_propagation(df, iterations=2, until_stable=True)
    assert out.columns == ["node", "label"]


def test_sq8_roundtrip_index_and_recall_floor(spark, tables, tmp_path):
    """SQ8 export tier (r13): codes stay in int8 range, reconstruction
    error is bounded by half a quantization step per dimension, the
    persisted codes+params layout round-trips (indexed top-k equals the
    in-plan decode path; appends reuse stored params so codes stay
    stable), the x_sq_recall gate clears the 0.9 floor at fixture
    scale, and degenerate inputs fail eagerly."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators import pq
    from kafka_merge_purge_spark.operators import similarity as sim

    emb = tables["embeddings"]
    params = pq.sq8_fit(emb)
    assert len(params) == 64 and all(mn <= mx for mn, mx in params)
    enc = pq.sq8_encode(emb, params)
    dec = enc.select(
        "vec_id", pq.sq8_decode_expr(F.col("codes"), params).alias("embedding")
    )
    joined = (
        emb.select("vec_id", F.col("embedding").alias("orig"))
        .join(dec.select("vec_id", F.col("embedding").alias("rec")), "vec_id")
        .collect()
    )
    assert len(joined) == emb.filter(F.col("embedding").isNotNull()).count()
    for row in joined[:50]:
        for d, (x, xh) in enumerate(zip(row["orig"], row["rec"])):
            mn, mx = params[d]
            step = (mx - mn) / 255.0 if mx > mn else 0.0
            assert abs(float(x) - xh) <= step / 2 + 1e-9, (d, x, xh)
    codes0 = enc.select(F.explode("codes").alias("c")).agg(
        F.min("c"), F.max("c")
    ).first()
    assert -128 <= codes0[0] and codes0[1] <= 127

    # persisted layout: build on half, append the rest with STORED
    # params; indexed top-k == in-plan decode top-k over the union
    path = str(tmp_path / "sq8")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    pq.build_sq8_index(half_a, path)
    pq.append_to_sq8_index(spark, path, half_b)
    stored = pq._read_sq8_params(spark, path)
    dec_all = pq.sq8_encode(emb, stored).select(
        "vec_id", pq.sq8_decode_expr(F.col("codes"), stored).alias("embedding")
    )
    probes = emb.filter(F.col("vec_id") < 8)
    direct = sim.brute_force_topk(probes, dec_all, k=3)
    indexed = pq.sq8_topk_indexed(spark, path, probes, k=3)
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, direct.collect())
    )

    # recall floor: the x_sq_recall gate semantics at fixture scale
    ref = sim.brute_force_topk(probes, emb, k=10)
    cand = sim.brute_force_topk(probes, dec_all, k=10)
    rec = sim.topk_recall(ref, cand, item_col="neighbor_id", k=10).agg(
        F.avg("recall").alias("r")
    ).first()["r"]
    assert rec >= 0.9, rec

    with _pytest.raises(ValueError, match="empty corpus"):
        pq.sq8_fit(emb.filter(F.lit(False)))
    with _pytest.raises(ValueError, match="empty params"):
        pq.sq8_encode(emb, [])


def test_pq_fit_encode_and_recall_floor(spark):
    """PQ tier (r11): deterministic codebooks, m-code encode, ADC+rerank
    recall@10 >= 0.9 mean vs brute force on the real corpus, IVF-PQ
    composition >= 0.85; the pure-ADC path returns the documented
    schema; dimension-split and degenerate inputs fail loudly."""
    import statistics

    import pytest as _pytest
    from pyspark.sql import functions as F2

    from kafka_merge_purge_spark.operators.pq import (
        ivf_pq_topk,
        pq_encode,
        pq_fit,
        pq_fit_sample,
        pq_topk,
    )
    from kafka_merge_purge_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )
    from kafka_merge_purge_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    books = pq_fit_sample(emb, m=16, ksub=32, iters=4)
    assert len(books) == 16 and all(len(b[0]) == 4 for b in books)
    # deterministic: a refit is identical
    assert books == pq_fit_sample(emb, m=16, ksub=32, iters=4)

    codes = pq_encode(emb, books)
    assert codes.columns == ["vec_id", "codes"]
    row = codes.first()
    assert len(row["codes"]) == 16
    assert all(0 <= c < 32 for c in row["codes"])

    q = emb.filter(F2.col("vec_id") < 20)
    ref = brute_force_topk(q, emb, k=10)
    cand = pq_topk(q, emb, books, k=10, rerank_factor=8)
    rec = [r["recall"] for r in
           topk_recall(ref, cand, item_col="neighbor_id", k=10).collect()]
    assert statistics.mean(rec) >= 0.9

    ivf = ivf_pq_topk(q, emb, books, k=10, n_cells=16, nprobe=8, rerank_factor=8)
    rec2 = [r["recall"] for r in
            topk_recall(ref, ivf, item_col="neighbor_id", k=10).collect()]
    assert statistics.mean(rec2) >= 0.85

    # pure ADC (rerank disabled): same schema, cos is the quantized
    # estimate — rank-1 should still usually find a true top-10 member
    adc = pq_topk(q, emb, books, k=10, rerank_factor=0)
    assert adc.columns == ["query_id", "rank", "neighbor_id", "cos"]

    # the distributed kmeans_fit-based trainer agrees on shape
    small = emb.limit(40)
    books2 = pq_fit(small, m=8, ksub=4, iters=1)
    assert len(books2) == 8 and pq_encode(small, books2).count() == 40

    # codes == a numpy nearest-sub-centroid reference (squared distance,
    # first argmin) row-for-row on the real corpus
    import numpy as np

    kern = sorted((r["vec_id"], tuple(r["codes"]))
                  for r in pq_encode(emb, books2).collect())
    vecs = [(r["vec_id"], np.asarray(r["embedding"], dtype=np.float64))
            for r in emb.collect() if r["embedding"] is not None]
    dsub = len(books2[0][0])
    ref = sorted(
        (i, tuple(
            int(((v[j * dsub:(j + 1) * dsub] - np.asarray(cb)) ** 2)
                .sum(axis=1).argmin())
            for j, cb in enumerate(books2)
        ))
        for i, v in vecs
    )
    assert kern == ref and len(kern) == len(vecs)

    with _pytest.raises(ValueError):
        pq_fit_sample(emb, m=7)  # 64 dims don't split into 7
    assert pq_fit_sample(emb.limit(0), m=8) == []
    empty = pq_topk(q, emb, [], k=5)
    assert empty.count() == 0


def test_k_core_matches_reference_peeling(spark):
    """k_core == driver-side synchronous peeling on seeded random
    graphs; a planted star peels away
    while the clique core survives with its in-core degrees; k < 1
    raises; the empty core is an empty frame."""
    import random

    from kafka_merge_purge_spark.operators.components import k_core

    def reference(edges, k, rounds):
        adj: dict = {}
        for u, v in edges:
            if u == v:
                continue
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        live = set(adj)
        for _ in range(rounds):
            nxt = {n for n in live
                   if sum(1 for m in adj[n] if m in live) >= k}
            if nxt == live:
                break
            live = nxt
        return {n: sum(1 for m in adj[n] if m in live) for n in live
                if sum(1 for m in adj[n] if m in live) > 0}

    rng = random.Random(31)
    for trial in range(3):
        nodes = list(range(24))
        edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(70)})
        df = spark.createDataFrame(edges, "src long, dst long")
        for k in (2, 3):
            want = reference(edges, k, 50)
            got = {r["node"]: r["degree"]
                   for r in k_core(df, k=k, rounds=50).collect()}
            assert got == want, f"trial {trial} k={k}"
            # a tighter cap past the fixpoint is result-identical
            # (monotone peeling + always-on early stop)
            capped = {r["node"]: r["degree"]
                      for r in k_core(df, k=k, rounds=60).collect()}
            assert capped == want, f"trial {trial} k={k} (capped)"

    # K4 clique + a star hanging off one corner: star peels, clique stays
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    star = [(1, 10), (1, 11), (1, 12)]
    df = spark.createDataFrame(clique + star, "src long, dst long")
    got = {r["node"]: r["degree"] for r in k_core(df, k=3, rounds=10).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # over-aggressive k empties the core
    assert k_core(df, k=7, rounds=10).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        k_core(df, k=0)


def test_random_walks_deterministic_and_sink_safe(spark):
    """md5-coin walks: identical across runs, path[0] = start, every
    consecutive pair is a real edge, sinks retire early, walks_per_node
    fans out with distinct coins, and the coin is near-uniform over
    neighbors (loose frequency sanity on a 2-regular hub)."""
    from kafka_merge_purge_spark.operators.components import random_walks

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")]  # d is a sink
    eset = set(edges)
    df = spark.createDataFrame(edges, "src string, dst string")
    out1 = {r["walk_id"]: tuple(r["path"])
            for r in random_walks(df, walk_length=5).collect()}
    out2 = {r["walk_id"]: tuple(r["path"])
            for r in random_walks(df, walk_length=5).collect()}
    assert out1 == out2 and len(out1) == 4
    for wid, path in out1.items():
        start = wid.split("#")[0]
        assert path[0] == start
        for u, v in zip(path, path[1:]):
            assert (u, v) in eset
        # a walk ends either at full length or stranded on the sink
        assert len(path) == 6 or path[-1] == "d"
    # d's own walk retires immediately
    assert out1["d#0"] == ("d",)

    # fan-out: 3 walks per node, ids distinct, seeds differ per walk
    multi = random_walks(df, walk_length=3, walks_per_node=3).collect()
    assert len(multi) == 12
    assert len({r["walk_id"] for r in multi}) == 12

    # degenerate params rejected (sequence(0, -1) would DESCEND and
    # fabricate ghost walks)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        random_walks(df, walks_per_node=0)
    with _pytest.raises(ValueError):
        random_walks(df, walk_length=-1)

    # uniformity sanity: from a node with 10 neighbors, 200 walks split
    # roughly evenly (no neighbor starved or hoarding)
    hub = spark.createDataFrame(
        [("h", f"n{i}") for i in range(10)], "src string, dst string"
    )
    first_steps = [
        r["path"][1]
        for r in random_walks(hub, walk_length=1, walks_per_node=200).collect()
        if r["start"] == "h" and len(r["path"]) > 1
    ]
    assert len(first_steps) == 200
    from collections import Counter

    counts = Counter(first_steps)
    assert len(counts) == 10 and all(5 <= c <= 45 for c in counts.values())


def test_hits_matches_integer_reference(spark):
    """Quantized HITS equals a driver-side exact-integer replay on
    seeded random digraphs; a star hub out-scores its spokes on hub
    and the center of an in-star wins authority; pure-sink/source
    nodes keep renormalized zero-side scores."""
    import random

    from kafka_merge_purge_spark.operators.components import HITS_SCALE, hits

    def reference(edges, iters):
        nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
        n = len(nodes)
        h = {v: HITS_SCALE // n for v in nodes}
        a = {v: HITS_SCALE // n for v in nodes}
        for _ in range(iters):
            ar = {}
            for u, v in edges:
                ar[v] = ar.get(v, 0) + h[u]
            asum = sum(ar.values())
            if asum > 0:
                a = {v: (ar.get(v, 0) * HITS_SCALE) // asum for v in nodes}
            hr = {}
            for u, v in edges:
                hr[u] = hr.get(u, 0) + a[v]
            hsum = sum(hr.values())
            if hsum > 0:
                h = {v: (hr.get(v, 0) * HITS_SCALE) // hsum for v in nodes}
        return h, a

    rng = random.Random(17)
    for trial in range(3):
        nodes = [f"n{i}" for i in range(18)]
        edges = list({(rng.choice(nodes), rng.choice(nodes)) for _ in range(40)})
        edges = [(u, v) for u, v in edges if u != v]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: (r["hub"], r["authority"])
               for r in hits(df, iterations=2).collect()}
        h, a = reference(edges, 2)
        assert got == {v: (h[v], a[v]) for v in h}, f"trial {trial}"

    # out-star: the center is the only hub, spokes split authority
    star = spark.createDataFrame(
        [("hub", f"s{i}") for i in range(4)], "src string, dst string"
    )
    got = {r["node"]: r for r in hits(star, iterations=2).collect()}
    assert got["hub"]["hub"] == HITS_SCALE  # all hub mass
    assert got["hub"]["authority"] == 0
    assert all(got[f"s{i}"]["hub"] == 0 for i in range(4))
    assert all(got[f"s{i}"]["authority"] == HITS_SCALE // 4 for i in range(4))


def test_sssp_matches_reference_and_stable_twin(spark):
    """Bellman-Ford on iterate(): hop + weighted distances equal a
    driver-side Dijkstra on seeded random graphs; unreached nodes NULL;
    until_stable equals the fixed twin run past convergence."""
    import heapq
    import random

    from kafka_merge_purge_spark.operators.components import sssp

    def dijkstra(edges, source):
        adj: dict = {}
        nodes = set()
        for u, v, w in edges:
            adj.setdefault(u, []).append((v, w))
            nodes.update((u, v))
        dist = {source: 0}
        pq = [(0, source)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, []):
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return {n: dist.get(n) for n in nodes}

    rng = random.Random(11)
    for trial in range(3):
        nodes = [f"n{i}" for i in range(20)]
        edges = list(
            {
                (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
                for _ in range(45)
            }
        )
        edges = [(u, v, w) for u, v, w in edges if u != v]
        df = spark.createDataFrame(edges, "src string, dst string, w long")
        want = dijkstra(edges, "n0")
        got = {
            r["node"]: r["dist"]
            for r in sssp(df, "n0", weight="w", rounds=25).collect()
        }
        assert got == want, f"trial {trial}"
        stable = {
            r["node"]: r["dist"]
            for r in sssp(
                df, "n0", weight="w", rounds=25, until_stable=True
            ).collect()
        }
        assert stable == want, f"trial {trial} (until_stable)"

    # hop counting + bounded rounds: nodes beyond the round budget stay NULL
    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {r["node"]: r["dist"] for r in sssp(path, "a", rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": None}
    # output schema carries no plumbing column
    assert sssp(path, "a", rounds=2, until_stable=True).columns == ["node", "dist"]


def test_iterate_primitive_contract(spark):
    """iterate(): fixed rounds without a changed col; early stop with
    one; max_rounds=0 returns the initial state; bad args raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafka_merge_purge_spark.operators.iterate import iterate

    init = spark.createDataFrame([(0,)], "x int")

    # no changed col → exactly max_rounds applications
    out = iterate(init, lambda s, i: s.select((F.col("x") + 1).alias("x")), 5)
    assert out.collect()[0]["x"] == 5

    # changed col → stop at the fixpoint (x saturates at 3), col stripped
    calls = []

    def sat(s, i):
        calls.append(i)
        nxt = F.least(F.col("x") + 1, F.lit(3))
        return s.select(nxt.alias("x"), (nxt != F.col("x")).alias("_changed"))

    out = iterate(init, sat, 50)
    assert out.collect()[0]["x"] == 3 and out.columns == ["x"]
    # 3 moving rounds + the round that detects no movement
    assert len(calls) == 4

    assert iterate(init, sat, 0).collect()[0]["x"] == 0
    with _pytest.raises(ValueError):
        iterate(init, sat, -1)


def test_ledger_releases_every_operator_rdd(spark):
    """The materialization ledger: after release_all_persisted(), no RDD
    that strongly_connected_components or connected_components (both on
    their distributed iterate paths) made persistent is still
    persistent.  Compares id sets, not counts — ContextCleaner frees
    GC'd checkpoints asynchronously, so a count can move either way.
    And one iterate() call leaves exactly one of its own checkpoints:
    the state it returns; the caller's initial state stays readable."""
    from pyspark.sql import functions as F

    from kafka_merge_purge_spark.operators.components import (
        connected_components,
        strongly_connected_components,
    )
    from kafka_merge_purge_spark.operators.iterate import (
        iterate,
        materialize,
        release_all_persisted,
    )

    jsc = spark.sparkContext._jsc

    def persistent() -> set[int]:
        return set(jsc.getPersistentRDDs().keySet())

    # two directed cycles joined by a bridge, plus a tail
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7)],
        "src long, dst long",
    )
    before = persistent()
    scc = strongly_connected_components(edges, max_driver_edges=0)
    cc = connected_components(edges, "src", "dst", max_driver_edges=0)
    assert {r["node"]: r["scc"] for r in scc.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7,
    }
    assert {r["component"] for r in cc.collect()} == {1}
    made = persistent() - before
    assert made  # the distributed paths did materialize
    release_all_persisted()
    assert not (persistent() & made)

    init = materialize(spark.range(4).select(F.col("id").alias("x")))
    before = persistent()
    out = iterate(init, lambda s, i: s.select((F.col("x") + 1).alias("x")), 6)
    assert sorted(r["x"] for r in out.collect()) == [6, 7, 8, 9]
    left = persistent() - before
    assert left == {out._jdf.logicalPlan().rdd().id()}
    assert sorted(r["x"] for r in init.collect()) == [0, 1, 2, 3]
    release_all_persisted()
    assert not (persistent() & (left | {init._jdf.logicalPlan().rdd().id()}))


def test_winsorize_bounds_and_facts_never_shuffle(spark):
    """Hand percentiles on 1..100 at p05/p95 (interpolated: 5.95 /
    95.05), exactly 10 clipped; ungrouped form; the fact side of the
    plan carries no Exchange (bounds broadcast — the x_zscore
    posture)."""
    from kafka_merge_purge_spark.operators.analytics import winsorize

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "g string, v double"
    )
    out = winsorize(df, "v", "g", 0.05, 0.95).collect()
    assert min(r["clamped"] for r in out) == 5.95
    assert max(r["clamped"] for r in out) == 95.05
    assert sum(r["clipped"] for r in out) == 10
    kept = [r for r in out if not r["clipped"]]
    assert all(r["clamped"] == r["value"] for r in kept)

    ug = winsorize(df, "v", lower=0.05, upper=0.95).collect()
    assert sum(r["clipped"] for r in ug) == 10

    plan = (
        winsorize(df, "v", "g")._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # the only non-broadcast exchange is the tiny percentile aggregate's
    assert plan.count("Exchange hashpartitioning") <= 1


def test_topk_recall_audits_ann_paths(spark, tables):
    """topk_recall composes with the repo's own rankings: brute-force
    cosine vs itself scores 1.0 everywhere; vs LSH it reports the
    recall the pytest pins asserted by hand; a candidate missing a
    query scores 0 for it."""
    emb = tables["embeddings"].limit(200)
    exact = sim.brute_force_topk(emb, emb, k=5).select(
        "query_id", F.col("neighbor_id").alias("item"), "rank"
    )
    perfect = sim.topk_recall(exact, exact, k=5).collect()
    assert perfect and all(r["recall"] == 1.0 for r in perfect)

    approx = sim.lsh_topk(emb, emb, k=5, n_planes=6, n_tables=12).select(
        "query_id", F.col("neighbor_id").alias("item"), "rank"
    )
    audited = sim.topk_recall(exact, approx, k=5).collect()
    macro = sum(r["recall"] for r in audited) / len(audited)
    assert 0.3 <= macro <= 1.0  # sane, and never above 1

    # a dropped query scores 0, not a missing row
    one = spark.createDataFrame([("q1", "a", 1), ("q2", "b", 1)],
                                "query_id string, item string, rank int")
    cand = spark.createDataFrame([("q1", "a", 1)],
                                 "query_id string, item string, rank int")
    got = {r["query_id"]: r["recall"] for r in sim.topk_recall(one, cand, k=5).collect()}
    assert got == {"q1": 1.0, "q2": 0.0}


def test_scd2_asof_selects_the_covering_version(spark):
    """As-of semantics: half-open [valid_from, valid_to) with NULL =
    current; exactly one version per key covers any instant inside the
    key's span."""
    from kafka_merge_purge_spark.operators.snapshot import scd2_asof

    hist = spark.createDataFrame(
        [
            (1, "a", 1, 100, 200),
            (1, "b", 2, 200, None),
            (2, "x", 1, 150, None),
            (3, "z", 1, 500, None),   # starts after T
        ],
        "user_id long, event_type string, version int, valid_from long, valid_to long",
    )
    got = {r["user_id"]: r for r in scd2_asof(hist, 200).collect()}
    assert set(got) == {1, 2}
    assert got[1]["event_type"] == "b"  # boundary: valid_to is EXCLUSIVE
    assert got[2]["event_type"] == "x"
    at150 = {r["user_id"]: r["event_type"] for r in scd2_asof(hist, 150).collect()}
    assert at150 == {1: "a", 2: "x"}


def test_triangle_counts_reference_and_orientation(spark):
    """K4 (every node in 3 triangles), triangle-free path, duplicate/
    reversed/self edges collapse; equals a driver brute-force count on
    seeded random graphs (every triangle counted once, credited to all
    three corners)."""
    import itertools
    import random

    from kafka_merge_purge_spark.operators.components import triangle_counts

    k4 = [(a, b) for a in "pqrs" for b in "pqrs" if a < b]
    edges = k4 + [("x", "y"), ("y", "z")] + [("q", "p"), ("p", "q"), ("p", "p")]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert out == {"p": 3, "q": 3, "r": 3, "s": 3, "x": 0, "y": 0, "z": 0}

    rng = random.Random(3)
    for trial in range(3):
        nodes = list(range(18))
        es = list({(min(a, b), max(a, b))
                   for a, b in (rng.sample(nodes, 2) for _ in range(60))})
        adj = {n: set() for n in nodes}
        for u, v in es:
            adj[u].add(v); adj[v].add(u)
        want = {n: 0 for n in {x for e in es for x in e}}
        for t in itertools.combinations(sorted(want), 3):
            if t[1] in adj[t[0]] and t[2] in adj[t[0]] and t[2] in adj[t[1]]:
                for n in t:
                    want[n] += 1
        df2 = spark.createDataFrame(es, "src long, dst long")
        got = {r["node"]: r["n_triangles"]
               for r in triangle_counts(df2).collect()}
        assert got == want, f"trial {trial}"


def test_dimension_stats_hand_moments(spark):
    """Per-dimension moments on a hand corpus: dim 1 constant (variance
    0), dim 2 = {0, 2} (mean 1, sample var 2), NULL vectors drop; pos
    is 1-based."""
    from kafka_merge_purge_spark.functions.vectors import dimension_stats

    df = spark.createDataFrame(
        [(1, [5.0, 0.0]), (2, [5.0, 2.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    out = {r["pos"]: r for r in dimension_stats(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n"] == 2 and out[1]["mean"] == 5.0 and out[1]["variance"] == 0.0
    assert out[2]["mean"] == 1.0 and out[2]["variance"] == 2.0
    assert out[2]["min_value"] == 0.0 and out[2]["max_value"] == 2.0

    # Unit-norm-scale components (~1e-2): the fine decimal route must NOT
    # quantize the second moment to zero (the r10 ADVICE regression — at
    # DECIMAL(18,4) this corpus reported variance 0, inverting the
    # dead-dimension QA signal).
    small = spark.createDataFrame(
        [(1, [0.01]), (2, [0.03]), (3, [0.05])],
        "vec_id long, embedding array<double>",
    )
    row = dimension_stats(small).collect()[0]
    assert row["mean"] == 0.03
    assert row["variance"] == 0.0004  # sample var of {1,3,5}e-2 exactly

    # n == 1: sample variance undefined → explicit NULL (never a
    # DIVIDE_BY_ZERO under ANSI mode).
    one = spark.createDataFrame([(1, [0.5, 0.25])], "vec_id long, embedding array<double>")
    for r in dimension_stats(one).collect():
        assert r["n"] == 1 and r["variance"] is None


def test_record_linkage_scoring_and_blocking(spark):
    """Field kinds score as specified (hand arithmetic), blocking
    prunes cross-block pairs even when fields match, weights must sum
    positive, unknown kinds raise."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.linkage import record_linkage

    a = spark.createDataFrame(
        [(1, "jonathan smith", "NY", 100.0), (2, "mary jones", "CA", 50.0),
         (3, "bob brown", "NY", 77.0)],
        "id long, name string, state string, bal double",
    )
    b = spark.createDataFrame(
        [(11, "jonathon smith", "NY", 101.0),   # 1 edit + close bal
         (12, "mary j0nes", "CA", 500.0),       # 1 edit, far bal
         (13, "bob brown", "TX", 77.0)],        # exact but other block
        "id long, name string, state string, bal double",
    )
    spec = [("name", "string", 2.0), ("bal", ("numeric", 10.0), 1.0)]
    out = {(r["id_a"], r["id_b"]): r["score"]
           for r in record_linkage(a, b, "id", ["state"], spec, 0.8).collect()}
    want_1_11 = round((2 * (1 - 1 / 14) + 1 * (1 - 1 / 10)) / 3, 6)
    assert out == {(1, 11): want_1_11}
    # mary scores (2*0.9 + 0)/3 = 0.6 -> below threshold; visible at 0.5
    low = {(r["id_a"], r["id_b"]): r["score"]
           for r in record_linkage(a, b, "id", ["state"], spec, 0.5).collect()}
    assert low[(2, 12)] == 0.6
    assert (3, 13) not in low  # blocked out despite identical fields

    # exact kind is null-safe
    an = spark.createDataFrame([(1, None, "NY")], "id long, seg string, state string")
    bn = spark.createDataFrame([(2, None, "NY")], "id long, seg string, state string")
    got = record_linkage(an, bn, "id", ["state"], [("seg", "exact", 1.0)], 0.9).collect()
    assert got[0]["score"] == 1.0

    # NaN on a numeric field is "missing" (scores 0.0), not a silent
    # drop: without the screen the weighted sum goes NaN and
    # `NaN >= threshold` is false, vanishing a pair whose OTHER fields
    # match perfectly (r10 ADVICE).
    anan = spark.createDataFrame(
        [(1, "bob brown", "NY", float("nan"))],
        "id long, name string, state string, bal double",
    )
    bnan = spark.createDataFrame(
        [(2, "bob brown", "NY", 77.0)],
        "id long, name string, state string, bal double",
    )
    nan_out = record_linkage(
        anan, bnan, "id", ["state"], spec, 0.5
    ).collect()
    # score = (2*1.0 + 1*0.0)/3 — name exact, bal degenerate
    assert len(nan_out) == 1 and nan_out[0]["score"] == round(2 / 3, 6)

    with _pytest.raises(ValueError):
        record_linkage(a, b, "id", ["state"], [("name", "fuzzy?", 1.0)]).collect()
    with _pytest.raises(ValueError):
        record_linkage(a, b, "id", ["state"], [("name", "string", 0.0)])


def test_containment_pairs_survives_int32_overflow_sizes(spark):
    """Sets larger than ~2147 elements overflow int32 at t_q·|A|
    (t_q up to 1e6); the threshold compare must run in long.  A 4000-
    element set 90%-contained in its superset must emit — the wrapped
    compare silently dropped it."""
    big = [f"e{i}" for i in range(4000)]
    df = spark.createDataFrame(
        [(1, big[:3700]), (2, big)],  # 3700/3700 = 1.0 contained in 2
        "id long, items array<string>",
    )
    out = {(r["id_a"], r["id_b"]): r["containment"]
           for r in dd.containment_pairs(df, threshold=0.9, min_set_size=3).collect()}
    assert out[(1, 2)] == 1.0
    assert out[(2, 1)] == 0.925  # 3700/4000, also over the bar


def test_record_linkage_null_fields_score_zero_not_null(spark):
    """A NULL on either side of a string/numeric field scores 0.0 —
    NEVER NULL: a NULL similarity would null the whole weighted sum and
    silently drop the pair, turning one missing field into a
    guaranteed non-match even when every other field agrees."""
    from kafka_merge_purge_spark.operators.linkage import record_linkage

    a = spark.createDataFrame(
        [(1, "alice smith", "NY", None)], "id long, name string, state string, bal double"
    )
    b = spark.createDataFrame(
        [(2, "alice smith", "NY", 10.0)], "id long, name string, state string, bal double"
    )
    spec = [("name", "string", 2.0), ("bal", ("numeric", 5.0), 1.0)]
    out = record_linkage(a, b, "id", ["state"], spec, threshold=0.6).collect()
    # name exact (2/3 of weight), bal missing -> 0: score 2/3, pair kept
    assert len(out) == 1 and out[0]["score"] == round(2 / 3, 6)

    an = a.withColumn("name", F.lit(None).cast("string"))
    out2 = record_linkage(an, b, "id", ["state"], spec, threshold=0.0).collect()
    assert out2[0]["score"] == 0.0  # all-null fields: 0, not a dropped row


def test_bm25_search_ranks_and_quantized_sum(spark):
    """Retrieval semantics: docs sharing more/rarer query terms rank
    first, docs without any query term never appear, ties break by
    doc_id, empty query raises."""
    from kafka_merge_purge_spark.operators.text import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark window merge spark"),
            (2, "spark table row"),
            (3, "other words entirely"),
            (4, "window window window pad pad pad pad pad pad pad"),
        ],
        "doc_id long, text string",
    )
    out = bm25_search(df, ["spark", "window"], k=10).collect()
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert 3 not in ranked and set(ranked) == {1, 2, 4}
    assert ranked[0] == 1  # both terms, short doc
    assert all(r["score"] > 0 for r in out)
    with pytest.raises(ValueError):
        bm25_search(df, [])


def test_skew_report_totals_and_null_key(spark):
    """Top-N heavy keys with shares; NULL keys surface as the literal
    'NULL' key; totals ride every row."""
    from kafka_merge_purge_spark.operators.analytics import skew_report

    rows = [("a",)] * 6 + [("b",)] * 3 + [(None,)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k string")
    out = {r["rank"]: r for r in skew_report(df, "k", top=3).collect()}
    assert [out[i]["key"] for i in (1, 2, 3)] == ["a", "b", "NULL"]
    assert out[1]["cnt"] == 6 and out[1]["share"] == 0.5
    assert out[1]["n_rows"] == 12 and out[1]["n_keys"] == 4


def test_countmin_absent_probe_estimates_zero(spark):
    """A probe item none of whose cells is populated estimates 0 — an
    inner join silently dropped it, and a mixed empty/colliding item
    over-estimated (the documented min-rule says 0); matches the
    streaming twin's counts.get(cell, 0)."""
    from kafka_merge_purge_spark.operators.sketch import countmin_frequencies
    from kafka_merge_purge_spark.streaming.stateful import (
        emit_countmin,
        fold_countmin,
    )

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "x string")
    q = spark.createDataFrame([("a",), ("absent_item_zzz",)], "item string")
    est = {r["item"]: r["est"] for r in
           countmin_frequencies(df, "x", queries=q, depth=4, width=4096).collect()}
    assert est == {"a": 2, "absent_item_zzz": 0}
    cells = fold_countmin(None, iter([__import__("pandas").DataFrame({"item": ["a", "a", "b"]})]), 4, 4096)
    out = emit_countmin("k", cells, ["a", "absent_item_zzz"], 4, 4096)
    assert dict(zip(out["item"], out["est"])) == est


def test_canonical_url_fragment_question_mark(spark):
    """A '?' inside the fragment of a query-less URL must NOT be parsed
    as the query — the fragment is dropped, so the canonical form
    collapses with the bare path, not with a genuinely-parameterized
    URL."""
    from kafka_merge_purge_spark.operators.curation import canonical_url

    df = spark.createDataFrame(
        [
            (1, "https://example.com/a#sec?x=1"),
            (2, "https://example.com/a"),
            (3, "https://example.com/a?x=1"),
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["canonical_url"] for r in canonical_url(df).collect()}
    assert got[1] == got[2] == "https://example.com/a"
    assert got[3] == "https://example.com/a?x=1" and got[1] != got[3]


def test_winsorize_null_nan_pass_through_unclamped(spark):
    """NULL/NaN values pass through unclamped (no fabricated bound) and
    are masked out of the percentile aggregate (one NaN would shift the
    whole group's upper bound — Spark ranks NaN above every number)."""
    from kafka_merge_purge_spark.operators.analytics import winsorize

    rows = [("a", float(i)) for i in range(1, 101)]
    rows += [("a", None), ("a", float("nan"))]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", "g", 0.05, 0.95).collect()
    import math

    degenerate = [r for r in out if r["value"] is None or math.isnan(r["value"])]
    assert len(degenerate) == 2
    for r in degenerate:
        assert r["clipped"] == 0
        assert r["clamped"] is None or math.isnan(r["clamped"])
    clean = [r for r in out if r["value"] is not None and not math.isnan(r["value"])]
    # bounds computed over the CLEAN 1..100 only: same as the NaN-free pin
    assert max(r["clamped"] for r in clean) == 95.05
    assert min(r["clamped"] for r in clean) == 5.95
    assert sum(r["clipped"] for r in clean) == 10


def test_equidepth_histogram_buckets(spark):
    """8 rows / 4 buckets → 2 rows each, contiguous non-overlapping
    bounds; duplicated values need the tiebreak for determinism; NULLs
    drop."""
    from kafka_merge_purge_spark.operators.analytics import equidepth_histogram

    rows = [("a", float(v), i) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8])]
    rows += [("a", None, 99)]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    out = {r["bucket"]: r for r in
           equidepth_histogram(df, "v", "g", buckets=4, tiebreak_col="id").collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert all(out[b]["n"] == 2 for b in out)
    assert out[1]["lo"] == 1.0 and out[1]["hi"] == 2.0
    assert out[4]["lo"] == 7.0 and out[4]["hi"] == 8.0
    for b in (1, 2, 3):
        assert out[b]["hi"] <= out[b + 1]["lo"]

    # determinism on duplicated values via the tiebreak
    dup = spark.createDataFrame(
        [("a", 5.0, i) for i in range(8)], "g string, v double, id long"
    )
    a = sorted(map(tuple, equidepth_histogram(dup, "v", "g", 4, "id").collect()))
    b2 = sorted(map(tuple, equidepth_histogram(dup, "v", "g", 4, "id").collect()))
    assert a == b2 and all(r[2] == 2 for r in a)


def test_apply_changes_merge_semantics(spark):
    """MERGE INTO semantics: last-write-wins per key, delete drops,
    delete-of-absent is a no-op, upsert inserts or replaces, untouched
    keys pass through, unknown ops fail EAGERLY (a typo'd op must never
    silently drop a change), and applying the same batch twice is
    idempotent."""
    from kafka_merge_purge_spark.operators.snapshot import apply_changes

    snap = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    ch = spark.createDataFrame(
        [
            (1, 10, "upsert", "a2"),
            (1, 20, "upsert", "a3"),
            (2, 10, "delete", None),
            (4, 10, "upsert", "d"),
            (5, 10, "delete", None),
            (6, 10, "upsert", "e"),
            (6, 20, "delete", None),
        ],
        "k long, ts long, op string, v string",
    )
    out1 = apply_changes(snap, ch, "k", ["v"])
    got = {r["k"]: r["v"] for r in out1.collect()}
    assert got == {1: "a3", 3: "c", 4: "d"}
    # idempotent replay of the same net batch
    got2 = {r["k"]: r["v"] for r in apply_changes(out1, ch, "k", ["v"]).collect()}
    assert got2 == got

    bad = spark.createDataFrame([(1, 1, "Upsert", "x")], "k long, ts long, op string, v string")
    with pytest.raises(Exception, match="unknown op"):
        apply_changes(snap, bad, "k", ["v"]).collect()

    # duplicate (key, ts): the tiebreak column decides deterministically
    dup = spark.createDataFrame(
        [(1, 5, 1, "upsert", "x"), (1, 5, 2, "upsert", "y")],
        "k long, ts long, seq long, op string, v string",
    )
    got3 = {r["k"]: r["v"] for r in
            apply_changes(snap, dup, "k", ["v"], tiebreak_col="seq").collect()}
    assert got3[1] == "y"


def test_apply_changes_partial_and_mask_semantics(spark):
    """Sparse-column CDC (r11): partial=True keeps snapshot values where
    the winning change is NULL; mask_col applies exactly the named
    columns (explicit NULL-set expressible); both replay idempotently;
    the full form still overwrites with NULLs (the three modes differ
    observably on one fixture)."""
    from kafka_merge_purge_spark.operators.snapshot import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s2"), (3, "c", "s3")],
        "k long, v string, src string",
    )
    ch = spark.createDataFrame(
        [
            (1, 10, "upsert", "a2", None),     # text-only patch
            (2, 10, "upsert", None, "s2x"),    # source-only patch
            (4, 10, "upsert", "d", None),      # sparse insert
        ],
        "k long, ts long, op string, v string, src string",
    )
    part = {r["k"]: (r["v"], r["src"]) for r in
            apply_changes(snap, ch, "k", ["v", "src"], partial=True).collect()}
    assert part == {1: ("a2", "s1"), 2: ("b", "s2x"), 3: ("c", "s3"),
                    4: ("d", None)}
    # full form overwrites with the NULLs
    full = {r["k"]: (r["v"], r["src"]) for r in
            apply_changes(snap, ch, "k", ["v", "src"]).collect()}
    assert full[1] == ("a2", None) and full[2] == (None, "s2x")
    # idempotent replay of the partial batch
    out1 = apply_changes(snap, ch, "k", ["v", "src"], partial=True)
    part2 = {r["k"]: (r["v"], r["src"]) for r in
             apply_changes(out1, ch, "k", ["v", "src"], partial=True).collect()}
    assert part2 == part

    # mask form: explicit NULL-set IS expressible
    chm = spark.createDataFrame(
        [
            (1, 10, "upsert", None, "zz", ["v"]),    # set v to NULL, keep src
            (2, 10, "upsert", "bx", "ignored", ["v"]),
        ],
        "k long, ts long, op string, v string, src string, cols array<string>",
    )
    masked = {r["k"]: (r["v"], r["src"]) for r in
              apply_changes(snap, chm, "k", ["v", "src"],
                            mask_col="cols").collect()}
    assert masked == {1: (None, "s1"), 2: ("bx", "s2"), 3: ("c", "s3")}
    out_m = apply_changes(snap, chm, "k", ["v", "src"], mask_col="cols")
    masked2 = {r["k"]: (r["v"], r["src"]) for r in
               apply_changes(out_m, chm, "k", ["v", "src"],
                             mask_col="cols").collect()}
    assert masked2 == masked


def test_edit_distance_join_matches_brute_force(spark):
    """q-gram count-filtered edit-distance join == the naive cross
    levenshtein join on seeded random corpora (duplicate grams, short
    strings, NULLs); the zero-shared-gram short pair ('abc' vs 'abd'
    at q=3 — the count bound is vacuous there) is caught by the
    length-bucketed short tier, not missed."""
    import random

    from kafka_merge_purge_spark.operators.linkage import edit_distance_join

    def brute(rows_a, rows_b, d):
        def lev(s, t):
            m, n = len(s), len(t)
            dp = list(range(n + 1))
            for i in range(1, m + 1):
                prev, dp[0] = dp[0], i
                for j in range(1, n + 1):
                    cur = dp[j]
                    dp[j] = min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (s[i - 1] != t[j - 1])
                    )
                    prev = cur
            return dp[n]

        return {
            (ia, ib, lev(sa, sb))
            for ia, sa in rows_a
            for ib, sb in rows_b
            if sa is not None and sb is not None and lev(sa, sb) <= d
        }

    rng = random.Random(23)
    alphabet = "abcx"  # tiny alphabet → many duplicate grams
    for trial, d in [(0, 1), (1, 2), (2, 2)]:
        rows_a = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10))))
                  for i in range(25)]
        rows_b = [(100 + i, "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10))))
                  for i in range(25)]
        rows_a.append((98, None))
        da = spark.createDataFrame(rows_a, "id long, s string")
        db = spark.createDataFrame(rows_b, "id long, s string")
        got = {(r["id_a"], r["id_b"], r["dist"])
               for r in edit_distance_join(da, db, "id", "s", max_dist=d).collect()}
        assert got == brute(rows_a, rows_b, d), f"trial {trial}"

    # the regression case: ed=1, zero shared 3-grams
    da = spark.createDataFrame([(1, "abc")], "id long, s string")
    db = spark.createDataFrame([(2, "abd")], "id long, s string")
    out = edit_distance_join(da, db, "id", "s", max_dist=1).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in out] == [(1, 2, 1)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        edit_distance_join(da, db, "id", "s", max_dist=-1)


def test_record_linkage_multipass_rescues_corrupted_blocks(spark):
    """A match whose pass-1 block key is corrupted survives via pass 2;
    pairs found by both passes dedup to one row; empty passes raise."""
    from kafka_merge_purge_spark.operators.linkage import (
        record_linkage,
        record_linkage_multipass,
    )

    a = spark.createDataFrame(
        [(1, "jon smith", "NY", "M"), (2, "ann lee", "CA", "F")],
        "id long, name string, state string, seg string",
    )
    b = spark.createDataFrame(
        [(11, "jon smith", "TX", "M"), (12, "ann lee", "CA", "F")],
        "id long, name string, state string, seg string",
    )
    spec = [("name", "string", 1.0)]
    single = {(r["id_a"], r["id_b"])
              for r in record_linkage(a, b, "id", ["state"], spec, 0.9).collect()}
    assert single == {(2, 12)}  # (1, 11) lost to the corrupted state
    multi = record_linkage_multipass(
        a, b, "id", [["state"], ["seg"]], spec, 0.9
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in multi} == {(1, 11), (2, 12)}
    assert len(multi) == 2  # (2,12) found by BOTH passes dedups to one row
    with pytest.raises(ValueError):
        record_linkage_multipass(a, b, "id", [], spec)


def test_node2vec_walks_bias_and_determinism(spark):
    """node2vec second-order bias (Grover & Leskovec 2016 §3.2) pinned
    behaviorally: a huge return weight (p ≪ 1) makes every walk
    oscillate t↔v from step 2 on; a huge near weight (q ≫ 1 posture)
    keeps walks inside the previous node's neighborhood; paths are real
    edges, deterministic across runs, sink-safe, and both the all-1
    default and a mixed (3, 5, 2) weighting match a driver-side replay
    of the weighted-cumsum spec."""
    from kafka_merge_purge_spark.operators.components import node2vec_walks

    # triangle a-b-c plus a pendant d off b, symmetrized
    und = [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")]
    edges = und + [(v, u) for u, v in und]
    eset = set(edges)
    df = spark.createDataFrame(edges, "src string, dst string")

    # RETURN bias: w_return ≫ others → from the second step on, the
    # walk always returns to where it just came from (oscillation)
    osc = {r["walk_id"]: r["path"]
           for r in node2vec_walks(df, walk_length=5, w_return=10**6).collect()}
    assert len(osc) == 4
    for path in osc.values():
        assert len(path) == 6
        for i in range(2, len(path)):
            assert path[i] == path[i - 2], f"no oscillation in {path}"

    # NEAR bias: w_near ≫ others → each step stays adjacent to the
    # PREVIOUS node (BFS-like locality).  d's only neighbor is b, so a
    # walk at b that came from d can only pick d's neighbor... b itself
    # is excluded (b is not adjacent to b) — check the general property
    # on steps where a near candidate exists.
    near = {r["walk_id"]: r["path"]
            for r in node2vec_walks(df, walk_length=4, w_near=10**6).collect()}
    for path in near.values():
        for u, v in zip(path, path[1:]):
            assert (u, v) in eset
        for t, _v, x in zip(path, path[1:], path[2:]):
            # x must be adjacent to t whenever ANY candidate was (else
            # the weights were all w_return/w_far and anything goes)
            nbrs_of_prev = {b for a, b in eset if a == t}
            cands = {b for a, b in eset if a == _v}
            if (cands & nbrs_of_prev) - {t}:
                assert x in nbrs_of_prev or x == t

    # determinism + distinctness from the uniform walker's coin stream
    again = {r["walk_id"]: r["path"]
             for r in node2vec_walks(df, walk_length=5, w_return=10**6).collect()}
    assert osc == again

    # sink safety: directed-only sink retires early
    d2 = spark.createDataFrame([("a", "b"), ("b", "s")], "src string, dst string")
    out = {r["walk_id"]: r["path"]
           for r in node2vec_walks(d2, walk_length=5).collect()}
    assert out["s#0"] == ["s"]
    assert out["a#0"] == ["a", "b", "s"]

    # the all-1 default and a mixed (3, 5, 2) weighting each equal a
    # driver-side replay of the weighted-cumsum spec
    import hashlib

    adj = {}
    for u, v in sorted(eset):
        adj.setdefault(u, []).append(v)

    def coin(wid, step, cur):
        return int(hashlib.md5(f"n2v:{wid}:{step}:{cur}".encode()).hexdigest()[:15], 16)

    def weight(prev, x, w_return, w_near, w_far):
        if prev is None:
            return 1  # first step is uniform
        if x == prev:
            return w_return
        return w_near if (prev, x) in eset else w_far

    def replay(w_return, w_near, w_far):
        expect = {}
        for node in sorted({u for u, _ in eset} | {v for _, v in eset}):
            wid, prev, cur, path = f"{node}#0", None, node, [node]
            for i in range(4):
                cands = adj.get(cur, [])
                if not cands:
                    break
                ws = [weight(prev, x, w_return, w_near, w_far) for x in cands]
                c = coin(wid, i, cur) % sum(ws)
                acc = 0
                for x, w in zip(cands, ws):
                    acc += w
                    if c < acc:
                        prev, cur = cur, x
                        path.append(x)
                        break
            expect[wid] = path
        return expect

    for w in ((1, 1, 1), (3, 5, 2)):
        got = {r["walk_id"]: r["path"]
               for r in node2vec_walks(
                   df, walk_length=4, w_return=w[0], w_near=w[1], w_far=w[2]
               ).collect()}
        assert got == replay(*w), w

    import pytest as _pytest

    with _pytest.raises(ValueError):
        node2vec_walks(df, w_return=0)
    with _pytest.raises(ValueError):
        node2vec_walks(df, walks_per_node=0)


def test_skipgram_pairs_exact_and_bounds(spark):
    """skipgram_pairs: exact expected (center, context) set on a known
    path, window clipping at both ends, no zero offset, multi-walk
    independence, and the count law Σ ≤ 2·window·len."""
    from kafka_merge_purge_spark.operators.components import skipgram_pairs

    walks = spark.createDataFrame(
        [("w1", ["a", "b", "c", "d"]), ("w2", ["x"]), ("w3", [])],
        "walk_id string, path array<string>",
    )
    rows = skipgram_pairs(walks, window=2).collect()
    got = {(r["walk_id"], r["pos"], r["offset"], r["center"], r["context"])
           for r in rows}
    expect = set()
    path = ["a", "b", "c", "d"]
    for pos in range(4):
        for off in (-2, -1, 1, 2):
            if 0 <= pos + off < 4:
                expect.add(("w1", pos, off, path[pos], path[pos + off]))
    assert got == expect          # w2 (singleton) and w3 (empty) emit nothing
    assert len(rows) == len(expect)

    # window=1 on a pair: exactly two rows, mirrored
    two = skipgram_pairs(
        spark.createDataFrame([("w", ["u", "v"])], "walk_id string, path array<string>"),
        window=1,
    ).collect()
    assert {(r["pos"], r["offset"], r["center"], r["context"]) for r in two} == {
        (0, 1, "u", "v"),
        (1, -1, "v", "u"),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError):
        skipgram_pairs(walks, window=0)


def test_apply_changes_evolve_schema_evolution(spark):
    """apply_changes_evolve (r12): change-only columns NULL-backfill
    untouched snapshot rows and apply on upserts; snapshot-only columns
    survive upserts and are NULL on inserts; replay is idempotent;
    integral widths widen; non-integral retypes fail eagerly."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.snapshot import apply_changes_evolve

    snap = spark.createDataFrame(
        [(1, "one", "s1"), (2, "two", "s2"), (3, "three", "s3")],
        "k long, text string, src string",
    )
    # batch carries NEW column q, LACKS src; touches k=2 (update),
    # k=4 (insert), k=3 (delete)
    changes = spark.createDataFrame(
        [
            (2, 1, "upsert", "TWO", 7),
            (4, 1, "upsert", "four", 9),
            (3, 1, "delete", None, None),
        ],
        "k long, ts long, op string, text string, q long",
    )
    out = apply_changes_evolve(snap, changes, "k")
    rows = {r["k"]: (r["text"], r["src"], r["q"]) for r in out.collect()}
    assert rows == {
        1: ("one", "s1", None),   # untouched: q NULL-backfilled, src kept
        2: ("TWO", "s2", 7),      # upsert: text+q applied, src KEPT
        4: ("four", None, 9),     # insert: src NULL (never carried)
    }
    assert set(out.columns) == {"k", "text", "src", "q"}

    # idempotent replay: applying the same batch onto the result is a no-op
    replay = apply_changes_evolve(out.select("k", "text", "src", "q"), changes, "k")
    assert {tuple(r) for r in replay.collect()} == {tuple(r) for r in out.collect()}

    # explicit NULL in a CARRIED column is a statement (full-apply, not keep)
    nuller = spark.createDataFrame(
        [(2, 2, "upsert", None, None)], "k long, ts long, op string, text string, q long"
    )
    nulled = {r["k"]: (r["text"], r["q"]) for r in
              apply_changes_evolve(out, nuller, "k").collect()}
    assert nulled[2] == (None, None)

    # integral widening: int batch column vs long snapshot column unifies
    snap_i = spark.createDataFrame([(1, 5)], "k long, n long")
    ch_i = spark.createDataFrame(
        [(1, 1, "upsert", 9)], "k long, ts long, op string, n int"
    )
    wide = apply_changes_evolve(snap_i, ch_i, "k")
    assert dict(wide.dtypes)["n"] == "bigint"
    assert wide.collect()[0]["n"] == 9

    # genuinely incompatible retype fails at plan time
    ch_bad = spark.createDataFrame(
        [(1, 1, "upsert", "nine")], "k long, ts long, op string, n string"
    )
    with _pytest.raises(ValueError, match="incompatible types"):
        apply_changes_evolve(snap_i, ch_bad, "k")

    # attr-less (delete-only) batches are rejected with guidance
    ch_del = spark.createDataFrame(
        [(1, 1, "delete")], "k long, ts long, op string"
    )
    with _pytest.raises(ValueError, match="no attr columns"):
        apply_changes_evolve(snap_i, ch_del, "k")

    # r12 advice (medium): a snapshot attribute named like a reserved
    # changes column (ts/op/tiebreak) would be NULL-backfilled INTO the
    # batch, clobbering its ordering column — must fail eagerly
    snap_ts = spark.createDataFrame([(1, 5, 1)], "k long, n long, ts long")
    ch_ok = spark.createDataFrame(
        [(1, 1, "upsert", 9)], "k long, ts long, op string, n long"
    )
    with _pytest.raises(ValueError, match="reserved changes columns"):
        apply_changes_evolve(snap_ts, ch_ok, "k")
    snap_op = spark.createDataFrame([(1, "x")], "k long, op string")
    with _pytest.raises(ValueError, match="reserved changes columns"):
        apply_changes_evolve(snap_op, ch_ok, "k")
    snap_tb = spark.createDataFrame([(1, 7)], "k long, seq long")
    with _pytest.raises(ValueError, match="reserved changes columns"):
        apply_changes_evolve(snap_tb, ch_ok, "k", tiebreak_col="seq")
    snap_mask = spark.createDataFrame(
        [(1, 5, "m")], "k long, n long, _evolve_mask string"
    )
    with _pytest.raises(ValueError, match="_evolve_mask"):
        apply_changes_evolve(snap_mask, ch_ok, "k")


def test_ivf_pq_index_roundtrip_pruning_and_append(spark, tables, tmp_path):
    """Persisted IVF-PQ layout (r12): indexed results equal the direct
    ivf_pq_topk with the same stored quantizers; the probed-cell filter
    reaches BOTH partitioned trees (codes + vectors) as a
    PartitionFilter; appending new rows against the stored sidecars
    equals the direct path over the unioned corpus."""
    from kafka_merge_purge_spark.operators import pq
    from kafka_merge_purge_spark.plans.introspect import formatted_plan

    emb = tables["embeddings"]
    probes = emb.filter(F.col("vec_id") < 8)
    path = str(tmp_path / "ivfpq")
    pq.build_ivf_pq_index(emb, path, m=8, ksub=16, n_cells=8)
    cents, books = pq._read_pq_sidecars(spark, path)
    direct = pq.ivf_pq_topk(
        probes, emb, books, k=3, nprobe=3, centroids=cents
    )
    indexed = pq.ivf_pq_topk_indexed(spark, path, probes, k=3, nprobe=3)
    assert sorted(map(tuple, indexed.collect())) == sorted(
        map(tuple, direct.collect())
    )
    plan = formatted_plan(indexed).replace("\n", " ")
    assert plan.count("PartitionFilters: [cell_id") >= 2 or (
        plan.count("PartitionFilters") >= 2 and "cell_id" in plan
    ), "probed-cell filter must prune both the codes and vectors scans:\n" + plan

    # append: build on half, append the rest — equals direct over union
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    path2 = str(tmp_path / "ivfpq2")
    pq.build_ivf_pq_index(half_a, path2, m=8, ksub=16, n_cells=8)
    pq.append_to_ivf_pq_index(spark, path2, half_b)
    cents2, books2 = pq._read_pq_sidecars(spark, path2)
    direct2 = pq.ivf_pq_topk(
        probes, emb, books2, k=3, nprobe=3, centroids=cents2
    )
    indexed2 = pq.ivf_pq_topk_indexed(spark, path2, probes, k=3, nprobe=3)
    assert sorted(map(tuple, indexed2.collect())) == sorted(
        map(tuple, direct2.collect())
    )

    # r12 advice: explicit centroids + empty/null-only corpus (or an
    # explicitly empty codebooks list) must fail eagerly, not as an
    # opaque IndexError inside the pq_encode kernel
    import pytest as _pytest

    empty = emb.filter(F.lit(False))
    with _pytest.raises(ValueError, match="empty corpus/codebooks"):
        pq.build_ivf_pq_index(
            empty, str(tmp_path / "ivfpq3"), centroids=cents
        )
    with _pytest.raises(ValueError, match="empty corpus/codebooks"):
        pq.build_ivf_pq_index(
            emb, str(tmp_path / "ivfpq4"), centroids=cents, codebooks=[]
        )


def test_skipgram_negatives_tilted_unigram_pow75(spark):
    """skipgram_negatives_tilted (r13): weights are EXACT
    floor(count^0.75) integers (isqrt∘isqrt of the cube — 16→8,
    81→27), draws replay the md5-coin interval spec driver-side,
    frequency tilt is visible (head word drawn most), duplicate words
    sum, non-positive counts drop, the count cap saturates, and
    degenerate inputs behave (empty vocab → empty frame, n_neg < 1
    raises)."""
    import hashlib

    import pytest as _pytest

    import kafka_merge_purge_spark.operators.components as C

    # 60 pairs over a center/context pair disjoint from the vocab so
    # the accidental-hit filter never bites and counts are exact
    pairs = spark.createDataFrame(
        [(f"w{i}", i, 1, "zc", "zd") for i in range(60)],
        "walk_id string, pos int, offset int, center string, context string",
    )
    vocab = spark.createDataFrame(
        [("a", 1), ("b", 16), ("c", 81)], "word string, cnt long"
    )
    out = C.skipgram_negatives_tilted(pairs, vocab, n_neg=2).collect()
    # weights 1 / 8 / 27 -> W = 36; intervals a:[0,1) b:[1,9) c:[9,36)
    def replay(wid, pos, off, j):
        coin = int(
            hashlib.md5(f"neg:{wid}:{pos}:{off}:{j}".encode()).hexdigest()[:15],
            16,
        )
        p = coin % 36
        return "a" if p < 1 else ("b" if p < 9 else "c")

    got = {(r["walk_id"], r["neg_j"]): r["negative"] for r in out}
    assert len(got) == 120  # no accidental hits by construction
    for (wid, j), neg in got.items():
        r = [row for row in pairs.collect() if row["walk_id"] == wid][0]
        assert neg == replay(wid, r["pos"], r["offset"], j)
    from collections import Counter

    freq = Counter(got.values())
    assert freq["c"] > freq["b"] > freq["a"]

    # duplicate words sum their counts; non-positive counts drop
    dup = spark.createDataFrame(
        [("a", 8), ("a", 8), ("junk", 0), ("junk2", -5)],
        "word string, cnt long",
    )
    only_a = C.skipgram_negatives_tilted(pairs, dup, n_neg=1).collect()
    assert {r["negative"] for r in only_a} == {"a"}

    # cap: counts beyond TILT_COUNT_CAP weigh as the cap (identical draws)
    big = spark.createDataFrame(
        [("a", C.TILT_COUNT_CAP), ("b", 3)], "word string, cnt long"
    )
    bigger = spark.createDataFrame(
        [("a", C.TILT_COUNT_CAP * 1000), ("b", 3)], "word string, cnt long"
    )
    assert sorted(
        map(tuple, C.skipgram_negatives_tilted(pairs, big, n_neg=1).collect())
    ) == sorted(
        map(tuple, C.skipgram_negatives_tilted(pairs, bigger, n_neg=1).collect())
    )

    # empty vocab -> empty frame with the full schema; bad n_neg raises
    empty = C.skipgram_negatives_tilted(
        pairs, vocab.filter(F.lit(False)), n_neg=2
    )
    assert empty.count() == 0
    assert empty.columns[-2:] == ["neg_j", "negative"]
    with _pytest.raises(ValueError, match="n_neg"):
        C.skipgram_negatives_tilted(pairs, vocab, n_neg=0)


def test_isqrt_adj_exact_boundaries(spark):
    """_isqrt_adj: exact integer floor-sqrt at the adversarial
    boundaries (perfect squares ±1, the int64-edge cube of the count
    cap) where a naive floor(sqrt(double)) is off by one."""
    import math

    import kafka_merge_purge_spark.operators.components as C

    cap = C.TILT_COUNT_CAP
    vals = sorted(
        {
            0, 1, 2, 3, 4, 8, 9, 10, 15, 16, 17,
            10**12 - 1, 10**12, 10**12 + 1,
            (3037000499**2) - 1, 3037000499**2,  # isqrt(2^63-ish) edge
            cap**3, cap**3 - 1, (cap - 1) ** 3,
        }
    )
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {
        r["x"]: r["r"]
        for r in df.select("x", C._isqrt_adj(F.col("x")).alias("r")).collect()
    }
    for v in vals:
        assert got[v] == math.isqrt(v), f"isqrt({v}): {got[v]} != {math.isqrt(v)}"


def test_scc_both_paths_match_bruteforce(spark):
    """strongly_connected_components (r13): driver Tarjan and the
    distributed coloring loop agree with a brute-force transitive-
    closure reference on seeded random digraphs, handle self-loops /
    isolated pairs / long cycle chains, keep string ids, and the
    max_outer exhaustion error is eager and actionable."""
    import itertools
    import random

    import pytest as _pytest

    import kafka_merge_purge_spark.operators.components as C

    def brute(edge_rows):
        nodes = sorted({x for e in edge_rows for x in e})
        reach = {v: {v} for v in nodes}
        changed = True
        while changed:
            changed = False
            for a, b in edge_rows:
                new = reach[b] - reach[a]
                if new:
                    reach[a] |= new
                    changed = True
        out = {}
        for v in nodes:
            out[v] = min(w for w in reach[v] if v in reach[w])
        return sorted(out.items())

    rng = random.Random(13)
    for trial in range(4):
        n = 14 + trial * 6
        rows = sorted(
            {(rng.randrange(n), rng.randrange(n)) for _ in range(int(n * 1.7))}
        )
        df = spark.createDataFrame(rows, "src long, dst long")
        exp = brute(rows)
        got_t = sorted(
            map(tuple, C.strongly_connected_components(df).collect())
        )
        got_d = sorted(
            map(
                tuple,
                C.strongly_connected_components(
                    df, max_driver_edges=0
                ).collect(),
            )
        )
        assert got_t == exp, f"tarjan trial {trial}"
        assert got_d == exp, f"pregel trial {trial}"

    # one big cycle (diameter ~ n: exercises pointer jumping), plus a
    # DAG tail that must fall to trim
    cyc = [(i, (i + 1) % 12) for i in range(12)] + [(11, 50), (50, 51)]
    df = spark.createDataFrame(cyc, "src long, dst long")
    exp = sorted([(i, 0) for i in range(12)] + [(50, 50), (51, 51)])
    for kw in ({}, {"max_driver_edges": 0}):
        assert (
            sorted(
                map(
                    tuple,
                    C.strongly_connected_components(df, **kw).collect(),
                )
            )
            == exp
        ), kw

    # max_outer exhaustion raises (descending chain of 2-cycles decides
    # one SCC per round under min-id pivots)
    rows = []
    for i in range(5):
        a, b = 100 - 2 * i, 101 - 2 * i
        rows += [(a, b), (b, a)]
        if i:
            rows.append((100 - 2 * (i - 1), a))
    ch = spark.createDataFrame(rows, "src long, dst long")
    with _pytest.raises(ValueError, match="max_outer"):
        C.strongly_connected_components(ch, max_driver_edges=0, max_outer=1)
    with _pytest.raises(ValueError, match="max_outer and max_inner"):
        C.strongly_connected_components(ch, max_outer=0)


def test_sgns_corpus_substrate_reuse(spark, tmp_path, monkeypatch):
    """sgns_training_corpus (r13): equals the manual walks→pairs→
    negatives composition; walks= injection skips walk generation
    entirely (spy: random_walks never called) and reproduces the
    generated result; persist/read round-trips the corpus; counts=
    switches to the tilted sampler; no-input raises."""
    import pytest as _pytest

    import kafka_merge_purge_spark.operators.components as C

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"), ("d", "a")],
        "src string, dst string",
    )
    manual_walks = C.random_walks(edges, walk_length=3, walks_per_node=1)
    vocab = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    manual = sorted(
        map(
            tuple,
            C.skipgram_negatives(
                C.skipgram_pairs(manual_walks, window=2), vocab, n_neg=2
            ).collect(),
        )
    )
    one_call = sorted(
        map(
            tuple,
            C.sgns_training_corpus(
                edges, walk_length=3, window=2, n_neg=2
            ).collect(),
        )
    )
    assert one_call == manual

    # walks= injection: random_walks must NOT run
    cached = manual_walks.localCheckpoint(eager=True)
    calls = []
    real = C.random_walks
    monkeypatch.setattr(
        C, "random_walks", lambda *a, **k: calls.append(1) or real(*a, **k)
    )
    injected = sorted(
        map(
            tuple,
            C.sgns_training_corpus(
                walks=cached, window=2, n_neg=2, vocab=vocab
            ).collect(),
        )
    )
    assert injected == manual
    assert not calls, "walks= injection still generated walks"
    # vocab defaulting from the injected corpus itself (path tokens)
    self_contained = C.sgns_training_corpus(walks=cached, window=2, n_neg=2)
    assert self_contained.count() > 0
    monkeypatch.undo()

    # persist/read round-trip feeds the same chain
    path = str(tmp_path / "walks")
    C.persist_walk_corpus(cached, path)
    reread = C.read_walk_corpus(spark, path)
    rt = sorted(
        map(
            tuple,
            C.sgns_training_corpus(
                walks=reread, window=2, n_neg=2, vocab=vocab
            ).collect(),
        )
    )
    assert rt == manual
    with _pytest.raises(ValueError, match="walk-corpus layout"):
        edges.write.mode("overwrite").parquet(str(tmp_path / "notwalks"))
        C.read_walk_corpus(spark, str(tmp_path / "notwalks"))
    with _pytest.raises(ValueError, match="lacks column"):
        C.persist_walk_corpus(edges, str(tmp_path / "bad"))

    # counts= routes to the tilted sampler
    counts = spark.createDataFrame(
        [("a", 1), ("b", 16), ("c", 81), ("d", 4)], "word string, cnt long"
    )
    tilted = sorted(
        map(
            tuple,
            C.sgns_training_corpus(
                walks=cached, window=2, n_neg=2, counts=counts
            ).collect(),
        )
    )
    assert tilted == sorted(
        map(
            tuple,
            C.skipgram_negatives_tilted(
                C.skipgram_pairs(cached, window=2), counts, n_neg=2
            ).collect(),
        )
    )

    with _pytest.raises(ValueError, match="edges= .*or"):
        C.sgns_training_corpus()

    # walk_kind="node2vec" routes the substrate through the biased walker
    n2v = sorted(
        map(
            tuple,
            C.sgns_training_corpus(
                edges,
                walk_kind="node2vec",
                walk_length=3,
                window=2,
                n_neg=2,
                w_return=1,
                w_near=3,
                w_far=2,
            ).collect(),
        )
    )
    assert n2v == sorted(
        map(
            tuple,
            C.skipgram_negatives(
                C.skipgram_pairs(
                    C.node2vec_walks(
                        edges, walk_length=3, w_return=1, w_near=3, w_far=2
                    ),
                    window=2,
                ),
                vocab,
                n_neg=2,
            ).collect(),
        )
    )
    with _pytest.raises(ValueError, match="walk_kind"):
        C.sgns_training_corpus(edges, walk_kind="biased")


def test_sparse_cosine_topk_inverted_index(spark):
    """sparse_cosine_topk (r13): hand-computed cosines on tiny sparse
    vectors, pairs exist ONLY through shared features, both
    orientations emitted, deterministic tiebreak, max_df drops
    stopword-like features from candidate generation but NOT from
    norms, zero-quantized entries drop, bad params raise."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.similarity import (
        sparse_cosine_topk,
    )

    rows = spark.createDataFrame(
        [
            ("a", "f1", 1.0),
            ("a", "f2", 1.0),
            ("b", "f1", 1.0),
            ("c", "f2", 1.0),
            ("c", "f3", 1.0),
            ("a", "f4", 0.0000001),  # quantizes to 0 at the default 1e6
        ],
        "id string, feature string, value double",
    )
    out = sorted(
        map(tuple, sparse_cosine_topk(rows, k=5, quantize=1).collect())
    )
    assert out == sorted(
        [
            ("a", 1, "b", 0.707107),
            ("a", 2, "c", 0.5),
            ("b", 1, "a", 0.707107),
            ("c", 1, "a", 0.5),
        ]
    )
    # default 1e6 quantization: same cosines (values are exact units)
    out6 = sorted(map(tuple, sparse_cosine_topk(rows, k=5).collect()))
    assert out6 == out

    # max_df=1 kills f1/f2 (df 2) from candidate generation -> only f3
    # survives, which no pair shares -> empty
    assert sparse_cosine_topk(rows, k=5, max_df=1).count() == 0
    # max_df does NOT renormalize: with f1 dropped (df cap 1 on a copy
    # where only f1 exceeds), a-c via f2 keeps a's FULL norm sqrt(2)
    rows2 = spark.createDataFrame(
        [
            ("a", "f1", 1.0),
            ("a", "f2", 1.0),
            ("b", "f1", 1.0),
            ("x", "f1", 1.0),
            ("c", "f2", 1.0),
        ],
        "id string, feature string, value double",
    )
    got = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in sparse_cosine_topk(rows2, k=5, max_df=2).collect()
    }
    assert got == {("a", "c"): 0.707107, ("c", "a"): 0.707107}

    with _pytest.raises(ValueError, match="k must"):
        sparse_cosine_topk(rows, k=0)
    with _pytest.raises(ValueError, match="quantize"):
        sparse_cosine_topk(rows, quantize=0)
    with _pytest.raises(ValueError, match="max_df"):
        sparse_cosine_topk(rows, max_df=0)


def test_sparse_cosine_topk_envelope_is_exact_not_conservative(spark):
    """r15 (r14 ADVICE): the int64 probe checks the EXACT max Σqv², so
    an input whose true norms fit int64 runs even where the old
    max(qv)²·nnz bound would have rejected; a genuinely overflowing
    norm still raises upfront; check_overflow=False skips the probe."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.similarity import sparse_cosine_topk

    # max(qv)²·nnz = (3e9)²·2 = 1.8e19 > 2^63-1 (old bound rejects),
    # but Σqv² = 9e18 + 1 < 2^63-1 ≈ 9.223e18 (exact bound passes)
    ok = spark.createDataFrame(
        [("a", 1, 3.0e9), ("a", 2, 1.0), ("b", 1, 3.0e9), ("b", 2, 1.0)],
        "id string, feature int, value double",
    )
    got = sparse_cosine_topk(ok, k=1, quantize=1).count()
    assert got == 2  # both orientations of the (a, b) pair

    bad = spark.createDataFrame(
        [("a", 1, 3.1e9)], "id string, feature int, value double"
    )  # qv² = 9.61e18 > 2^63-1
    with _pytest.raises(ValueError, match="overflow envelope"):
        sparse_cosine_topk(bad, k=1, quantize=1)
    # caller-asserted bounds skip the blocking probe (plan still builds)
    assert sparse_cosine_topk(bad, k=1, quantize=1, check_overflow=False).columns == [
        "query_id",
        "rank",
        "neighbor_id",
        "cos",
    ]


def test_ppmi_from_pairs_exact_counts_and_shift(spark):
    """ppmi_from_pairs (r13): hand-computed margins on a 6-pair corpus,
    integer-exact positivity (a marginal pair with PMI < 0 drops; the
    k=2 shift drops the weak-association row a float-thresholded
    variant would keep), nulls drop, shift < 1 rejected."""
    import math

    import pytest as _pytest

    from kafka_merge_purge_spark.operators.components import ppmi_from_pairs

    rows = [("a", "b")] * 4 + [("a", "c"), ("b", "c"), (None, "b"), ("a", None)]
    pairs = spark.createDataFrame(rows, "center string, context string")
    out = {
        (r["center"], r["context"]): r
        for r in ppmi_from_pairs(pairs).collect()
    }
    # N=6; n_center a=5,b=1; n_context b=4,c=2
    # (a,b): 4*6=24 > 5*4=20 -> keep, ln(24/20); (a,c): 6 > 10 false;
    # (b,c): 6 > 2 -> keep, ln(3)
    assert set(out) == {("a", "b"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab["n_pair"], ab["n_center"], ab["n_context"]) == (4, 5, 4)
    assert ab["ppmi"] == round(math.log(24 / 20), 6)
    assert out[("b", "c")]["ppmi"] == round(math.log(3.0), 6)

    shifted = {
        (r["center"], r["context"]): r["ppmi"]
        for r in ppmi_from_pairs(pairs, shift=2).collect()
    }
    assert set(shifted) == {("b", "c")}  # 24 > 2*20 false; 6 > 2*2 true
    assert shifted[("b", "c")] == round(math.log(3.0) - math.log(2.0), 6)

    with _pytest.raises(ValueError, match="shift"):
        ppmi_from_pairs(pairs, shift=0)


def test_prefix_bucket_rank_splits_skewed_prefixes(spark, monkeypatch):
    """r12 verdict hardening: the two-level prefix-sum rank must not
    degrade to one giant window partition when the vocabulary
    concentrates under few prefixes (URLs all starting "ht").  With a
    tiny cap, a planted skewed vocab splits onto longer prefixes —
    every splittable bucket lands under the cap — while rank
    assignments (and therefore skipgram_negatives draws) are IDENTICAL
    to the unsplit plan; identical strings cannot split and go
    best-effort."""
    import kafka_merge_purge_spark.operators.components as C

    urls = [(f"http://site{i:03d}.example/x",) for i in range(40)] + [
        ("ftp://one.example",),
        ("gopher://two.example",),
    ]
    vocab = spark.createDataFrame(urls, "word string")
    assign, offsets, total = C._prefix_bucket_plan(
        vocab, F.col("word"), cap=8
    )
    assert total == 42
    keys = [b for b, _ in offsets]
    assert any(len(k) > 2 for k in keys), "skewed prefix never split"
    # every bucket's row count (offset deltas) respects the cap
    bounds = [off for _, off in offsets] + [total]
    assert max(b - a for a, b in zip(bounds, bounds[1:])) <= 8
    # ranks = global string order, split or not
    ranked = (
        vocab.withColumn("_b", assign)
        .join(
            F.broadcast(
                spark.createDataFrame(offsets, "_b string, _off long")
            ),
            "_b",
        )
        .withColumn(
            "_lr",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("_b")
                .orderBy("word")
            ),
        )
        .select("word", (F.col("_off") + F.col("_lr") - 1).alias("rank"))
        .collect()
    )
    by_rank = [r["word"] for r in sorted(ranked, key=lambda r: r["rank"])]
    assert by_rank == sorted(w for (w,) in urls)
    assert sorted(r["rank"] for r in ranked) == list(range(42))

    # identical strings: unsplittable bucket goes best-effort, no loop
    same = spark.createDataFrame([("aa",)] * 20, "word string")
    _, off_same, tot_same = C._prefix_bucket_plan(
        same.distinct(), F.col("word"), cap=1
    )
    assert tot_same == 1 and off_same == [("aa", 0)]

    # end-to-end: skipgram_negatives draws identical under forced splits
    pairs = spark.createDataFrame(
        [("w1", 0, 1, "http://site001.example/x", "http://site002.example/x")],
        "walk_id string, pos int, offset int, center string, context string",
    )
    base = sorted(
        map(tuple, C.skipgram_negatives(pairs, vocab, n_neg=4).collect())
    )
    monkeypatch.setattr(C, "PREFIX_BUCKET_CAP", 4)
    split = sorted(
        map(tuple, C.skipgram_negatives(pairs, vocab, n_neg=4).collect())
    )
    assert base == split


def test_skipgram_negatives_deterministic_replay(spark):
    """skipgram_negatives: equals a driver-side replay of the coin/index
    spec (uniform draws over the row_number-ordered vocab, accidental
    center/context hits filtered), deterministic across runs, ≤ n_neg
    rows per pair, empty-vocab and bad-n rejected."""
    import hashlib

    import pytest as _pytest

    from kafka_merge_purge_spark.operators.components import skipgram_negatives

    pairs = spark.createDataFrame(
        [
            ("w1", 0, 1, "a", "b"),
            ("w1", 1, -1, "b", "a"),
            ("w2", 0, 1, "c", "d"),
        ],
        "walk_id string, pos int, offset int, center string, context string",
    )
    vocab = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("e",)], "word string"
    )
    out = skipgram_negatives(pairs, vocab, n_neg=3).collect()
    words = sorted(["a", "b", "c", "d", "e"])

    def coin(wid, pos, off, j):
        h = hashlib.md5(f"neg:{wid}:{pos}:{off}:{j}".encode()).hexdigest()
        return int(h[:15], 16)

    expect = set()
    for wid, pos, off, ctr, ctx in [
        ("w1", 0, 1, "a", "b"),
        ("w1", 1, -1, "b", "a"),
        ("w2", 0, 1, "c", "d"),
    ]:
        for j in range(3):
            w = words[coin(wid, pos, off, j) % len(words)]
            if w not in (ctr, ctx):
                expect.add((wid, pos, off, ctr, ctx, j, w))
    got = {
        (r["walk_id"], r["pos"], r["offset"], r["center"], r["context"],
         r["neg_j"], r["negative"])
        for r in out
    }
    assert got == expect and len(out) == len(expect)
    from collections import Counter

    per_pair = Counter((r["walk_id"], r["pos"], r["offset"]) for r in out)
    assert all(c <= 3 for c in per_pair.values())

    again = skipgram_negatives(pairs, vocab, n_neg=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))

    with _pytest.raises(ValueError, match="n_neg"):
        skipgram_negatives(pairs, vocab, n_neg=0)
    # empty vocab → empty result with the full schema (the empty-input
    # sweep contract: no query may crash on empty tables)
    empty = skipgram_negatives(
        pairs, spark.createDataFrame([], "word string"), n_neg=1
    )
    assert empty.count() == 0
    assert empty.columns == [
        "walk_id", "pos", "offset", "center", "context", "neg_j", "negative"
    ]


# --------------------------------------------------------------------------
# Bloom-filter semi-join (r13)
# --------------------------------------------------------------------------

def test_bloom_semi_join_exact_vs_plain_semi(spark):
    """The Bloom stage must be invisible to semantics: result ==
    plain left-semi join, including duplicate probe rows, NULL probe
    keys dropped, and build-side duplicates collapsing."""
    from kafka_merge_purge_spark.operators.bloomjoin import bloom_semi_join

    big = spark.createDataFrame(
        [(i % 50, f"p{i}") for i in range(400)] + [(None, "pnull")],
        "k int, payload string",
    )
    small = spark.createDataFrame(
        [(i,) for i in range(0, 50, 7) for _ in range(2)], "k int"
    )
    got = sorted(
        map(tuple, bloom_semi_join(big, small, "k", n_words=64).collect())
    )
    want = sorted(map(tuple, big.join(small.distinct(), "k", "left_semi").collect()))
    assert got == want and len(got) > 0
    # schema passes through untouched
    assert bloom_semi_join(big, small, "k").columns == big.columns


def test_bloom_semi_join_probe_column_name_collisions(spark):
    """r13 advice: a probe column named 'word', '_bloom_word_idx' or
    '_bloom_mask' must survive untouched — the old internal names
    silently overwrote-then-dropped them (data loss) or made the
    sketch filter ambiguous (analysis error)."""
    from kafka_merge_purge_spark.operators.bloomjoin import bloom_semi_join

    big = spark.createDataFrame(
        [(i % 10, f"w{i}", i, i * 2) for i in range(100)],
        "k int, word string, _bloom_word_idx int, _bloom_mask int",
    )
    small = spark.createDataFrame([(i,) for i in range(0, 10, 3)], "k int")
    got = sorted(map(tuple, bloom_semi_join(big, small, "k", n_words=16).collect()))
    want = sorted(map(tuple, big.join(small, "k", "left_semi").collect()))
    assert got == want and len(got) > 0
    assert bloom_semi_join(big, small, "k", n_words=16).columns == big.columns


def test_bloom_semi_join_small_key_and_empty_build(spark):
    from kafka_merge_purge_spark.operators.bloomjoin import bloom_semi_join

    big = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    small = spark.createDataFrame([(2, "x")], "kk int, w string")
    got = bloom_semi_join(big, small, "k", small_key="kk").collect()
    assert [tuple(r) for r in got] == [(2, "b")]
    # empty build side → empty result, schema intact (empty-input sweep)
    empty = bloom_semi_join(
        big, spark.createDataFrame([], "kk int, w string"), "k", small_key="kk"
    )
    assert empty.count() == 0 and empty.columns == big.columns


def test_bloom_sketch_prunes_most_non_matches(spark):
    """FPR audit on a planted disjoint probe set: with the default
    sizing (4 keys/word, 3 bits) the candidate stage must pass < 5 %
    of definite non-matches (expected ~0.7 %)."""
    from kafka_merge_purge_spark.operators.bloomjoin import (
        _bloom_cols,
        bloom_sketch,
    )
    from pyspark.sql import functions as F

    n_keys, n_words = 4000, 1024  # ~4 keys/word
    build = spark.createDataFrame([(i,) for i in range(n_keys)], "k int")
    sketch = bloom_sketch(build, "k", n_words)
    probe = spark.createDataFrame(
        [(i,) for i in range(10**6, 10**6 + 4000)], "k int"
    )
    word_idx, mask = _bloom_cols(F.col("k"), n_words, 3)
    passed = (
        probe.withColumn("_w", word_idx)
        .withColumn("_m", mask)
        .join(sketch.withColumnRenamed("word_idx", "_w"), "_w")
        .filter(F.col("word").bitwiseAND(F.col("_m")) == F.col("_m"))
        .count()
    )
    assert passed < 200, f"Bloom FPR too high: {passed}/4000"


# --------------------------------------------------------------------------
# Modularity (r13)
# --------------------------------------------------------------------------

def test_modularity_hand_computed_and_trivial_partition(spark):
    """Two 3-cliques joined by one bridge, true-community labels:
    every term checked against hand arithmetic; the all-in-one
    partition must score exactly Q = 0 (q_num sums to 0)."""
    from kafka_merge_purge_spark.operators.components import modularity

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )  # symmetrized, m_dir = 14
    labels = spark.createDataFrame(
        [(n, "A") for n in (1, 2, 3)] + [(n, "B") for n in (4, 5, 6)],
        "node int, label string",
    )
    rows = {r["label"]: r for r in modularity(edges, labels).collect()}
    # community A: intra = 6 directed, dout = din = 7 (bridge 3→4 leaves)
    assert rows["A"]["intra_edges"] == 6 and rows["A"]["dout"] == 7
    assert rows["A"]["din"] == 7 and rows["A"]["n_nodes"] == 3
    # q_num = m*intra - dout*din = 14*6 - 49 = 35, per community
    assert int(rows["A"]["q_num"]) == 35 and int(rows["B"]["q_num"]) == 35
    assert rows["A"]["m_edges"] == 14
    # Q = 70/196 ≈ 0.357 — the textbook two-clique score
    # trivial partition → Q exactly 0
    one = spark.createDataFrame([(n, "all") for n in range(1, 7)],
                                "node int, label string")
    (r,) = modularity(edges, one).collect()
    assert int(r["q_num"]) == 0 and r["intra_edges"] == 14
    # label-less nodes: edges touching them drop from every term AND m
    part = labels.filter(F.col("node") != 4)
    prows = {r["label"]: r for r in modularity(edges, part).collect()}
    assert prows["A"]["m_edges"] == 8  # 4's 6 incident directed edges gone
    assert prows["B"]["n_nodes"] == 2 and prows["B"]["intra_edges"] == 2


# --------------------------------------------------------------------------
# Condensation + DAG longest levels (r13)
# --------------------------------------------------------------------------

def test_condensation_and_dag_levels(spark):
    """Two 3-rings chained through a 2-path: condensation must emit
    exactly the inter-SCC links; levels must be longest-path (the
    diamond's lower arm does NOT shorten the level)."""
    from kafka_merge_purge_spark.operators.components import (
        condensation,
        dag_longest_levels,
        strongly_connected_components,
    )

    ring1 = [(1, 2), (2, 3), (3, 1)]
    ring2 = [(7, 8), (8, 9), (9, 7)]
    bridge = [(3, 5), (5, 7), (1, 7)]  # long arm via 5, short arm direct
    edges = spark.createDataFrame(ring1 + ring2 + bridge, "src int, dst int")
    scc = strongly_connected_components(edges)
    c = sorted(map(tuple, condensation(edges, scc=scc).collect()))
    assert c == [(1, 5), (1, 7), (5, 7)]
    lv = dict(
        (r["node"], r["level"])
        for r in dag_longest_levels(
            condensation(edges), src="src_scc", dst="dst_scc"
        ).collect()
    )
    assert lv == {1: 0, 5: 1, 7: 2}  # longest path wins over the 1→7 arm

    # cycle misuse surfaces as an error, never as wrong levels
    import pytest as _pytest

    cyc = spark.createDataFrame([(1, 2), (2, 1)], "src int, dst int")
    with _pytest.raises(ValueError, match="max_rounds"):
        dag_longest_levels(cyc, max_rounds=5)

    # deep chain within cap converges; equality across exchange regimes
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "src int, dst int"
    )
    got = sorted(map(tuple, dag_longest_levels(chain).collect()))
    assert got == [(i, i) for i in range(21)]
    forced = sorted(
        map(tuple, dag_longest_levels(chain, n_nodes=10**9).collect())
    )
    assert forced == got


# --------------------------------------------------------------------------
# TextRank keywords (r13)
# --------------------------------------------------------------------------

def test_textrank_hub_word_wins(spark):
    """A planted hub word co-occurring with every other word must take
    rank 1; stopwords and single-char tokens never appear; output is
    deterministic and k/window are validated."""
    from kafka_merge_purge_spark.operators.text import textrank_keywords
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "engine alpha the engine beta"),
            (2, "engine gamma a engine delta"),
            (3, "engine epsilon engine zeta x"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = textrank_keywords(docs, k=10).collect()
    assert out[0]["word"] == "engine"
    words = {r["word"] for r in out}
    assert "the" not in words and "a" not in words and "x" not in words
    assert all(out[i]["rank"] >= out[i + 1]["rank"] for i in range(len(out) - 1))
    again = textrank_keywords(docs, k=10).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
    with _pytest.raises(ValueError, match="k must be"):
        textrank_keywords(docs, k=0)
    with _pytest.raises(ValueError, match="window"):
        textrank_keywords(docs, window=0)
    with _pytest.raises(ValueError, match="min_cooccur"):
        textrank_keywords(docs, min_cooccur=0)


def test_textrank_min_cooccur_prunes_hapax_pairs(spark):
    """r14 (r13 verdict wrong item 1): pairs co-occurring fewer than
    min_cooccur times must not become edges — 'noise' pairs with the
    hub only once each vanish at the default min_cooccur=2, and
    min_cooccur=1 restores the old unpruned graph."""
    from kafka_merge_purge_spark.operators.text import textrank_keywords

    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha beta alpha beta"),
            (2, "alpha noise1"),
            (3, "beta noise2"),
        ],
        "doc_id long, text string",
    )
    pruned = {r["word"] for r in textrank_keywords(docs, k=10).collect()}
    assert pruned == {"alpha", "beta"}
    unpruned = {
        r["word"]
        for r in textrank_keywords(docs, k=10, min_cooccur=1).collect()
    }
    assert unpruned == {"alpha", "beta", "noise1", "noise2"}


def test_pagerank_grouped_matches_per_group_pagerank(spark):
    """pagerank_grouped must replay pagerank's exact int64 microranks
    independently per group: two disjoint graphs run grouped in one
    call give bit-identical ranks to two separate pagerank() calls."""
    from kafka_merge_purge_spark.operators.components import (
        pagerank,
        pagerank_grouped,
    )

    g1 = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    g2 = [("x", "y"), ("y", "x"), ("y", "z")]
    both = spark.createDataFrame(
        [("g1", s, d) for s, d in g1] + [("g2", s, d) for s, d in g2],
        "g string, src string, dst string",
    )
    got = {
        (r["g"], r["node"]): r["rank"]
        for r in pagerank_grouped(both, group_col="g").collect()
    }
    for gname, edges in (("g1", g1), ("g2", g2)):
        solo = pagerank(spark.createDataFrame(edges, "src string, dst string"))
        for r in solo.collect():
            assert got[(gname, r["node"])] == r["rank"], (gname, r["node"])
    assert len(got) == 6


def test_pagerank_grouped_kernel_matches_join_regime(spark):
    """r15: the Arrow-kernel regime (one groupBy exchange + in-task
    int64 power loop) must emit bit-identical microranks to the join
    regime on the same input — dangling nodes, multi-edges (row-
    weighted contributions) and integer group keys included — and the
    'auto' probe must pick the kernel for bounded groups."""
    import kafka_merge_purge_spark.operators.components as C

    edges = spark.createDataFrame(
        # g=1: cycle + a dangling sink d; duplicated edge (a,b) must
        # count twice.  g=2: star into a hub.
        [
            (1, "a", "b"),
            (1, "a", "b"),
            (1, "b", "c"),
            (1, "c", "a"),
            (1, "c", "d"),
            (2, "x", "h"),
            (2, "y", "h"),
            (2, "z", "h"),
        ],
        "g long, src string, dst string",
    )
    kern = sorted(
        map(tuple, C.pagerank_grouped(edges, impl="pandas").collect())
    )
    join = sorted(
        map(tuple, C.pagerank_grouped(edges, impl="joins").collect())
    )
    auto = sorted(map(tuple, C.pagerank_grouped(edges).collect()))
    assert kern == join == auto
    assert len(kern) == 8  # 4 nodes in g=1, 4 in g=2
    with pytest.raises(ValueError, match="impl"):
        C.pagerank_grouped(edges, impl="nope")


def test_textrank_per_doc_tags_each_doc(spark):
    """Each document's planted hub word must be its own pos-1 keyword;
    docs with too few tokens for any pair simply emit no rows; output
    is deterministic."""
    from kafka_merge_purge_spark.operators.text import textrank_keywords_per_doc
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            # hub appears between every pair of satellites: degree 4
            # vs ≤3 for everything else, so rank-1 is structural, not
            # an alphabetical tie-break (hub < sats in doc 1, hub >
            # sats in doc 2 — both must win)
            (1, "apple mm apple nn apple oo apple pp"),
            (2, "zebra aa zebra bb zebra cc zebra dd"),
            (3, "lonely"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = textrank_keywords_per_doc(docs, k=3).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert {r["pos"] for r in by_doc[1]} == {1, 2, 3}
    assert [r for r in by_doc[1] if r["pos"] == 1][0]["word"] == "apple"
    assert [r for r in by_doc[2] if r["pos"] == 1][0]["word"] == "zebra"
    assert 3 not in by_doc and 4 not in by_doc
    again = textrank_keywords_per_doc(docs, k=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    with _pytest.raises(ValueError, match="k must be"):
        textrank_keywords_per_doc(docs, k=0)


def test_fuzzy_dedup_best_picks_quality_not_min_id(spark):
    """A cluster whose LOWEST id is a truncated copy: fuzzy_dedup keeps
    min-id, fuzzy_dedup_best must keep the long high-quality twin;
    exactly one canonical per cluster; cluster keys unchanged."""
    from kafka_merge_purge_spark.operators.dedup import (
        fuzzy_dedup,
        fuzzy_dedup_best,
    )

    body = ("quick brown fox jumps over lazy dog near river bank "
            "and then sprints through quiet forest trails ") * 3
    docs = spark.createDataFrame(
        [
            (1, body[:60]),          # truncated copy, lowest id
            (2, body),               # clean full copy
            (3, body + "extra tail"),
            (50, "completely unrelated text about spark plans and shuffles "
                 "written once with enough words to pass the keep filter "
                 "ten eleven twelve thirteen fourteen"),
        ],
        "doc_id long, text string",
    )
    best = {r["doc_id"]: r for r in fuzzy_dedup_best(docs, k=3).collect()}
    base = {r["doc_id"]: r for r in fuzzy_dedup(docs, k=3).collect()}
    # 1 and 2,3 may or may not cluster via the 60-char truncation — pin
    # the invariant that matters on the REAL cluster {2,3}
    cl = best[2]["cluster_id"]
    assert best[3]["cluster_id"] == cl == base[2]["cluster_id"]
    members = [r for r in best.values() if r["cluster_id"] == cl]
    assert sum(r["is_canonical"] for r in members) == 1
    # the canonical is the longest member of the cluster, not min id
    canon = next(r["doc_id"] for r in members if r["is_canonical"])
    assert canon == 3  # body + tail has the most tokens
    if base[1]["cluster_id"] == cl:
        assert base[1]["is_canonical"] == 1  # min-id picked the truncation
    # singleton stays its own canonical cluster
    assert best[50]["cluster_id"] == 50 and best[50]["is_canonical"] == 1


def test_rrf_fuse_hand_computed(spark):
    """Three-list fusion checked by hand; missing items contribute
    nothing; validation errors on empty/bad params."""
    from kafka_merge_purge_spark.operators.similarity import rrf_fuse
    import pytest as _pytest

    l1 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "item string, rank int")
    l2 = spark.createDataFrame([("b", 1), ("a", 2)], "item string, rank int")
    l3 = spark.createDataFrame([("c", 1)], "item string, rank int")
    out = {r["item"]: r for r in rrf_fuse([l1, l2, l3], k=3).collect()}
    e = lambda r: 1000000000 // (60 + r)
    assert out["a"]["rrf_score"] == e(1) + e(2) and out["a"]["n_lists"] == 2
    assert out["b"]["rrf_score"] == e(2) + e(1)
    assert out["c"]["rrf_score"] == e(3) + e(1)
    # a and b tie exactly (symmetric ranks) — item tiebreak is stable
    rows = rrf_fuse([l1, l2, l3], k=2).collect()
    assert [r["item"] for r in rows] == ["a", "b"]
    with _pytest.raises(ValueError, match="at least one"):
        rrf_fuse([], k=1)
    with _pytest.raises(ValueError, match="bad k"):
        rrf_fuse([l1], k=0)


def test_scalable_dense_rank_equals_window_twin(spark):
    """Public dense rank == naive row_number twin on a skewed (shared
    prefix) vocabulary; NULLs dropped; duplicates collapse."""
    from pyspark.sql import Window
    from kafka_merge_purge_spark.operators.components import scalable_dense_rank

    vals = (
        [(f"https://www.example{i}.com/page",) for i in range(50)]
        + [("zzz",), ("zzz",), (None,)]
    )
    df = spark.createDataFrame(vals, "u string")
    got = sorted(map(tuple, scalable_dense_rank(df, "u").collect()))
    w = Window.orderBy("u")
    want = sorted(
        map(
            tuple,
            df.filter(F.col("u").isNotNull())
            .distinct()
            .select("u", (F.row_number().over(w) - 1).alias("idx"))
            .collect(),
        )
    )
    assert got == want and len(got) == 51


def test_multi_source_hops_and_harmonic(spark):
    """Path graph 1-2-3-4-5 with landmarks {1,5}: hop distances per
    landmark checked by hand; harmonic scores = Σ 1e6//dist excluding
    self; sparse state (no unreached rows); source validation."""
    from kafka_merge_purge_spark.operators.components import (
        harmonic_centrality_sample,
        multi_source_hops,
    )
    import pytest as _pytest

    und = [(i, i + 1) for i in range(1, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src int, dst int"
    )
    hops = {
        (r["node"], r["lsrc"]): r["dist"]
        for r in multi_source_hops(edges, [1, 5], rounds=4).collect()
    }
    assert hops[(3, 1)] == 2 and hops[(3, 5)] == 2
    assert hops[(5, 1)] == 4 and hops[(1, 1)] == 0
    assert len(hops) == 10  # 5 nodes x 2 landmarks, all reached
    h = {r["node"]: r for r in harmonic_centrality_sample(
        edges, [1, 5], rounds=4).collect()}
    assert h[3]["h_score"] == 2 * (1000000 // 2) and h[3]["n_reached"] == 2
    # endpoints: self excluded, only the far landmark contributes
    assert h[1]["h_score"] == 1000000 // 4 and h[1]["n_reached"] == 1
    # rounds cap: distances beyond the cap are absent, not wrong
    short = {
        (r["node"], r["lsrc"]): r["dist"]
        for r in multi_source_hops(edges, [1], rounds=2).collect()
    }
    assert (4, 1) not in short and short[(3, 1)] == 2
    with _pytest.raises(ValueError, match="at least one source"):
        multi_source_hops(edges, [])


# --------------------------------------------------------------------------
# r13 review fixes
# --------------------------------------------------------------------------

def test_bloom_semi_join_dtype_mismatch_raises(spark):
    """bigint probe vs decimal build would hash '1' vs '1.00' and
    silently prune every true match — must raise at plan time."""
    from kafka_merge_purge_spark.operators.bloomjoin import bloom_semi_join
    import pytest as _pytest

    big = spark.createDataFrame([(1, "a")], "k bigint, v string")
    small = spark.sql("SELECT CAST(1.00 AS DECIMAL(10,2)) AS k")
    with _pytest.raises(ValueError, match="dtype mismatch"):
        bloom_semi_join(big, small, "k")


def test_scc_inner_exhaustion_raises_not_mislabels(spark):
    """A directed 10-cycle with max_inner=2: the forward coloring
    cannot converge, and deciding on stale colors would shatter the
    SCC into singletons — it must raise naming max_inner instead."""
    from kafka_merge_purge_spark.operators.components import (
        strongly_connected_components,
    )
    import pytest as _pytest

    cyc = spark.createDataFrame(
        [(i, (i + 1) % 10) for i in range(10)], "src int, dst int"
    )
    with _pytest.raises(ValueError, match="max_inner"):
        strongly_connected_components(cyc, max_driver_edges=0, max_inner=2)
    # with enough rounds the same graph is one SCC labeled 0
    ok = strongly_connected_components(cyc, max_driver_edges=0)
    assert {r["scc"] for r in ok.collect()} == {0}


def test_scc_backward_exhaustion_raises_not_shatters(spark):
    """r13 advice (HIGH): chain 0->19 with shortcuts i->0 is ONE SCC
    whose forward coloring converges fast (every F(v)=0 via the
    shortcut + pointer jump) but whose backward decide flood needs 19
    one-hop rounds.  With max_inner=6 the old code stranded un-flooded
    nodes as "undecided", peeled the decided pivot out of live, and
    returned 14 wrong singleton labels — it must raise instead."""
    from kafka_merge_purge_spark.operators.components import (
        strongly_connected_components,
    )
    import pytest as _pytest

    edges = [(i, i + 1) for i in range(19)] + [(i, 0) for i in range(1, 20)]
    ch = spark.createDataFrame(edges, "src int, dst int")
    with _pytest.raises(ValueError, match="backward decide flood"):
        strongly_connected_components(ch, max_driver_edges=0, max_inner=6)
    ok = strongly_connected_components(ch, max_driver_edges=0)
    assert {r["scc"] for r in ok.collect()} == {0}
    assert ok.count() == 20


def test_scalable_dense_rank_non_string_column(spark):
    """991 and 9909 share the '99' prefix bucket: ranks must follow
    STRING order (9909 < 991) as documented, for any input dtype."""
    from kafka_merge_purge_spark.operators.components import scalable_dense_rank

    df = spark.createDataFrame(
        [(2,), (99,), (100,), (991,), (9909,)], "x bigint"
    )
    got = dict(
        (r["x"], r["idx"]) for r in scalable_dense_rank(df, "x").collect()
    )
    want = {v: i for i, v in enumerate(sorted([2, 99, 100, 991, 9909], key=str))}
    assert got == want


def test_multi_source_hops_missing_landmark_raises(spark):
    from kafka_merge_purge_spark.operators.components import multi_source_hops
    import pytest as _pytest

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    with _pytest.raises(ValueError, match="not present"):
        multi_source_hops(edges, [1, 42])


def test_ppmi_factorize_recovers_planted_blocks(spark):
    """Two disjoint word/context blocks with strong within-block PPMI:
    rank-4 randomized factorization must (a) reconstruct the matrix
    to <5% relative Frobenius error and (b) place >=90% of every
    word's top-5 cosine neighbors inside its own block — the dense
    twin of the sparse-cosine ground truth (x_ppmi_topk's exact path)."""
    import numpy as np

    from kafka_merge_purge_spark.operators.factorize import ppmi_factorize
    from kafka_merge_purge_spark.operators.similarity import brute_force_topk

    rows = []
    for blk in range(2):
        for i in range(12):
            for j in range(12):
                # separable within-block values: each block is rank 1,
                # total matrix rank 2 — k=4 must reconstruct it
                v = (1.5 + blk) * (1 + 0.1 * (i % 3)) * (1 + 0.1 * (j % 4))
                rows.append((f"w{blk}_{i}", f"c{blk}_{j}", v))
    ppmi = spark.createDataFrame(rows, "center string, context string, ppmi double")
    # ONE side="both" call: separate center/context calls re-factorize
    # and per-direction eigenvector sign flips would corrupt the cross
    # products below (the reason side="both" exists)
    both = ppmi_factorize(
        ppmi, k=4, oversample=4, power_iters=2, side="both"
    ).collect()
    out = {
        r["node"]: np.array(r["embedding"])
        for r in both
        if r["side"] == "center"
    }
    ctx = {
        r["node"]: np.array(r["embedding"])
        for r in both
        if r["side"] == "context"
    }
    assert len(out) == 24 and all(len(v) == 4 for v in out.values())
    emb = spark.createDataFrame(
        [(n, [float(x) for x in v]) for n, v in out.items()],
        "node string, embedding array<float>",
    )
    M = np.zeros((24, 24))
    Mh = np.zeros((24, 24))
    widx = {f"w{b}_{i}": b * 12 + i for b in range(2) for i in range(12)}
    cidx = {f"c{b}_{j}": b * 12 + j for b in range(2) for j in range(12)}
    for w, c, v in rows:
        M[widx[w], cidx[c]] = v
    for w, wi in widx.items():
        for c, ci in cidx.items():
            Mh[wi, ci] = float(out[w] @ ctx[c])
    rel = np.linalg.norm(M - Mh) / np.linalg.norm(M)
    assert rel < 0.05, rel

    # (b) neighbor purity: top-5 cosine neighbors stay in-block
    nn = brute_force_topk(emb, emb, k=5, id_col="node").collect()
    same = sum(1 for r in nn if r["query_id"][1] == r["neighbor_id"][1])
    assert same / len(nn) >= 0.9, same / len(nn)


def test_ppmi_factorize_validation_and_empty(spark):
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.factorize import ppmi_factorize

    empty = spark.createDataFrame([], "center string, context string, ppmi double")
    got = ppmi_factorize(empty, k=2)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["node", "embedding"]
    some = spark.createDataFrame(
        [("a", "b", 1.0)], "center string, context string, ppmi double"
    )
    with _pytest.raises(ValueError, match="k must be"):
        ppmi_factorize(some, k=0)
    with _pytest.raises(ValueError, match="side"):
        ppmi_factorize(some, side="rows")
    bempty = ppmi_factorize(empty, k=2, side="both")
    assert bempty.count() == 0
    assert [f.name for f in bempty.schema.fields] == ["node", "side", "embedding"]
    with _pytest.raises(ValueError, match="no column"):
        ppmi_factorize(some.withColumnRenamed("center", "w"))


def test_walks_to_dense_embeddings_end_to_end(spark):
    """The full count-based chain the r13 verdict called the missing
    half: edges -> random walks -> skip-gram pairs -> shifted PPMI ->
    ppmi_factorize -> SQ8 export -> cosine top-k recovers the planted
    two-clique communities (>=80% of each node's top-3 neighbors are
    same-clique, through the int8 codec)."""
    import numpy as np

    from kafka_merge_purge_spark.operators.components import (
        ppmi_from_pairs,
        random_walks,
        skipgram_pairs,
    )
    from kafka_merge_purge_spark.operators.factorize import ppmi_factorize
    from kafka_merge_purge_spark.operators.pq import (
        sq8_encode,
        sq8_decode_expr,
        sq8_fit,
    )
    from kafka_merge_purge_spark.operators.similarity import brute_force_topk
    from pyspark.sql import functions as F

    edges = []
    for base in (0, 10):  # two 10-cliques, nodes 0-9 and 10-19
        for i in range(10):
            for j in range(10):
                if i != j:
                    edges.append((base + i, base + j))
    e = spark.createDataFrame(edges, "src int, dst int")
    walks = random_walks(e, walk_length=6, walks_per_node=3)
    pairs = skipgram_pairs(walks, window=2)
    ppmi = ppmi_from_pairs(pairs, shift=1)
    emb = ppmi_factorize(ppmi, k=4, oversample=4, power_iters=2).select(
        F.col("node").alias("vec_id"), "embedding"
    )
    assert emb.count() == 20
    params = sq8_fit(emb)
    dec = sq8_encode(emb, params).select(
        "vec_id", sq8_decode_expr(F.col("codes"), params).alias("embedding")
    )
    nn = brute_force_topk(dec, dec, k=3, id_col="vec_id").collect()
    same = sum(
        1
        for r in nn
        if (int(r["query_id"]) < 10) == (int(r["neighbor_id"]) < 10)
    )
    assert same / len(nn) >= 0.8, same / len(nn)


def _louvain_driver_reference(edge_rows, rounds=6):
    """Driver-side replay of louvain()'s mutual-best matching
    agglomeration — same ΔQ·W² = W·e_CD − 2·Σ_C·Σ_D scoring, same
    (score desc, partner asc) tie-break, same min-label relabel."""
    lab = {}
    for s, d, _ in edge_rows:
        lab.setdefault(s, s)
        lab.setdefault(d, d)
    W = sum(w for _, _, w in edge_rows)
    for _ in range(rounds):
        sig, e_cd = {}, {}
        for s, d, w in edge_rows:
            cs, cd = lab[s], lab[d]
            sig[cs] = sig.get(cs, 0) + w
            if cs != cd:
                key = (min(cs, cd), max(cs, cd))
                e_cd[key] = e_cd.get(key, 0) + w
        best = {}
        for (a, b), ew in e_cd.items():
            for c, p in ((a, b), (b, a)):
                score = W * ew - 2 * sig[c] * sig[p]
                if score > 0 and (
                    c not in best
                    or (-score, p) < (-best[c][0], best[c][1])
                ):
                    best[c] = (score, p)
        remap = {}
        for c, (_, p) in best.items():
            if p in best and best[p][1] == c:
                remap[c] = min(c, p)
        if not remap:
            break
        lab = {n: remap.get(l, l) for n, l in lab.items()}
    return lab


def test_louvain_beats_lpa_and_matches_driver_reference(spark):
    """r14 (r13 verdict missing item 2): (a) on the 4-triangle ring
    louvain must hit the Q=0.5 optimum that 3-sweep LPA misses; (b) on
    planted two-cliques both find the partition (equal Q); (c) on a
    seeded pseudo-random graph the distributed labels must equal the
    driver-side reference replay exactly."""
    from kafka_merge_purge_spark.operators.components import (
        label_propagation,
        louvain,
        modularity,
    )

    def q_of(e, labels):
        rows = modularity(e, labels).collect()
        m = rows[0]["m_edges"] if rows else 1
        return sum(int(r["q_num"]) for r in rows) / (m * m)

    def sym(pairs):
        return pairs + [(b, a) for a, b in pairs]

    tri = []
    for t in range(4):
        b = t * 3
        tri += [(b, b + 1), (b + 1, b + 2), (b, b + 2), (b + 2, (b + 3) % 12)]
    e_tri = spark.createDataFrame(sym(tri), "src int, dst int")
    q_lv = q_of(e_tri, louvain(e_tri))
    q_lp = q_of(e_tri, label_propagation(e_tri, iterations=3))
    assert abs(q_lv - 0.5) < 1e-12 and q_lv > q_lp

    cl = []
    for base in (0, 10):
        for i in range(6):
            for j in range(i + 1, 6):
                cl.append((base + i, base + j))
    cl.append((0, 10))
    e_cl = spark.createDataFrame(sym(cl), "src int, dst int")
    lv = {(r["node"], r["label"]) for r in louvain(e_cl).collect()}
    assert {l for _, l in lv} == {0, 10}
    assert q_of(e_cl, louvain(e_cl)) >= q_of(
        e_cl, label_propagation(e_cl, iterations=3)
    )

    # (c) seeded pseudo-random graph, exact driver equality
    import hashlib

    pr = []
    for i in range(40):
        for j in range(i + 1, 40):
            h = int(hashlib.md5(f"lv:{i}:{j}".encode()).hexdigest()[:8], 16)
            # denser within blocks of 10, sparse across
            thresh = 0x60000000 if i // 10 == j // 10 else 0x08000000
            if h < thresh:
                pr.append((i, j))
    rows = sym(pr)
    e_pr = spark.createDataFrame(rows, "src int, dst int")
    got = {r["node"]: r["label"] for r in louvain(e_pr).collect()}
    want = _louvain_driver_reference([(s, d, 1) for s, d in rows])
    assert got == want


def test_louvain_weighted_and_validation(spark):
    """Integer weights steer the matching: a heavy edge outweighs two
    light ones; rounds must validate."""
    from kafka_merge_purge_spark.operators.components import louvain
    import pytest as _pytest

    rows = [(1, 2, 10), (2, 1, 10), (2, 3, 1), (3, 2, 1), (3, 4, 10), (4, 3, 10)]
    e = spark.createDataFrame(rows, "src int, dst int, w int")
    got = {r["node"]: r["label"] for r in louvain(e, weight_col="w").collect()}
    assert got[1] == got[2] and got[3] == got[4] and got[1] != got[3]
    with _pytest.raises(ValueError, match="rounds"):
        louvain(e, rounds=0)


def test_louvain_parallel_edge_contraction(spark):
    """r15 contraction pin: louvain now pre-aggregates the edge list to
    the (community, community, weight) multigraph at build and keeps it
    contracted across rounds — PARALLEL edge rows (same (src, dst)
    repeated, with and without weights) must sum exactly like the
    declared per-row semantics, i.e. match the driver-side
    relabel-then-aggregate reference bit for bit."""
    from kafka_merge_purge_spark.operators.components import louvain

    # seeded pseudo-random multigraph: blocks of 5 over 20 nodes, each
    # undirected pair replicated 1-3x with weight 1-4 (md5-derived)
    import hashlib

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    tri = []
    for i in range(20):
        for j in range(i + 1, 20):
            thresh = 0x70000000 if i // 5 == j // 5 else 0x0A000000
            if h(f"lvm:{i}:{j}") < thresh:
                reps = 1 + h(f"lvm:r:{i}:{j}") % 3
                w = 1 + h(f"lvm:w:{i}:{j}") % 4
                tri += [(i, j, w)] * reps
    rows = tri + [(b, a, w) for a, b, w in tri]
    e = spark.createDataFrame(rows, "src int, dst int, w int")
    got = {r["node"]: r["label"] for r in louvain(e, weight_col="w").collect()}
    want = _louvain_driver_reference(rows)
    assert got == want
    # unweighted parallel rows count once per ROW (the declared
    # per-edge-row semantics the build aggregate must preserve)
    e1 = e.select("src", "dst")
    got1 = {r["node"]: r["label"] for r in louvain(e1).collect()}
    want1 = _louvain_driver_reference([(s, d, 1) for s, d, _ in rows])
    assert got1 == want1


def test_unigram_encode_word_viterbi_and_unk():
    """Viterbi picks the max-score segmentation, ties go to fewer
    pieces then lexicographically; out-of-vocab chars fall back to
    single UNK pieces; '' encodes to []."""
    from kafka_merge_purge_spark.operators.text import (
        UNIGRAM_UNK_SCORE_Q,
        unigram_encode_word,
    )

    # 'abc': a|bc scores -3-1=-4, ab|c scores -1-3=-4 (tie, both 2
    # pieces) -> lexicographically smallest sequence ('a','bc') wins;
    # abc in one piece scores -10 and loses despite fewer pieces.
    scores = {"a": -3, "bc": -1, "ab": -1, "c": -3, "b": -5, "abc": -10}
    assert unigram_encode_word("abc", scores, {}) == ["a", "bc"]
    # higher total beats fewer pieces
    assert unigram_encode_word("abc", {"abc": -9, "a": -3, "bc": -1, "ab": -1, "c": -3}, {}) == ["a", "bc"]
    # fewer pieces wins the exact tie
    assert unigram_encode_word("abc", {"abc": -4, "a": -3, "bc": -1}, {}) == ["abc"]
    # UNK fallback: 'x' not in vocab
    out = unigram_encode_word("axa", {"a": -1}, {})
    assert out == ["a", "x", "a"]
    total = -1 + UNIGRAM_UNK_SCORE_Q + -1
    assert total < 0  # sanity: UNK penalty applied
    assert unigram_encode_word("", {"a": -1}, {}) == []


def _unigram_reference_trainer(word_freqs, vocab_size, max_piece_len=8,
                               em_iters=2, prune_frac=0.75):
    """Independent naive replay of learn_unigram_vocab's spec: same
    seeding, hard-EM with a brute-force exhaustive segmenter (enumerate
    ALL segmentations instead of Viterbi DP), same pruning/tie rules."""
    import math

    UNK = -20_000_000

    def all_segs(word):
        if not word:
            yield ()
            return
        for ln in range(1, min(max_piece_len, len(word)) + 1):
            for rest in all_segs(word[ln:]):
                yield (word[:ln],) + rest

    def best_seg(word, scores):
        best = None
        for seg in all_segs(word):
            sc = 0
            ok = True
            for p in seg:
                v = scores.get(p)
                if v is None:
                    if len(p) != 1:
                        ok = False
                        break
                    v = UNK
                sc += v
            if not ok:
                continue
            key = (-sc, len(seg), seg)
            if best is None or key < best[0]:
                best = (key, seg)
        return best[1]

    wf = {w: int(f) for w, f in word_freqs.items() if w and f > 0}
    chars = sorted({c for w in wf for c in w})
    seed_counts = {}
    for w, f in sorted(wf.items()):
        for i in range(len(w)):
            for ln in range(2, min(max_piece_len, len(w) - i) + 1):
                p = w[i:i + ln]
                seed_counts[p] = seed_counts.get(p, 0) + f * ln
    seed_room = max(0, max(vocab_size, len(chars)) * 4 - len(chars))
    seeds = sorted(seed_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_room]
    vocab = set(chars) | {p for p, _ in seeds}
    init = {p: seed_counts.get(p, 1) for p in vocab}
    for c in chars:
        init[c] = max(init.get(c, 1), 1)
    tot = sum(init.values())
    scores = {p: math.floor(math.log(c / tot) * 1_000_000) for p, c in init.items()}
    target = max(vocab_size, len(chars))
    remaining = em_iters
    while True:
        counts = {}
        for w, f in sorted(wf.items()):
            for p in best_seg(w, scores):
                counts[p] = counts.get(p, 0) + f
        def rescore():
            full = {p: counts.get(p, 0) for p in vocab}
            for c in chars:
                full[c] = max(1, full.get(c, 0))
            live = {p: c for p, c in full.items() if c > 0}
            t = sum(live.values())
            return {p: math.floor(math.log(c / t) * 1_000_000)
                    for p, c in live.items()}
        if len(vocab) > target:
            keep = max(target, int(len(vocab) * prune_frac))
            multi = [p for p in vocab if len(p) > 1]
            ranked = sorted(multi, key=lambda p: (-counts.get(p, 0), p))[
                :max(0, keep - len(chars))]
            vocab = set(chars) | set(ranked)
            scores = rescore()
            continue
        scores = rescore()
        remaining -= 1
        if remaining <= 0:
            return dict(sorted(scores.items()))


def test_learn_unigram_vocab_matches_reference_and_is_deterministic():
    """The driver trainer must equal an independent naive replay
    (brute-force exhaustive segmenter instead of Viterbi DP) on a small
    corpus, and produce identical output across calls."""
    from kafka_merge_purge_spark.operators.text import learn_unigram_vocab
    import pytest as _pytest

    wf = {
        "filter": 30, "filters": 12, "filtered": 8,
        "scan": 25, "scans": 9, "merge": 20, "merges": 7,
        "hash": 18, "join": 26, "joins": 5,
    }
    got = learn_unigram_vocab(wf, vocab_size=24)
    want = _unigram_reference_trainer(wf, vocab_size=24)
    assert got == want
    assert got == learn_unigram_vocab(wf, vocab_size=24)
    # every single character survives (coverage)
    chars = {c for w in wf for c in w}
    assert chars <= set(got)
    with _pytest.raises(ValueError, match="vocab_size"):
        learn_unigram_vocab(wf, vocab_size=0)
    with _pytest.raises(ValueError, match="prune_frac"):
        learn_unigram_vocab(wf, vocab_size=8, prune_frac=1.5)


def test_unigram_token_count_matches_driver_and_packs(spark):
    """The distributed mapInPandas count must equal a driver-side
    encode of every doc, and pack_sequences(tokenizer='unigram') packs
    on those counts."""
    from kafka_merge_purge_spark.operators.text import (
        load_unigram_vocab,
        pack_sequences,
        unigram_encode_word,
        unigram_token_count,
    )

    docs = spark.createDataFrame(
        [
            (1, "filter scan filter"),
            (2, "merge join hash hash"),
            (3, ""),
            (4, "zzz unknownword"),
        ],
        "doc_id long, text string",
    )
    vocab = load_unigram_vocab()
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in unigram_token_count(docs, vocab).collect()
    }
    cache: dict = {}
    for did, txt in [(1, "filter scan filter"), (2, "merge join hash hash"),
                     (3, ""), (4, "zzz unknownword")]:
        words = txt.split(" ")
        want = (len(words),
                sum(len(unigram_encode_word(w, vocab, cache)) for w in words))
        assert got[did] == want, (did, got[did], want)
    packed = pack_sequences(docs, capacity=8, tokenizer="unigram").collect()
    by_id = {r["doc_id"]: r for r in packed}
    assert by_id[1]["tokens_before"] == 0
    n1 = by_id[1]["n_tokens"]
    assert by_id[2]["tokens_before"] == n1
    assert all(r["shard_id"] == r["tokens_before"] // 8 for r in packed)


def test_betweenness_sample_hand_computed(spark):
    """Brandes spot checks: directed path (dependency 2e6/1e6), star
    through a hub (3e6), and a diamond whose two shortest paths split
    the dependency exactly in half under the int64 quantization."""
    from kafka_merge_purge_spark.operators.components import (
        betweenness_sample,
    )
    import pytest as _pytest

    # path 1->2->3->4 from source 1: delta(2)=2, delta(3)=1, delta(4)=0
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src int, dst int"
    )
    got = {
        r["node"]: r["btw_q"]
        for r in betweenness_sample(path, [1], rounds=4).collect()
    }
    assert got == {2: 2_000_000, 3: 1_000_000, 4: 0}

    # star: leaves 1-4 around hub 0 (symmetrized); from leaf 1 the hub
    # carries all 3 cross-leaf shortest paths
    star_pairs = [(0, i) for i in range(1, 5)]
    star = spark.createDataFrame(
        star_pairs + [(b, a) for a, b in star_pairs], "src int, dst int"
    )
    got = {
        r["node"]: r["btw_q"]
        for r in betweenness_sample(star, [1], rounds=2).collect()
    }
    assert got[0] == 3_000_000
    assert all(got[leaf] == 0 for leaf in (2, 3, 4))

    # diamond 1->{2,3}->4: sigma(4)=2, each middle node gets
    # (1*(1e6+0)) DIV 2 = 500000
    diamond = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    got = {
        r["node"]: r["btw_q"]
        for r in betweenness_sample(diamond, [1], rounds=3).collect()
    }
    assert got == {2: 500_000, 3: 500_000, 4: 0}

    with _pytest.raises(ValueError, match="at least one source"):
        betweenness_sample(path, [])
    with _pytest.raises(ValueError, match="rounds"):
        betweenness_sample(path, [1], rounds=0)
    with _pytest.raises(ValueError, match="not present"):
        betweenness_sample(path, [99])


def test_sparse_cosine_topk_overflow_guard(spark):
    """r13 advice 3: a value whose quantized square times nnz exceeds
    int64 must raise an upfront, actionable error naming quantize —
    not overflow mid-job."""
    from kafka_merge_purge_spark.operators.similarity import sparse_cosine_topk
    import pytest as _pytest

    rows = spark.createDataFrame(
        [("a", "f1", 4e6), ("a", "f2", 4e6), ("b", "f1", 1.0)],
        "id string, feature string, value double",
    )
    with _pytest.raises(ValueError, match="quantize"):
        sparse_cosine_topk(rows, k=2)  # (4e6*1e6)^2 * 2 >> 2^63
    # lowering quantize per the error message clears it
    ok = sparse_cosine_topk(rows, k=2, quantize=1)
    assert ok.count() >= 0


def test_ppmi_factorize_real_data_recall_floor(spark):
    """Dense rank-16 neighbors vs the exact sparse-cosine ground truth
    (x_ppmi_topk's path) on the real sf0.001 co-purchase matrix: the
    PPMI matrix there is near-full-rank (random-ish co-purchases), so
    a 0.9 floor is impossible for ANY rank-16 factorization — the
    planted rank-2 fixtures carry the >=0.9 quality contract; this pin
    (measured 0.447) guards against regressions that would drop the
    real-data agreement to noise (~5/198 ~= 0.03)."""
    import pyspark.sql.functions as F

    import __spark_entry__ as m
    from kafka_merge_purge_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    sf = "/root/testdata/sf0.001"
    sparse = m.queries()["x_ppmi_topk"](spark, sf).select(
        "query_id", "rank", F.col("neighbor_id").alias("item")
    )
    dense = m.queries()["x_ppmi_factorize"](spark, sf).select(
        F.col("node").alias("vec_id"), "embedding"
    )
    dnn = brute_force_topk(dense, dense, k=5, id_col="vec_id").select(
        "query_id", "rank", F.col("neighbor_id").alias("item")
    )
    row = (
        topk_recall(sparse, dnn, item_col="item", k=5)
        .agg(F.avg("recall").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    assert row["n"] > 150
    assert row["r"] >= 0.3, row["r"]


def test_graph_embeddings_one_call_composition(spark):
    """graph_embeddings == the manual walks->pairs->PPMI->factorize
    chain (same walk substrate injected into both), walks= skips
    generation (spy-pinned), and exactly one of edges=/walks= is
    required."""
    import numpy as np
    import pytest as _pytest

    import kafka_merge_purge_spark.operators.factorize as FZ
    from kafka_merge_purge_spark.operators import components as C

    edges = []
    for base in (0, 10):
        for i in range(10):
            for j in range(10):
                if i != j:
                    edges.append((base + i, base + j))
    e = spark.createDataFrame(edges, "src int, dst int")
    walks = C.random_walks(e, walk_length=5, walks_per_node=2).localCheckpoint(
        eager=True
    )
    manual = FZ.ppmi_factorize(
        C.ppmi_from_pairs(C.skipgram_pairs(walks, window=2), shift=1),
        k=4,
        oversample=4,
        power_iters=1,
    )
    one_call = FZ.graph_embeddings(walks=walks, k=4, window=2, oversample=4)
    a = {r["node"]: np.array(r["embedding"]) for r in manual.collect()}
    b = {r["node"]: np.array(r["embedding"]) for r in one_call.collect()}
    assert set(a) == set(b) and len(a) == 20
    # float sums are ~1-ulp nondeterministic across runs, so compare
    # the GEOMETRY, not the bits: same-clique neighbors dominate both
    for emb in (a, b):
        M = np.array([emb[n] for n in sorted(emb)])
        sims = M @ M.T
        same = sum(
            1
            for i in range(20)
            for j in np.argsort(-sims[i])[1:4]
            if (int(sorted(emb)[i]) < 10) == (int(sorted(emb)[j]) < 10)
        )
        assert same / 60 >= 0.8

    calls = []
    orig = C.random_walks
    C.random_walks = lambda *a, **kw: (_ for _ in ()).throw(
        AssertionError("walks= given, generation still ran")
    )
    try:
        FZ.graph_embeddings(walks=walks, k=2, oversample=2, power_iters=0)
    finally:
        C.random_walks = orig
    with _pytest.raises(ValueError, match="exactly one"):
        FZ.graph_embeddings()
    with _pytest.raises(ValueError, match="exactly one"):
        FZ.graph_embeddings(edges=e, walks=walks)
    with _pytest.raises(ValueError, match="walk_kind"):
        FZ.graph_embeddings(edges=e, walk_kind="levy")


def test_spearman_corr_ties_and_edges(spark):
    """spearman_corr (r15): average-tie ranks verified against a
    scipy-free hand computation (exact fractions), perfect monotone /
    reversed / constant / empty edges, negative values crossing bucket
    boundaries, and bucket_size invariance."""
    from fractions import Fraction
    import math

    import pytest as _pytest

    from kafka_merge_purge_spark.operators.similarity import spearman_corr

    def reference(xs, ys):
        def avg_ranks(vs):
            order = sorted(set(vs))
            below, out = 0, {}
            for v in order:
                c = vs.count(v)
                out[v] = Fraction(2 * below + c + 1, 2)
                below += c
            return [out[v] for v in vs]

        rx, ry = avg_ranks(xs), avg_ranks(ys)
        n = len(xs)
        sx, sy = sum(rx), sum(ry)
        sxy = sum(a * b for a, b in zip(rx, ry))
        sxx = sum(a * a for a in rx)
        syy = sum(b * b for b in ry)
        num = n * sxy - sx * sy
        dx, dy = n * sxx - sx * sx, n * syy - sy * sy
        if dx <= 0 or dy <= 0:
            return None
        return round(float(num) / (math.sqrt(float(dx)) * math.sqrt(float(dy))), 6)

    # ties on both axes
    xs, ys = [1, 2, 2, 2, 3], [10, 30, 20, 30, 50]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    got = spearman_corr(df, "x", "y").collect()[0]
    assert got["n"] == 5
    assert got["spearman_rho"] == reference(xs, ys)

    # perfect monotone / reversed (nonlinear but monotone → rho = ±1)
    xs2, ys2 = [1, 2, 3, 4], [1, 10, 100, 1000]
    df2 = spark.createDataFrame(list(zip(xs2, ys2)), "x long, y long")
    assert spearman_corr(df2, "x", "y").collect()[0]["spearman_rho"] == 1.0
    df2r = spark.createDataFrame(list(zip(xs2, ys2[::-1])), "x long, y long")
    assert spearman_corr(df2r, "x", "y").collect()[0]["spearman_rho"] == -1.0

    # constant column → NULL rho; empty → n=0, NULL rho
    dfc = spark.createDataFrame([(1, 7), (2, 7)], "x long, y long")
    row = spearman_corr(dfc, "x", "y").collect()[0]
    assert row["n"] == 2 and row["spearman_rho"] is None
    dfe = spark.createDataFrame([], "x long, y long")
    row = spearman_corr(dfe, "x", "y").collect()[0]
    assert row["n"] == 0 and row["spearman_rho"] is None

    # negative values across bucket boundaries + bucket_size invariance
    xs3 = [-5, -3, -3, 0, 2, 7, 7, 11]
    ys3 = [20, 5, 5, -9, -9, 3, 8, 1]
    df3 = spark.createDataFrame(list(zip(xs3, ys3)), "x long, y long")
    want = reference(xs3, ys3)
    for bs in (1, 3, 1_000_000):
        assert (
            spearman_corr(df3, "x", "y", bucket_size=bs).collect()[0][
                "spearman_rho"
            ]
            == want
        ), bs

    with _pytest.raises(ValueError, match="bucket_size"):
        spearman_corr(df3, "x", "y", bucket_size=0)


def test_spearman_grouped_equals_global_per_slice(spark):
    """spearman_corr_grouped == spearman_corr applied to each group
    slice independently (including a constant-column group -> NULL and
    ties), and group-cols validation."""
    import pytest as _pytest

    from kafka_merge_purge_spark.operators.similarity import (
        spearman_corr,
        spearman_corr_grouped,
    )

    rows = (
        [("a", x, y) for x, y in [(1, 5), (2, 4), (2, 9), (3, 1), (7, 7)]]
        + [("b", x, y) for x, y in [(1, 1), (2, 10), (3, 100)]]
        + [("c", x, y) for x, y in [(1, 7), (2, 7)]]  # constant y
    )
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n"], r["spearman_rho"])
        for r in spearman_corr_grouped(df, ["g"], "x", "y").collect()
    }
    assert set(got) == {"a", "b", "c"}
    for g in ("a", "b", "c"):
        want = spearman_corr(
            df.filter(F.col("g") == g), "x", "y"
        ).collect()[0]
        assert got[g] == (want["n"], want["spearman_rho"]), g
    assert got["b"][1] == 1.0
    assert got["c"][1] is None

    with _pytest.raises(ValueError, match="group column"):
        spearman_corr_grouped(df, [], "x", "y")


def test_retrieval_metrics_hand_fixture(spark):
    """retrieval_metrics (r15): hand-computed DCG/IDCG/MRR on a graded
    fixture (exp + linear gains), the trec_eval universe convention
    (positive-truth queries only; dropped queries score 0), k
    truncation on both sides, and validation."""
    import math

    import pytest as _pytest

    from kafka_merge_purge_spark.operators.similarity import retrieval_metrics

    preds = spark.createDataFrame(
        [
            ("q1", "b", 1), ("q1", "x", 2), ("q1", "a", 3),
            ("q2", "z", 1), ("q2", "y", 2),          # nothing relevant
            ("q4", "p", 1),                           # no positive truth
        ],
        "query_id string, item string, rank int",
    )
    truth = spark.createDataFrame(
        [
            ("q1", "a", 3), ("q1", "b", 2), ("q1", "c", 1),
            ("q2", "w", 1),
            ("q3", "m", 2),                           # never predicted
            ("q4", "p", 0),                           # rel 0 = not positive
        ],
        "query_id string, item string, rel int",
    )

    def term(g, pos):
        return round(g / math.log2(pos + 1), 6)

    got = {r["query_id"]: r for r in retrieval_metrics(preds, truth, k=3).collect()}
    assert set(got) == {"q1", "q2", "q3"}  # q4 drops (no positive truth)
    # q1 exp: dcg = (2^2-1)/log2(2) at rank1 + (2^3-1)/log2(4) at rank3
    dcg1 = term(3, 1) + term(7, 3)
    idcg1 = term(7, 1) + term(3, 2) + term(1, 3)
    assert got["q1"]["rr"] == 1.0
    assert got["q1"]["dcg"] == round(dcg1, 6)
    assert got["q1"]["idcg"] == round(idcg1, 6)
    assert got["q1"]["ndcg"] == round(dcg1 / idcg1, 6)
    # AP@3: hits b@1 (1st hit), a@3 (2nd hit) → (1/1 + 2/3)/min(3,3)
    ap1 = round((round(1 / 1, 6) + round(2 / 3, 6)) / 3, 6)
    assert got["q1"]["ap"] == ap1
    # q2: retrieved nothing relevant; q3: never predicted — both 0
    for q in ("q2", "q3"):
        assert got[q]["rr"] == 0.0 and got[q]["dcg"] == 0.0
        assert got[q]["ndcg"] == 0.0 and got[q]["idcg"] > 0
        assert got[q]["ap"] == 0.0

    lin = {r["query_id"]: r for r in
           retrieval_metrics(preds, truth, k=3, gain="linear").collect()}
    dcg1l = term(2, 1) + term(3, 3)
    idcg1l = term(3, 1) + term(2, 2) + term(1, 3)
    assert lin["q1"]["dcg"] == round(dcg1l, 6)
    assert lin["q1"]["ndcg"] == round(dcg1l / idcg1l, 6)

    # linear gain leaves the binary-hit AP unchanged
    assert lin["q1"]["ap"] == ap1

    # k truncation: k=1 sees only rank-1 b (rel 2); ideal top-1 is a;
    # AP@1 denominator truncates to min(3, 1) = 1
    k1 = {r["query_id"]: r for r in retrieval_metrics(preds, truth, k=1).collect()}
    assert k1["q1"]["dcg"] == term(3, 1) and k1["q1"]["idcg"] == term(7, 1)
    assert k1["q1"]["rr"] == 1.0
    assert k1["q1"]["ap"] == 1.0

    with _pytest.raises(ValueError, match="k must"):
        retrieval_metrics(preds, truth, k=0)
    with _pytest.raises(ValueError, match="gain"):
        retrieval_metrics(preds, truth, gain="log")


def test_exact_auc_matches_pair_enumeration(spark):
    """exact_auc's rank-sum form must equal brute-force pair counting
    (P(s+ > s-) + half ties) on a tied, negative-scored fixture; the
    multi-bucket prefix path (bucket_size=2) gives identical results;
    empty classes yield NULL auc."""
    from kafka_merge_purge_spark.operators.similarity import exact_auc
    import pytest as _pytest

    rows = [
        (1, 5), (1, 3), (1, 3), (1, -2),
        (0, 3), (0, 0), (0, -2), (0, -7), (0, -7),
    ]
    df = spark.createDataFrame(rows, "label int, score long")
    # brute force reference
    pos = [s for l, s in rows if l == 1]
    neg = [s for l, s in rows if l == 0]
    num2 = sum(2 if p > n else 1 if p == n else 0 for p in pos for n in neg)
    want_auc = round(num2 / (2 * len(pos) * len(neg)), 6)
    for bs in (1_000_000, 2, 1):
        got = exact_auc(df, bucket_size=bs).collect()[0]
        assert int(got["auc_num2"]) == num2, (bs, got)
        assert (got["n_pos"], got["n_neg"]) == (len(pos), len(neg))
        assert got["auc"] == want_auc
    # perfect separation / reversal / all ties
    sep = spark.createDataFrame([(1, 10), (1, 9), (0, 1), (0, 0)], "label int, score long")
    assert exact_auc(sep).collect()[0]["auc"] == 1.0
    rev = spark.createDataFrame([(0, 10), (0, 9), (1, 1), (1, 0)], "label int, score long")
    assert exact_auc(rev).collect()[0]["auc"] == 0.0
    tie = spark.createDataFrame([(1, 7), (0, 7)], "label int, score long")
    assert exact_auc(tie).collect()[0]["auc"] == 0.5
    # one class only -> NULL auc
    onec = spark.createDataFrame([(1, 7), (1, 3)], "label int, score long")
    row = exact_auc(onec).collect()[0]
    assert row["auc"] is None and row["n_neg"] == 0
    with _pytest.raises(ValueError, match="bucket_size"):
        exact_auc(df, bucket_size=0)
