"""Deduplication operators for LLM-data pipelines.

Four tiers, cheapest to most expressive:

1. exact          — md5(normalized text) hash-groupBy, keep min doc_id
2. n-gram Jaccard — exact set overlap on word shingles (quadratic pairing;
                    use only within LSH candidate buckets at scale)
3. MinHash + LSH  — shingle → n minhashes → band → bucket-join: the
                    scalable fuzzy-dedup path (pairing cost ∝ bucket
                    collisions, not n²)
4. SimHash        — 32-bit weighted-bit fingerprint; hamming-near pairs

Engine-portability invariant: every hash bottoms out in md5 (identical in
Spark and DuckDB), mapped to int64 via the first 15 hex chars (60 bits,
no sign issues), so the DuckDB oracle reproduces signatures bit-for-bit.
Shingling and hashing are narrow map stages (md5 always JVM-side; the
affine min-hash and majority-vote folds run as mapInPandas kernels with
the same integer arithmetic as the md5 expressions).  The LSH shuffles are the
band self-join on (id, band, band_key), the pair-dedup, and one narrow
shingle re-join per side for the Jaccard verify — exactly the shuffles
the algorithm requires, each at its minimal width.

At 100 TB: the LSH band join shuffles (band_id, band_key) — a
near-uniform key space, so no skew; candidate verification (Jaccard) runs
only inside buckets.  Mega-buckets from degenerate documents (empty
shingle sets) are dropped before the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_merge_purge_spark.operators.iterate import cache_scope, cached
from kafka_merge_purge_spark.operators.text import tokens
from kafka_merge_purge_spark.plans.introspect import spread_width

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands × 4 rows — s-curve threshold ≈ (1/4)^(1/4) ≈ 0.71


def normalize(text: Column) -> Column:
    """Lowercase + squeeze non-alphanumerics — the canonical form all
    dedup tiers hash.  Mirrors text.fingerprint's normalization.
    ASCII-only: unsegmented scripts normalize to '' — use
    :func:`normalize_unicode` + the ``adaptive`` shingle path for
    multilingual corpora."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def normalize_unicode(text: Column) -> Column:
    """Script-preserving normalize twin: lowercase + squeeze everything
    that is not a letter or digit in ANY script (``\\p{L}\\p{Nd}``) to a
    single space.  Identical to :func:`normalize` on pure-ASCII text
    (pinned in pytest), but CJK/Cyrillic/accented text survives instead
    of collapsing to the empty string."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^\p{L}\p{Nd}]+", " "))


def md5_int(c: Column) -> Column:
    """Portable 60-bit integer hash: int(md5(x)[:15], 16).

    DuckDB twin: CAST(from_hex? → use: ('0x' || substr(md5(x),1,15))::BIGINT —
    see oracle builders in __spark_entry__.py."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-text hash.

    groupBy on the 128-bit digest — map-side combine collapses each task
    to its distinct digests, so the shuffle carries ~|unique docs| rows.
    """
    return (
        df.select(F.col(id_col), F.md5(normalize(F.col(text_col))).alias("_h"))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .select(id_col, "n_copies")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of the normalized text.

    Expression-level: sequence over token positions → slice → concat;
    stays in codegen.  Documents shorter than k tokens yield their whole
    text as a single shingle (so they can still collide exactly).

    The token array is let-bound (r16): the position lambda references
    it per ELEMENT, and Catalyst re-evaluates captured subexpressions
    inside HOF lambdas — the unbound form re-tokenized the document once
    per shingle position (measured 4.0 s → 0.65 s on the sf0.1 shingle
    pass, identical output)."""
    from kafka_merge_purge_spark.plans.introspect import let_once

    def body(toks: Column) -> Column:
        n = F.size(toks)
        k_shingles = F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
        )
        return F.array_distinct(k_shingles)

    return let_once(tokens(normalize(text)), body)


def shingle_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    adaptive: bool = False,
) -> DataFrame:
    """``(id, sh)`` — each document's distinct word k-shingle array.

    ``adaptive=True`` swaps the tokenizer stage for the multilingual
    form — :func:`normalize_unicode` (scripts survive) +
    ``text.tokens_adaptive`` (codepoint bigrams when space density says
    the script is unsegmented) — so shingling, and everything built on
    it (MinHash, fuzzy dedup), works on CJK-like corpora instead of
    collapsing every document to the empty shingle.  On pure-ASCII text
    the adaptive form produces IDENTICAL shingles (pinned in pytest) —
    space-delimited prose rides the density branch and space-free ASCII
    (URLs, hashes, identifiers) stays one whitespace token at any
    length (ADVICE r6) — so flipping it on a mixed corpus never changes
    the result for the documents the default already handled.

    Normalization + tokenization stay JVM expressions (string
    semantics cannot diverge), then ONE ``mapInPandas`` pass slices
    token arrays in native Python — the interpreted
    sequence→slice→concat_ws HOF chain costs O(n·k) expression
    interpretation per row.  The output equals the :func:`shingles`
    column: the same shingle SETS in the same first-occurrence order
    (``dict.fromkeys`` reproduces ``array_distinct``), and NULL text
    folds to ``[""]`` as it does there (``greatest(NULL, 1)`` is 1 and
    ``concat_ws`` over a NULL slice is ``""``).  Callers that must
    exclude degenerate docs filter before this stage, as
    minhash_lsh_pairs does.
    """
    import pandas as pd
    from collections.abc import Iterator

    id_type = dict(df.dtypes)[id_col]
    if adaptive:
        from kafka_merge_purge_spark.operators.text import tokens_adaptive

        toks = tokens_adaptive(normalize_unicode(F.col(text_col)))
    else:
        toks = tokens(normalize(F.col(text_col)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for tk in pdf["_toks"]:
                if tk is None:
                    # as shingles(): greatest(NULL-2, 1) → one slot,
                    # concat_ws over the NULL slice → "" — never NULL
                    out.append([""])
                    continue
                t = list(tk)
                n = len(t)
                grams = [" ".join(t[i : i + k]) for i in range(max(n - k + 1, 1))]
                out.append(list(dict.fromkeys(grams)))
            yield pd.DataFrame({"id": pdf["id"], "sh": out})

    return df.select(F.col(id_col).alias("id"), toks.alias("_toks")).mapInPandas(
        gen, schema=f"id {id_type}, sh array<string>"
    )


#: universal-hash constants for MinHash: h_i(x) = (a_i·x31 + b_i) mod P.
#: One md5 per shingle (expensive part) + num_hashes cheap affine maps —
#: ~20× cheaper than hashing num_hashes times.  Deterministic: a_i/b_i
#: derive from a fixed LCG so signatures are reproducible everywhere.
MERSENNE_61 = (1 << 61) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    state, out = 0x5DEECE66D, []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        a = (state % ((1 << 31) - 2)) | 1  # odd, < 2^31
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 62)
        b = state % MERSENNE_61
        out.append((a, b))
    return out


def minhash_signature_from_shingles(sh: Column, num_hashes: int = DEFAULT_NUM_HASHES) -> Column:
    """MinHash signature (array<bigint>) from a pre-computed shingle array.

    Base hash: low 31 bits of the portable md5 integer (one md5 per
    shingle); family member i is the affine map (aᵢ·h + bᵢ) mod 2⁶¹-1.
    All operands stay < 2⁶² so the arithmetic is exact under ANSI mode.
    Taking the shingle *column* (not the text) lets callers project
    shingles once and share them between the signature and the verify
    step instead of recomputing the tokenize→shingle chain per use.
    """
    base = F.transform(sh, lambda s: md5_int(s).bitwiseAND(F.lit((1 << 31) - 1)))
    return F.array(
        *[
            F.array_min(F.transform(base, lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_61)))
            for a, b in _minhash_coeffs(num_hashes)
        ]
    )


def minhash_signature(text: Column, num_hashes: int = DEFAULT_NUM_HASHES, k: int = 3) -> Column:
    return minhash_signature_from_shingles(shingles(text, k), num_hashes)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = 3,
) -> DataFrame:
    return df.select(
        F.col(id_col), minhash_signature(F.col(text_col), num_hashes, k).alias("signature")
    )


def _banded_minhash_keys(sh_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, band_key) for every document in ``sh_df`` (= (id, sh)).

    The per-shingle md5 stays a JVM expression; ONE ``mapInPandas``
    pass then computes all ``num_hashes`` affine min-hashes as a single
    numpy outer product and emits the banded rows directly — in place
    of ``num_hashes`` interpreted HOF array passes plus an explode.
    All operands stay < 2⁶³ so numpy int64 reproduces the JVM
    arithmetic of :func:`minhash_signature_from_shingles` exactly, and
    the band key is its signature slice joined with ``_``.
    """
    rows = num_hashes // bands
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    coeffs = _minhash_coeffs(num_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)
    id_type = dict(sh_df.dtypes)["id"]
    base = F.transform(F.col("sh"), lambda s: md5_int(s).bitwiseAND(F.lit((1 << 31) - 1)))
    hashed = sh_df.select("id", base.alias("_hs"))

    def keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_band, out_key = [], [], []
            for rid, hs in zip(pdf["id"], pdf["_hs"]):
                h = np.asarray(hs, dtype=np.int64)
                # h < 2³¹ and a < 2³¹ → h·a < 2⁶²; + b < 2⁶¹ stays < 2⁶³:
                # exact int64, bit-identical to the JVM long arithmetic
                sig = ((h[:, None] * A[None, :] + B[None, :]) % MERSENNE_61).min(axis=0)
                for b in range(bands):
                    out_id.append(rid)
                    out_band.append(b)
                    out_key.append(
                        "_".join(str(int(x)) for x in sig[b * rows : (b + 1) * rows])
                    )
            yield pd.DataFrame({"id": out_id, "band": out_band, "band_key": out_key})

    return hashed.mapInPandas(keys, schema=f"id {id_type}, band int, band_key string")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    jaccard_threshold: float = 0.7,
    adaptive: bool = False,
) -> DataFrame:
    """Fuzzy-dup candidate pairs via LSH banding, verified with exact
    shingle Jaccard.  ``adaptive=True`` runs the multilingual shingle
    stage (see :func:`shingle_frame`) so unsegmented scripts dedup at
    codepoint-bigram granularity instead of being dropped as degenerate.

    Plan shape (the part that matters at scale):
      scan → signature (map) → explode bands (map, ×bands rows of
      (id, band, band_key) ONLY — no shingle payload)
      → self-join on (band, band_key)  [one shuffle each side, ids only]
      → distinct (id_a, id_b) pairs     [one narrow shuffle]
      → re-join shingles per side       [two hash joins, 1× shingle bytes]
      → Jaccard verify (map over joined shingle sets)

    Trade-off of the narrow band frame: the ``sh_df`` subtree
    (scan → normalize → tokenize → shingle) appears three times in the
    plan — once under the banding, once per re-join side — so its CPU
    cost triples versus carrying shingle arrays through the band join.
    So the shingle frame is cached once (r6 A/B in BENCH_SCALE.md: the
    cache wins 2.3× at sf0.1 and 1.34× at the 10× scale-up, min-of-2
    warm on local[32]; MEMORY_AND_DISK, LRU-evictable — bounded-safe
    when the frame outgrows cluster memory) and all three uses read it;
    the cache lives until ``iterate.release_all_persisted()``.
    """
    # Scale posture: small corpora arrive as one file → one partition; the
    # signature map stage must parallelize, so spread rows first (at real
    # scale the scan already has many partitions and AQE coalesces).
    n_part = spread_width(df.sparkSession)
    # Degenerate documents (text normalizing to nothing) all shingle to
    # [""] and would collide in every band — a quadratic mega-bucket at
    # scale.  Drop them BEFORE shingling; the predicate is a cheap
    # short-circuiting rlike (text normalizes to empty iff it contains no
    # alphanumeric at all), not a re-evaluation of the normalize/shingle
    # expression chain.
    content_re = r"[\p{L}\p{Nd}]" if adaptive else "[a-zA-Z0-9]"
    sh_df = shingle_frame(
        df.filter(F.col(text_col).rlike(content_re)).repartition(n_part, id_col),
        text_col,
        id_col,
        k,
        adaptive=adaptive,
    )
    return _banded_jaccard_pairs(cached(sh_df), num_hashes, bands, jaccard_threshold)


def _banded_jaccard_pairs(
    sh_df: DataFrame,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
) -> DataFrame:
    """Banded candidates + exact-Jaccard verify over an ``(id, sh)``
    set frame — the LSH tail shared VERBATIM by ``minhash_lsh_pairs``
    (text shingles) and ``set_similarity_pairs`` (any array column), so
    the two fronts cannot drift (the hamming_banded_pairs factoring
    precedent).  ``sh_df`` is read three times: callers pass it
    :func:`cached`.  See minhash_lsh_pairs for the plan-shape notes."""
    # The band frame carries ONLY (id, band, band_key): shingle arrays must
    # not ride the ×bands explode or the self-join shuffle — at 100 TB that
    # would push ~2·bands× the corpus shingle bytes through the network for
    # candidates that are mostly discarded.  Shingles are re-joined once per
    # side AFTER the candidate pairs are deduped (two narrow hash joins
    # whose shuffle width is 1× corpus shingle bytes each, and whose
    # pairs side is only the surviving candidates).
    banded = _banded_minhash_keys(sh_df, num_hashes, bands)
    left = banded.alias("a")
    right = banded.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sh_df.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh_df.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def set_similarity_pairs(
    df: DataFrame,
    id_col: str = "id",
    set_col: str = "items",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Generic set-similarity join over ANY ``array<string>`` column —
    market baskets, tag sets, feature bags — not just text: the exact
    MinHash-LSH machinery of :func:`minhash_lsh_pairs` with the
    shingling stage replaced by the caller's sets (elements are
    md5-hashed as strings; duplicates within a set are dropped — KMV
    precedent: Jaccard is over DISTINCT elements).  Empty and NULL sets
    are filtered before banding (a [] set would degenerate-collide in
    every band — the same mega-bucket hazard the text front filters
    with its content regex).  Output: ``(id_a, id_b, jaccard)`` with
    exact-Jaccard verification ≥ ``jaccard_threshold``."""
    sh_df = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.col(set_col)).alias("sh"),
    ).filter(F.col("sh").isNotNull() & (F.size("sh") > 0))
    n_part = spread_width(df.sparkSession)
    return _banded_jaccard_pairs(
        cached(sh_df.repartition(n_part, "id")), num_hashes, bands, jaccard_threshold
    )


def fuzzy_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 24,
    bands: int = 8,
    k: int = 3,
    jaccard_threshold: float = 0.5,
    adaptive: bool = False,
) -> DataFrame:
    """End-to-end fuzzy deduplication — the composed flagship pipeline:

        LSH banding (candidate generation, linear)
        → exact shingle-Jaccard verify inside candidate buckets
        → connected components over the verified pairs
        → canonical-document selection (min doc id per cluster)

    Returns one row per input document:
    ``(doc_id, cluster_id, cluster_size, is_canonical)`` where
    ``cluster_id`` is the minimum doc id in the duplicate cluster (a
    singleton document is its own cluster) and ``is_canonical`` marks the
    one document per cluster a dedup pass would keep.

    Scale shape: every stage is the linear form — banded equi-join for
    candidates (no all-pairs), Pregel-style min-label propagation for
    components (one shuffle per round, O(diameter) rounds — dup clusters
    are near-cliques so diameter ≲ 3), and the final labeling is one join
    plus one window.  The default 24 hashes × 8 bands (3 rows/band)
    pushes the s-curve miss probability for a 0.9-Jaccard pair below
    1e-4 while keeping sub-0.1-Jaccard collisions ~0.3%.
    """
    from kafka_merge_purge_spark.operators.components import connected_components

    # connected_components fully materializes the pair graph (driver
    # union-find collect or checkpointed Pregel rounds), so the shingle
    # cache has served its three uses when the scope ends (r6 review)
    with cache_scope():
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, num_hashes, bands, k, jaccard_threshold, adaptive=adaptive
        )
        comps = connected_components(pairs)
    docs = df.select(F.col(id_col))
    labeled = docs.join(comps, docs[id_col] == comps["node"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return labeled.select(
        F.col(id_col),
        F.col("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def minhash_lsh_pairs_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    jaccard_threshold: float = 0.7,
    adaptive: bool = False,
) -> DataFrame:
    """Cross-corpus fuzzy-dup candidates: which NEW documents near-match
    an existing REFERENCE corpus — the incremental-ingest form of
    ``minhash_lsh_pairs`` (dedup a fresh crawl against data already in
    the training set without re-pairing the reference against itself).

    Output: (new_id, ref_id, jaccard), one row per qualifying cross
    pair.  Identical signature/banding math as the self-join form, so a
    pair scores the same Jaccard here as it would there; the join is
    bipartite (new × ref on (band, band_key)) — no new×new or ref×ref
    pairs, and reference band keys can be precomputed/persisted between
    ingests.  Same shuffle-width rule: band frames carry
    ``(id, band, band_key)`` only, shingles re-join per deduped
    candidate side at 1× width.  Each side's shingle frame appears
    twice in the plan (banding + re-join), so, as in
    ``minhash_lsh_pairs``, each side is cached once (MEMORY_AND_DISK,
    LRU-evictable).  ``adaptive=True``
    runs the multilingual shingle stage on BOTH sides (r6 review: the
    incremental-ingest form used to keep silently dropping CJK docs
    after the self-join form was fixed).
    """
    n_part = spread_width(new_df.sparkSession)
    content_re = r"[\p{L}\p{Nd}]" if adaptive else "[a-zA-Z0-9]"

    def prep(df: DataFrame) -> DataFrame:
        return cached(
            shingle_frame(
                df.filter(F.col(text_col).rlike(content_re)).repartition(
                    n_part, id_col
                ),
                text_col,
                id_col,
                k,
                adaptive=adaptive,
            )
        )

    sh_new, sh_ref = prep(new_df), prep(ref_df)
    banded_new = _banded_minhash_keys(sh_new, num_hashes, bands)
    banded_ref = _banded_minhash_keys(sh_ref, num_hashes, bands)
    cand = (
        banded_new.select(
            F.col("id").alias("new_id"), "band", "band_key"
        )
        .join(
            banded_ref.select(F.col("id").alias("ref_id"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select("new_id", "ref_id")
        .dropDuplicates(["new_id", "ref_id"])
    )
    pairs = cand.join(
        sh_new.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a")), "new_id"
    ).join(sh_ref.select(F.col("id").alias("ref_id"), F.col("sh").alias("sh_b")), "ref_id")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "ref_id", "jaccard")
    )


def embedding_fuzzy_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    candidates: str = "lsh",
    **near_dup_kwargs,
) -> DataFrame:
    """End-to-end embedding deduplication — the vector twin of
    ``fuzzy_dedup``:

        near-dup pairs → connected components over the pair graph
        → canonical-vector selection (min id per cluster)

    ``candidates`` picks the pair source (r5 verdict headline — the
    bucketed generators are now composed in, mirroring how
    ``minhash_lsh_pairs`` feeds ``fuzzy_dedup`` for text):

    - ``"lsh"`` (default) / ``"ivf"`` — bucketed candidate generation
      (:func:`embedding_ann_pairs`): pairs come from sign-bit LSH
      tables or multi-probe IVF cells, then the SAME quantized exact
      scorer runs within candidates only.  Approximate (recall pinned
      in pytest vs the exact form on a planted near-dup corpus); the
      100 TB default — work scales with bucket collisions, not n²
      (r6 verdict: the default now matches the docstring's posture;
      measured slope 1.43× at the 10× scale-up vs 26× for exact).
    - ``"exact"`` — all-pairs quantized scorer
      (:func:`embedding_near_dup_pairs`; pass ``broadcast_max_rows=0``
      to force the distributed block form).  O(n²) work: the
      correctness baseline, only sane on bounded corpora — opt in
      explicitly where a full-recall oracle matters more than cost.

    Extra ``near_dup_kwargs`` are forwarded to the chosen pair source.

    Returns one row per input vector:
    ``(vec_id, cluster_id, cluster_size, is_canonical)`` with the same
    labeling semantics as the text flagship.
    """
    from pyspark.sql import Window

    from kafka_merge_purge_spark.operators.components import connected_components

    # ADVICE r7: the default flipped from 'exact' to 'lsh' in r7 — a
    # caller still passing the EXACT path's kwargs without saying
    # candidates='exact' would otherwise get an opaque TypeError from
    # embedding_candidate_pairs.  Name the default change in the error.
    _EXACT_ONLY = {"broadcast_max_rows", "block_size", "n_rows"}
    if candidates != "exact":
        stray = _EXACT_ONLY & set(near_dup_kwargs)
        if stray:
            raise TypeError(
                f"embedding_fuzzy_dedup: {sorted(stray)} only apply to the "
                "exact all-pairs scorer, but candidates="
                f"{candidates!r} (the default changed from 'exact' to 'lsh' "
                "in r7 — pass candidates='exact' to keep the legacy "
                "full-recall path, or drop these kwargs for the bucketed one)"
            )
    # the pair graph is fully materialized by connected_components, so the
    # vector cache the bucketed source made has served its reads when the
    # scope ends (same lifecycle as fuzzy_dedup's shingle cache)
    with cache_scope():
        if candidates == "exact":
            pairs = embedding_near_dup_pairs(
                emb, id_col, vec_col, threshold, **near_dup_kwargs
            )
        elif candidates in ("lsh", "ivf"):
            pairs = embedding_ann_pairs(
                emb, id_col, vec_col, threshold, method=candidates, **near_dup_kwargs
            )
        else:
            raise ValueError(
                f"embedding_fuzzy_dedup: candidates must be 'exact', 'lsh' or 'ivf', got {candidates!r}"
            )
        comps = connected_components(pairs)
    ids = emb.select(F.col(id_col))
    labeled = ids.join(comps, ids[id_col] == comps["node"], "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("cluster_id"),
    )
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        F.col(id_col),
        F.col("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("int").alias("is_canonical"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs shingle Jaccard above a threshold.

    Quadratic — the correctness oracle for MinHash-LSH, and only sane on
    small/blocked inputs.  At scale, call minhash_lsh_pairs and use this
    form inside buckets only."""
    n_part = spread_width(df.sparkSession)
    sh = shingle_frame(df.repartition(n_part, id_col), text_col, id_col, k)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size(F.array_union("a.sh", "b.sh"))
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """32-bit SimHash: per-token 60-bit md5 hash; fingerprint bit j is set
    iff at least half the tokens have bit j set.

    The md5 token hashing stays a JVM expression (one ``transform``
    pass), then a single ``mapInPandas`` does the ``bits``-wide majority
    vote in numpy — one Arrow-batched popcount in place of ``bits``
    interpreted array passes per row, ~4x faster at sf0.1 and flat in
    ``bits``.  Pure integer math, so the DuckDB oracle replays it
    bit for bit."""
    n_part = spread_width(df.sparkSession)
    df = df.repartition(n_part, id_col)
    toks = F.array_distinct(tokens(normalize(F.col(text_col))))
    hashes = F.transform(toks, lambda t: md5_int(t))

    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    weights = (1 << np.arange(bits, dtype=np.int64))
    shifts = np.arange(bits, dtype=np.int64)

    def vote(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, hs in enumerate(pdf["_hashes"]):
                if hs is None:
                    # NULL text → NULL hashes → fingerprint 0
                    fps[i] = 0
                    continue
                h = np.asarray(hs, dtype=np.int64)
                ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
                fps[i] = (weights * (2 * ones >= len(h))).sum()
            yield pd.DataFrame({id_col: pdf[id_col], "simhash": fps})

    hashed = df.select(F.col(id_col), hashes.alias("_hashes"))
    return hashed.mapInPandas(vote, schema=f"{id_col} long, simhash long")


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance with EXACT recall
    at linear cost: the fingerprint is split into ``max_hamming + 1``
    disjoint bit-bands, and by pigeonhole a pair within ``max_hamming``
    differing bits can disagree in at most ``max_hamming`` bands — so it
    MUST match exactly on at least one band.  Candidates come from a
    banded equi-join (cost ∝ band collisions, not n²); verification is
    one ``bit_count(xor)`` per candidate.  Unlike MinHash-LSH banding
    this is not probabilistic: no qualifying pair can be missed.

    Degenerate documents (no alphanumerics → fingerprint 0) are dropped
    up front, mirroring minhash_lsh_pairs' mega-bucket guard.  The
    fingerprint is a single int64, so carrying it through the band join
    is 8 bytes/row — none of the shingle-array width concerns apply.
    """
    fp = simhash(df.filter(F.col(text_col).rlike("[a-zA-Z0-9]")), text_col, id_col, bits)
    return hamming_banded_pairs(fp, id_col=id_col, fp_col="simhash",
                                bits=bits, max_hamming=max_hamming)


def hamming_banded_frame(
    fp_df: DataFrame,
    id_col: str = "id",
    fp_col: str = "fp",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """The pigeonhole band projection shared by the batch pair join and
    the streaming near-dup twin (r8 verdict item 6): ``(id, fp)`` → one
    row per band ``(id, fp, band, band_key)``, where band ``i`` is the
    ``i``-th of ``max_hamming + 1`` disjoint bit spans (wider spans
    first when ``bits`` doesn't divide evenly).  All NARROW stages
    (filter, explode of a literal-width struct array), so it runs
    unchanged on a streaming frame — batch and stream bucket the same
    fingerprint identically BY CONSTRUCTION, not by parallel math.
    NULL fingerprints drop (no band key)."""
    n_bands = max_hamming + 1
    fp = fp_df.filter(F.col(fp_col).isNotNull())
    spans, start = [], 0
    for i in range(n_bands):
        width = bits // n_bands + (1 if i < bits % n_bands else 0)
        spans.append((i, start, width))
        start += width
    return fp.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(fp_col, s)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("band_key"),
                    )
                    for i, s, w in spans
                ]
            )
        ).alias("bk"),
    ).select(
        "id", "fp", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def hamming_banded_pairs(
    fp_df: DataFrame,
    id_col: str = "id",
    fp_col: str = "fp",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic pigeonhole-banded Hamming pair join over ANY int64
    fingerprint frame ``(id, fingerprint)`` — factored out of
    :func:`simhash_hamming_pairs` (r7 verdict item 2) so other
    fingerprint families (the perceptual image aHash,
    multimodal.decode_image_ahash) reuse the same EXACT-recall
    machinery: ``max_hamming + 1`` disjoint bit-bands, a banded
    equi-join (cost ∝ band collisions, not n²), one ``bit_count(xor)``
    verification per candidate.  NULL fingerprints are dropped (no
    band key).  The fingerprint is 8 bytes/row through the band join.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    banded = hamming_banded_frame(fp_df, id_col, fp_col, bits, max_hamming)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_banded_pairs_words(
    fp_df: DataFrame,
    id_col: str = "id",
    fp_col: str = "fp_words",
    words: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Pigeonhole-banded Hamming pair join over MULTI-WORD fingerprints
    (``array<long>``, 64 bits per word) — the keyspace fix for
    dense-fingerprint corpora at scale (r9 BENCH_SCALE: the single-word
    56-bit aHash gives 8-bit band keys, ≤256 buckets per band; once a
    corpus outgrows that the candidate join reverts to n² — measured
    1.4 M → 142 M candidates at a 10× scale-up with max bucket 6 341).

    Bands: ``ceil((max_hamming + 1) / words)`` per word, each a whole
    bit span INSIDE one word (key extraction stays a narrow
    shiftrightunsigned + mask — logical shift, since bit 63 rides the
    sign).  Total bands ≥ ``max_hamming + 1``, so the pigeonhole
    exact-recall argument is unchanged: ≤ ``max_hamming`` differing
    bits can dirty at most ``max_hamming`` bands, leaving ≥1 clean
    band to collide on.  The default 4-word / 8-band geometry yields
    32-bit keys — collisions mean near-duplicate content, not keyspace
    exhaustion.  Verification sums ``bit_count(xor)`` across words via
    one zip_with/aggregate expression.  NULL fingerprint arrays drop.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``."""
    bands_per_word = -(-(max_hamming + 1) // words)
    width = 64 // bands_per_word
    fp = fp_df.filter(F.col(fp_col).isNotNull())
    structs = []
    for w in range(words):
        for b in range(bands_per_word):
            s = b * width
            wd = width if b < bands_per_word - 1 else 64 - s
            key = F.shiftrightunsigned(F.col(fp_col)[w], s)
            if wd < 64:
                key = key.bitwiseAND(F.lit((1 << wd) - 1))
            structs.append(
                F.struct(
                    F.lit(w * bands_per_word + b).alias("band"),
                    key.alias("band_key"),
                )
            )
    banded = fp.select(
        F.col(id_col).alias("id"),
        F.col(fp_col).alias("fp"),
        F.explode(F.array(*structs)).alias("bk"),
    ).select(
        "id", "fp", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.aggregate(
        F.zip_with("fp_a", "fp_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    jaccard_threshold: float = 0.3,
    bits: int = 32,
    bucket_bits: int = 6,
) -> DataFrame:
    """Sorted-neighborhood dedup (SNM, Hernández/Stolfo): order the
    corpus by a locality-preserving fingerprint (SimHash — near-dup
    texts get near-equal fingerprints, so they sort adjacently), then
    compare each document ONLY to its ``window`` successors in that
    order and verify the candidates with exact shingle Jaccard.  The
    third classic dedup family next to MinHash banding (probabilistic
    buckets) and SimHash bit-banding (pigeonhole bands): candidate
    count is exactly ``n·window`` — fully deterministic cost, the knob
    real pipelines reach for when bucket-skew risk must be zero.

    Scale shape — the global sort rank is computed WITHOUT a
    single-task global window (the same two-level prefix sum as
    text.pack_sequences): fingerprints bucket by their top
    ``bucket_bits`` bits (bucket order ≡ fingerprint prefix order, so
    bucket-local ranks + bucket offsets compose to the exact global
    ``row_number() OVER (ORDER BY simhash, id)``); the ≤2^bucket_bits
    bucket counts are the only driver state.  Neighbor pairing is a
    binned range join on ``floor(rank/window)`` (each row joins its own
    and the next rank block — the q_range_join_binned pattern), and
    shingles re-join per candidate side at 1× width as everywhere else.

    Output: (id_a, id_b, jaccard) with id_a < id_b, one row per
    in-window pair at or above the threshold — SQL-expressible end to
    end, so the DuckDB oracle hash-checks the whole operator.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    fp = simhash(df.filter(F.col(text_col).rlike("[a-zA-Z0-9]")), text_col, id_col, bits)
    # the fingerprint frame feeds BOTH the bucket-count pass and the
    # ranked frame — cache the 16-byte-wide rows instead of re-running
    # the md5 vote twice (minhash_lsh_pairs' shingle-cache A/B trade,
    # same verdict)
    fp = cached(fp)
    bucket = F.shiftright("simhash", bits - bucket_bits)
    wb = Window.partitionBy("_b").orderBy("simhash", id_col)
    local = fp.withColumn("_b", bucket).withColumn("_lr", F.row_number().over(wb))
    counts = local.groupBy("_b").count().orderBy("_b").collect()
    acc, offsets = 0, []
    for r in counts:
        offsets.append((r["_b"], acc))
        acc += r["count"]
    off = spark.createDataFrame(offsets or [(0, 0)], "_b long, _off long")
    ranked = local.join(F.broadcast(off), "_b").select(
        F.col(id_col), (F.col("_off") + F.col("_lr")).alias("rank")
    )
    blk = F.floor((F.col("rank") - 1) / window)
    a = ranked.select(
        F.col(id_col).alias("_ia"),
        F.col("rank").alias("_ra"),
        F.explode(F.array(blk, blk + 1)).alias("_nb"),
    )
    b = ranked.select(
        F.col(id_col).alias("_ib"), F.col("rank").alias("_rb"), blk.alias("_nb")
    )
    cand = a.join(b, "_nb").filter(
        (F.col("_rb") > F.col("_ra")) & (F.col("_rb") <= F.col("_ra") + window)
    )
    sh = cached(  # used by both join sides
        shingle_frame(df.filter(F.col(text_col).rlike("[a-zA-Z0-9]")), text_col, id_col)
    )
    pairs = cand.join(
        sh.select(F.col("id").alias("_ia"), F.col("sh").alias("sh_a")), "_ia"
    ).join(sh.select(F.col("id").alias("_ib"), F.col("sh").alias("sh_b")), "_ib")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return pairs.select(
        F.least("_ia", "_ib").alias("id_a"),
        F.greatest("_ia", "_ib").alias("id_b"),
        F.round(inter / union, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= jaccard_threshold)


#: component quantization scale for the exact integer-dot path
QUANT_SCALE = 1_000_000


#: above this corpus size the broadcast fast path would collect too much
#: to the driver; switch to the distributed block-pair GEMM.  100k rows ×
#: 64-d float64 ≈ 50 MB as Arrow — a sane driver ceiling (the old 500k
#: bound meant multi-GB of Python Row objects).
BROADCAST_MAX_ROWS = 100_000
#: rows per GEMM block on the distributed path (2 blocks × dim floats per
#: task — a few MB at dim 64..4096)
DEFAULT_BLOCK_SIZE = 8_192


def _quantize(mat):
    import numpy as np

    return np.floor(mat * QUANT_SCALE + 0.5).astype(np.int64)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    broadcast_max_rows: int = BROADCAST_MAX_ROWS,
    block_size: int = DEFAULT_BLOCK_SIZE,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact all-pairs form).

    Engine-portable determinism without per-pair expression folds:
    components are quantized to int64 (``floor(x·1e6 + 0.5)`` — elementwise
    float64, bit-identical everywhere), so every dot product is an exact
    integer < 2⁵³.  Exact integers are order-independent under summation in
    int64 *and* float64, which makes a vectorized numpy GEMM safe against
    the DuckDB oracle's fold — the only float math left is the final
    ``round(dot/(√aa·√bb), 6)``, identical elementwise on both engines.

    Two physical plans, same exact result:

    * corpus ≤ ``broadcast_max_rows`` — broadcast fast path: the quantized
      corpus is broadcast and ``mapInPandas`` streams partitions through a
      ``batch × corpus`` integer GEMM.  No shuffle, no per-pair rows.
    * larger — distributed block-pair GEMM (no driver collect): rows are
      hashed into ``⌈n/block_size⌉`` blocks, the tiny (b1 ≤ b2) block-pair
      table is broadcast-joined against the corpus to tag each row with
      every pair it participates in, and one shuffle on ``(b1, b2)`` lands
      both blocks of a pair in a single ``applyInPandas`` task that emits
      only above-threshold pairs.  Data replication is ×⌈n/block_size⌉ —
      the inherent cost of *exact* all-pairs; for approximate-at-scale use
      the LSH/IVF bucketing in operators/similarity.py as the candidate
      generator and this quantized scorer inside buckets.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    # Plan picking without a dedicated count scan (r3 verdict item 7): a
    # ``n_rows`` hint above the broadcast bound skips the probe entirely;
    # anything else (unhinted, or hinted-small) goes through the
    # ``limit(broadcast_max_rows + 1)`` probe — CollectLimit reads
    # partitions incrementally and stops at the limit, so a 100 TB corpus
    # costs one bounded read, not a full scan.  When the probe fits it IS
    # the broadcast collect (no second job).  The collect stays
    # limit-guarded even WITH a hint, so an underestimated hint falls
    # through to the distributed path instead of collecting unbounded
    # data to the driver (r4 advice); the distributed path still needs
    # the exact row count for its block layout and counts only then.
    from kafka_merge_purge_spark.functions.vectors import drop_null_vectors

    emb = drop_null_vectors(emb, vec_col)
    tbl = None
    n = n_rows
    if n is None or n <= broadcast_max_rows:
        probe = emb.select(id_col, vec_col).limit(broadcast_max_rows + 1).toArrow()
        if probe.num_rows <= broadcast_max_rows:
            tbl = probe
        else:
            n = None  # the hinted-small guess was wrong — recount below
    if tbl is None and n is None:
        n = emb.count()
    if tbl is not None and tbl.num_rows == 0:
        # empty corpus: no pairs — return the typed empty frame instead
        # of letting np.stack choke on a zero-length list
        return emb.sparkSession.createDataFrame([], "id_a long, id_b long, cos double")
    if tbl is not None:
        # Arrow collect: columnar batches, no per-row Python Row objects
        ids = tbl.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
        mat = np.stack(tbl.column(vec_col).to_pylist()).astype(np.float64)
        q = _quantize(mat)
        aa = (q * q).sum(axis=1)  # exact self-dots
        bc = emb.sparkSession.sparkContext.broadcast((ids, q, aa))

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c_ids, c_q, c_aa = bc.value
            for pdf in batches:
                if pdf.empty:
                    continue
                b_ids = pdf[id_col].to_numpy(dtype=np.int64)
                b_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                b_q = _quantize(b_mat)
                b_aa = (b_q * b_q).sum(axis=1)
                dots = b_q @ c_q.T  # exact int64 (|x|≤~2e6, 64 dims → < 2^53)
                cos = np.round(
                    dots / (np.sqrt(b_aa)[:, None] * np.sqrt(c_aa)[None, :]), 6
                )
                keep = (b_ids[:, None] < c_ids[None, :]) & (cos >= threshold)
                ai, bj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "id_a": b_ids[ai],
                        "id_b": c_ids[bj],
                        "cos": cos[ai, bj],
                    }
                )

        return emb.select(id_col, vec_col).mapInPandas(
            score, schema="id_a long, id_b long, cos double"
        )

    # --- distributed block-pair GEMM (corpus never touches the driver) ---
    spark = emb.sparkSession
    n_blocks = max(1, -(-n // block_size))  # ceil; ≥1 guards pmod-by-zero
    data = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).cast("long").alias("_blk"),
    )
    b1 = spark.range(n_blocks).select(F.col("id").alias("b1"))
    b2 = spark.range(n_blocks).select(F.col("id").alias("b2"))
    bpairs = b1.crossJoin(b2).filter(F.col("b1") <= F.col("b2"))
    # Each row joins every pair its block is part of; bpairs is tiny so the
    # joins stay broadcast (no shuffle of the corpus until the groupBy).
    side_a = data.join(F.broadcast(bpairs), data["_blk"] == F.col("b1")).select(
        "b1", "b2", F.lit(0).alias("_side"), "_id", "_vec"
    )
    side_b = (
        data.join(F.broadcast(bpairs.filter(F.col("b1") != F.col("b2"))), data["_blk"] == F.col("b2"))
        .select("b1", "b2", F.lit(1).alias("_side"), "_id", "_vec")
    )
    tagged = side_a.unionByName(side_b)

    def gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_side"] == 0]
        b = pdf[pdf["_side"] == 1]
        # diag must come from the GROUP KEY, not b.empty: an off-diagonal
        # group whose b2 block hashed no rows would otherwise be treated
        # as diagonal and re-emit b1's intra-block pairs (duplicates of
        # the true (b1,b1) group's output)
        diag = bool(pdf["b1"].iat[0] == pdf["b2"].iat[0])
        if a.empty or (not diag and b.empty):
            # a hash-gap block on either side → nothing to pair
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []})
        a_ids = a["_id"].to_numpy(dtype=np.int64)
        a_q = _quantize(np.stack([np.asarray(v, dtype=np.float64) for v in a["_vec"]]))
        a_aa = (a_q * a_q).sum(axis=1)
        if diag:
            b_ids, b_q, b_aa = a_ids, a_q, a_aa
        else:
            b_ids = b["_id"].to_numpy(dtype=np.int64)
            b_q = _quantize(np.stack([np.asarray(v, dtype=np.float64) for v in b["_vec"]]))
            b_aa = (b_q * b_q).sum(axis=1)
        dots = a_q @ b_q.T
        cos = np.round(dots / (np.sqrt(a_aa)[:, None] * np.sqrt(b_aa)[None, :]), 6)
        keep = cos >= threshold
        if diag:
            # A×A contains both orientations — keep the upper triangle only.
            keep &= a_ids[:, None] < b_ids[None, :]
        ai, bj = np.nonzero(keep)
        lo = np.minimum(a_ids[ai], b_ids[bj])
        hi = np.maximum(a_ids[ai], b_ids[bj])
        m = lo < hi  # drop self-pairs; orientation normalized to id_a < id_b
        return pd.DataFrame({"id_a": lo[m], "id_b": hi[m], "cos": cos[ai, bj][m]})

    return tagged.groupBy("b1", "b2").applyInPandas(
        gemm, schema="id_a long, id_b long, cos double"
    )


def embedding_candidate_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_cells: int | None = None,
    nprobe: int | None = None,
    target_cos: float = 0.95,
    target_recall: float = 0.99,
    junk_cos: float | None = None,
) -> DataFrame:
    """Bucketed candidate-pair generation for embedding dedup — the
    vector twin of the MinHash band join (``minhash_lsh_pairs``'s
    candidate stage).  Returns ``(id_a, id_b)`` with ``id_a < id_b``,
    deduplicated across buckets; NO vector payload rides the bucket
    shuffle (the frames carry ``(id, bucket-key)`` only — the same
    shuffle-width rule as the LSH top-k and the band join).

    - ``method="lsh"``: sign-bit random-hyperplane tables
      (similarity._hyperplanes/_sign_signature_frame — the SAME kernel
      the ANN search uses).  A pair is a candidate iff any of the
      ``n_tables`` tables assigns both vectors the same ``n_planes``-bit
      signature.  ``n_planes``/``n_tables`` default to None = AUTO
      (r6 verdict: the log₂(n) rule is now implemented, not advisory):
      a cheap corpus count feeds :func:`similarity.auto_lsh_params`,
      which picks the plane count that bounds random-pair collisions to
      ~O(n) per table and the table count that holds recall ≥
      ``target_recall`` for pairs at ``target_cos`` — so the candidate
      ratio stays flat as the corpus grows 100× instead of silently
      reverting toward n².  Pass explicit values to skip the count job
      and pin the geometry (the r5 fixed default was 12×16 — the auto
      rule reproduces ~that at n ≈ 5 k and keeps scaling past it).
    - ``method="ivf"``: multi-probe IVF cells — each vector is tagged
      with its ``nprobe`` max-dot centroids (narrow literal-argmax
      projection, zero shuffle to tag); a pair is a candidate iff the
      probe sets intersect.  Multi-probe (nprobe ≥ 2) is what catches
      near-dups straddling a cell boundary.  ``n_cells=None`` = AUTO:
      √n capped (:func:`similarity.auto_ivf_params`); ``nprobe=None``
      defaults to 2 here (pair generation wants cheap agreement, not
      the search path's recall-heavy 6-of-16 fraction).
    """
    from kafka_merge_purge_spark.functions.vectors import drop_null_vectors
    from kafka_merge_purge_spark.operators import similarity as sim

    emb = drop_null_vectors(emb, vec_col)
    # ADVICE r6: the empty/short-circuit frames must carry the CALLER's id
    # dtype — a hardcoded `long` diverges from the non-empty path on
    # string/int ids and breaks downstream unions that branch on emptiness.
    id_type = emb.schema[id_col].dataType.simpleString()
    empty_schema = f"id_a {id_type}, id_b {id_type}"
    if method == "lsh":
        if n_planes is None or n_tables is None:
            n = emb.count()
            if junk_cos is None:
                # r7 verdict top item: estimate the background cosine
                # from a bounded deterministic sample instead of
                # assuming the uncorrelated 0.0 junk model (which passed
                # 23% of all pairs on a templated hashed corpus)
                junk_cos = sim.estimate_junk_cos(emb, id_col, vec_col)
            auto_planes, auto_tables = sim.auto_lsh_params(
                n, n * (n - 1) / 2.0, target_cos, target_recall,
                junk_cos=junk_cos,
            )
            n_planes = auto_planes if n_planes is None else n_planes
            n_tables = auto_tables if n_tables is None else n_tables
        planes = sim._hyperplanes(emb, n_planes, n_tables, id_col, vec_col)
        if planes is None:
            return emb.sparkSession.createDataFrame([], empty_schema)
        sigs = sim._sign_signature_frame(
            emb, planes, n_tables, n_planes, id_col, vec_col, "id"
        )
        a, b = sigs.alias("a"), sigs.alias("b")
        cand = a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
    elif method == "ivf":
        if n_cells is None:
            n_cells, _ = sim.auto_ivf_params(emb.count())
        if nprobe is None:
            nprobe = 2
        cents = sim._kmeans_cells(emb, n_cells, id_col, vec_col)
        if not cents:
            return emb.sparkSession.createDataFrame([], empty_schema)
        # payload=False: the probe frame carries (id, cell_id) ONLY — a
        # downstream .select() could NOT prune the vector out of the
        # pandas kernel's output (pruning stops at a mapInPandas schema),
        # so the payload must be dropped inside the kernel (r6 review)
        probes = sim._probe_cells(
            emb, cents, nprobe, id_col, vec_col, payload=False
        ).select(F.col("query_id").alias("id"), "cell_id")
        a, b = probes.alias("a"), probes.alias("b")
        cand = a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.id") < F.col("b.id")),
        )
    else:
        raise ValueError(f"embedding_candidate_pairs: unknown method {method!r}")
    return (
        cand.select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def score_candidate_pairs(
    cand: DataFrame,
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exact quantized cosine over an ``(id_a, id_b)`` candidate frame —
    bit-identical math to :func:`embedding_near_dup_pairs` (same
    ``_quantize`` + integer dot + ``np.round``), so the bucketed path's
    scores EQUAL the exact path's on every pair both emit.  Vectors
    enter only here, after the candidates are deduped: two hash joins at
    1× vector width, then a rowwise (not all-pairs) Arrow kernel.
    """
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    paired = cand.join(va, "id_a").join(vb, "id_b")
    # ADVICE r6: emit the caller's id dtype, not a hardcoded long
    id_type = emb.schema[id_col].dataType.simpleString()

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a_q = _quantize(np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_va"]]))
            b_q = _quantize(np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_vb"]]))
            dots = (a_q * b_q).sum(axis=1)  # rowwise exact int64
            aa = (a_q * a_q).sum(axis=1)
            bb = (b_q * b_q).sum(axis=1)
            cos = np.round(dots / (np.sqrt(aa) * np.sqrt(bb)), 6)
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cos": cos}
            )

    return paired.mapInPandas(
        score, schema=f"id_a {id_type}, id_b {id_type}, cos double"
    ).filter(F.col("cos") >= threshold)


def embedding_ann_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    **candidate_kwargs,
) -> DataFrame:
    """Bucketed (approximate) embedding near-dup pairs: LSH/IVF
    candidate generation → exact quantized verification within
    candidates only — the scale path that replaces the O(n²)
    ``embedding_near_dup_pairs`` default at 100 TB.  Output matches the
    exact form's ``(id_a, id_b, cos)`` schema and scoring math; recall
    (which pairs are found at all) is the only approximation, pinned in
    pytest against the exact form on a planted near-dup corpus.

    The verification ``threshold`` doubles as the candidate stage's
    ``target_cos`` (unless explicitly overridden): the auto-parameter
    solver then sizes planes/tables so pairs AT the decision boundary
    are recovered at the recall target — tighter thresholds buy
    sharper (cheaper) buckets automatically.

    The ``(id, vec)`` projection is cached (the measured choice — r7
    A/B in BENCH_SCALE.md; MEMORY_AND_DISK, like minhash_lsh_pairs'
    shingles): the frame is read up to four times (auto-parameter
    count, signature kernel, and the two scorer joins), and when
    ``emb`` is a DERIVED pipeline (hashed embeddings straight off text)
    each re-read re-runs the whole upstream."""
    candidate_kwargs.setdefault("target_cos", threshold)
    emb = cached(emb.select(id_col, vec_col))
    cand = embedding_candidate_pairs(emb, id_col, vec_col, method, **candidate_kwargs)
    return score_candidate_pairs(cand, emb, id_col, vec_col, threshold)


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k: int | None = None,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, the
    public cluster-then-prune recipe; r7 verdict item 3): k-means cells
    bound the quadratic, then WITHIN each cell every pair is scored
    with the exact quantized cosine and any row with a lower-id in-cell
    neighbor at ``cos ≥ threshold`` is pruned — the deterministic
    keep-lowest-id variant of the paper's keep-one-per-duplicate-group
    rule (no iteration order to tune, SQL-replayable).

    Plan: ``cluster.kmeans_assign`` (narrow literal-centroid
    projection; pass ``centroids`` from a prior fit to amortize, the
    x_kmeans pattern) → ONE shuffle of ``(id, cell, vector)`` groups
    each cell onto an executor → a chunked exact int64 GEMM over the
    cell's quantized matrix marks the pruned rows.  There is no pair
    frame, so each vector ships once, not once per candidate pair.  The
    arithmetic is bit-identical to :func:`score_candidate_pairs`
    (``_quantize`` → integer dot → ``np.round(dot/(√aa·√bb), 6)`` with
    per-row sqrts), so the DuckDB hash oracle agrees exactly.

    At 100 TB: cell population — not corpus size — bounds the pairwise
    work (cells ~n/k rows; k ~ √n balances, exactly the IVF sizing
    rule).  ``k=None`` (the default) APPLIES that rule: one bounded
    count feeds ``similarity.auto_ivf_params`` so the unconfigured
    operator stays ~O(n^1.5) as the corpus grows instead of the
    quadratic-by-default a fixed k degenerates to at 100× (r8 verdict
    item 3 — the same class of fix as the junk_cos auto-estimation).
    Pass explicit ``k`` to pin the geometry (the oracle gate does, so
    its unrolled-Lloyd SQL stays tractable).

    Rows whose vector is NULL are dropped (they belong to no cell —
    same contract as ``kmeans_cluster_stats``).  Output: one row per
    surviving input vector: ``(id_col, cell_id, is_kept int)`` with
    ``is_kept=0`` rows being the pruned semantic duplicates (kept for
    attribution; filter ``is_kept=1`` for the deduped corpus).
    """
    from kafka_merge_purge_spark.operators.cluster import kmeans_assign

    if k is None and centroids is None:
        from kafka_merge_purge_spark.operators.similarity import auto_ivf_params

        k, _ = auto_ivf_params(emb.filter(F.col(vec_col).isNotNull()).count())
    assigned = kmeans_assign(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, centroids=centroids
    )
    tagged = assigned.filter(F.col("cluster_id").isNotNull()).select(
        F.col(id_col), F.col("cluster_id").alias("cell_id"), F.col(vec_col)
    )
    # chunking bounds kernel memory at ~chunk·|cell| int64s
    import numpy as np
    import pandas as pd

    id_type = emb.schema[id_col].dataType.simpleString()

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        n = len(pdf)
        q = _quantize(np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]))
        sa = np.sqrt((q * q).sum(axis=1))
        dropped = np.zeros(n, dtype=bool)
        chunk = max(1, min(2048, n))
        for s in range(1, n, chunk):
            e = min(n, s + chunk)
            # rows s..e-1 each check every EARLIER (lower-id) row
            dots = q[s:e] @ q[:e].T  # exact int64 (ops < 2^63)
            cos = np.round(dots / (sa[s:e, None] * sa[None, :e]), 6)
            ge = cos >= threshold
            # mask out self and later-or-equal rows within the block
            idx = np.arange(s, e)
            ge &= np.arange(e)[None, :] < idx[:, None]
            dropped[s:e] |= ge.any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell_id": pdf["cell_id"],
                "is_kept": (~dropped).astype("int32"),
            }
        )

    return tagged.groupBy("cell_id").applyInPandas(
        prune, schema=f"{id_col} {id_type}, cell_id int, is_kept int"
    )


# --------------------------------------------------------------------------
# Substring-level duplicate-span detection
# --------------------------------------------------------------------------


def positional_gram_hashes(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    adaptive: bool = False,
) -> DataFrame:
    """``(id, pos, h)`` — 1-based positional k-gram 60-bit hashes of the
    normalized token stream (NON-distinct: position matters here, unlike
    :func:`shingle_frame`'s set form).

    JVM normalization/tokenization (string semantics cannot diverge),
    then ONE ``mapInPandas`` pass that slices and hashes grams in native
    Python — ``hashlib.md5`` on the UTF-8 gram reproduces the
    JVM/DuckDB ``md5`` byte-for-byte, and ``int(hexdigest[:15], 16)`` IS
    :func:`md5_int`.  The interpreted sequence→slice→concat_ws→md5 HOF
    chain made the first cut of duplicate_spans ~10× slower than the
    rest of the dedup family (same lesson as shingle_frame /
    repetition_score).

    Documents shorter than k tokens emit their whole text as the single
    gram at pos 1 (mirroring :func:`shingles`); NULL text folds to the
    ``""`` gram.

    ``adaptive=True`` (r6 verdict item 6) swaps the token stage for the
    multilingual form (normalize_unicode + tokens_adaptive) — identical
    on pure-ASCII text (the shingle twin's identity property), while
    unsegmented scripts gram at codepoint-bigram granularity instead of
    one-gram-per-document.
    """
    if adaptive:
        from kafka_merge_purge_spark.operators.text import tokens_adaptive

        tok_expr = tokens_adaptive(normalize_unicode(F.col(text_col)))
    else:
        tok_expr = tokens(normalize(F.col(text_col)))
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    id_type = dict(df.dtypes)[id_col]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, tk in zip(pdf["id"], pdf["_toks"]):
                t = [""] if tk is None else list(tk)
                n = len(t)
                for p in range(max(n - k + 1, 1)):
                    g = " ".join(t[p : p + k])
                    ids.append(i)
                    poss.append(p + 1)
                    hs.append(int(md5(g.encode()).hexdigest()[:15], 16))
            if ids:
                yield pd.DataFrame({"id": ids, "pos": poss, "h": hs})

    return df.select(F.col(id_col).alias("id"), tok_expr.alias("_toks")).mapInPandas(
        gen, schema=f"id {id_type}, pos int, h long"
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    adaptive: bool = False,
) -> DataFrame:
    """Maximal duplicated token spans: for each document, the maximal runs
    of ≥ ``k`` consecutive tokens whose every k-gram also occurs in at
    least ``min_docs`` distinct documents — the *substring*-level dedup
    tier (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"), below document-level (exact_dedup) and near-document-level
    (MinHash LSH): it localizes WHICH passage is boilerplate, so the
    cleaner can cut the span instead of dropping the document.

    Spark-first shape, per stage:
      1. positional k-gram hashes via :func:`positional_gram_hashes` —
         one vectorized kernel; the full-corpus exchange carries 8-byte
         hashes + positions, never gram strings;
      2a. CANDIDATE membership on the 60-bit hash.  For the default
         ``min_docs=2``, a single window over ``h`` decides it as
         ``min(id) ≠ max(id)`` — ONE exchange on a near-uniform 8-byte
         key, no aggregate+join double-scan of the gram stream.  For
         ``min_docs > 2``, the generic count-distinct aggregate +
         membership join.  Candidates are a SUPERSET of the truth
         (equal grams always share a hash);
      2b. EXACT verification on the gram TEXT.  The 60-bit hash alone
         is NOT a correctness guarantee at scale: at ~10¹² grams
         (100 TB) birthday collisions are expected in the tens of
         thousands, and each one would fabricate a duplicate span that
         :func:`scrub_duplicate_spans` then REMOVES from a legitimate
         document — silent data loss in the cleaner.  So candidate
         positions re-slice their gram text from the doc's token array
         (positions collected per doc → ONE array copy per doc, grams
         re-cut in-expression) and membership is re-decided on the
         gram string itself.  Exchange volume here is candidate-bound
         (duplicated mass + collision noise), never corpus-bound —
         the same verify posture as :func:`fuzzy_dedup`'s exact-Jaccard
         re-check after banding.  GUARANTEE: emitted spans are decided
         by token-level equality; a hash collision can cost cycles,
         never text;
      3. island detection per document: ``pos − row_number()`` over a
         window partitioned by doc — bounded by document length;
      4. span rollup: min/max positions per island; adjacent/overlapping
         duplicated grams coalesce into ONE maximal span.

    Output: (id_col, span_start, span_end, span_len) per maximal span,
    positions 1-based token indices, span_end inclusive.
    """
    from pyspark.sql import Window

    if min_docs < 2:
        # min_docs=1 would mark EVERY gram duplicated (each doc is its own
        # 1 document) — reject rather than silently treating it as 2.
        raise ValueError("duplicate_spans requires min_docs >= 2")
    # one tokenizer expression end-to-end: the verify tier's gram re-cut
    # and the span_end cap must see exactly the hashing kernel's tokens
    if adaptive:
        from kafka_merge_purge_spark.operators.text import tokens_adaptive

        tok_expr = tokens_adaptive(normalize_unicode(F.col(text_col)))
    else:
        tok_expr = tokens(normalize(F.col(text_col)))
    g = positional_gram_hashes(
        df, k=k, text_col=text_col, id_col=id_col, adaptive=adaptive
    )
    if min_docs == 2:
        wh = Window.partitionBy("h")
        cand = (
            g.withColumn("_dup", F.min("id").over(wh) != F.max("id").over(wh))
            .filter(F.col("_dup"))
            .drop("_dup")
        )
    else:
        dup = (
            g.groupBy("h")
            .agg(F.count_distinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("h")
        )
        cand = g.join(dup, "h")
    # stage 2b: exact token-level verification (see docstring) — re-cut
    # each candidate position's gram from its doc's token array and
    # re-decide membership on the gram STRING.  coalesce-to-[""] mirrors
    # the hashing kernel's NULL-text fold (single "" gram at pos 1).
    cand_pos = cand.groupBy("id").agg(F.collect_list("pos").alias("_ps"))
    tok_frame = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(tok_expr, F.array(F.lit(""))).alias("_toks"),
    )
    cand_g = (
        cand_pos.join(tok_frame, "id")
        .select(
            "id",
            F.explode(
                F.transform(
                    "_ps",
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.concat_ws(
                            " ", F.slice("_toks", p, F.lit(k))
                        ).alias("gram"),
                    ),
                )
            ).alias("_pg"),
        )
        .select("id", F.col("_pg.pos").alias("pos"), F.col("_pg.gram").alias("gram"))
    )
    if min_docs == 2:
        wg = Window.partitionBy("gram")
        d = (
            cand_g.withColumn(
                "_dup", F.min("id").over(wg) != F.max("id").over(wg)
            )
            .filter(F.col("_dup"))
            .select("id", "pos")
        )
    else:
        dupg = (
            cand_g.groupBy("gram")
            .agg(F.count_distinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("gram")
        )
        d = cand_g.join(dupg, "gram").select("id", "pos")
    wi = Window.partitionBy("id").orderBy("pos")
    islands = d.withColumn("isl", F.col("pos") - F.row_number().over(wi))
    # token counts cap span_end for sub-k documents (whose single gram is
    # the whole text): without the cap, span_end = 1 + k - 1 would claim
    # k tokens from an n<k-token doc and disagree with
    # scrub_duplicate_spans' n_dup_tokens for the same document.
    n_toks = df.select(
        F.col(id_col).alias("id"),
        F.size(tok_expr).alias("_n_toks"),
    )
    return (
        islands.groupBy("id", "isl")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("span_end_g"))
        .join(n_toks, "id")
        .select(
            F.col("id").alias(id_col),
            "span_start",
            F.least(F.col("span_end_g") + (k - 1), F.col("_n_toks")).alias("span_end"),
            (
                F.least(F.col("span_end_g") + (k - 1), F.col("_n_toks"))
                - F.col("span_start")
                + 1
            ).alias("span_len"),
        )
    )


def scrub_duplicate_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    adaptive: bool = False,
) -> DataFrame:
    """The cleaner over :func:`duplicate_spans`: REMOVE each document's
    duplicated passages and reassemble the residual text — the actual
    mutation a training-data pipeline ships (Lee et al. cut spans, not
    documents).

    Tokens join their doc's spans on the doc id (hash join; the range
    membership ``span_start ≤ pos ≤ span_end`` is a post-join filter,
    bounded by spans-per-doc), drop via left_anti, and reassemble with
    the same in-expression struct sort boilerplate_line_dedup uses —
    deterministic, no window.  Fully-scrubbed documents survive with
    empty text via the totals frame.

    Output: (id_col, n_tokens, n_dup_tokens, text_scrubbed).

    ``adaptive=True`` uses the multilingual token stage end-to-end
    (spans AND the scrub's own token explode share one tokenizer, so
    positions always line up); the reassembled text of an n-grammed
    document is a space-joined gram stream — positional, not prose —
    which is what the downstream token-level consumers expect.
    """
    spans = duplicate_spans(
        df, k=k, min_docs=min_docs, text_col=text_col, id_col=id_col,
        adaptive=adaptive,
    )
    if adaptive:
        from kafka_merge_purge_spark.operators.text import tokens_adaptive

        scrub_toks = tokens_adaptive(normalize_unicode(F.col(text_col)))
    else:
        scrub_toks = tokens(normalize(F.col(text_col)))
    toks = df.select(
        F.col(id_col),
        F.posexplode(scrub_toks).alias("pos0", "tok"),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "tok")
    spans_j = spans.select(
        F.col(id_col).alias("_sid"), "span_start", "span_end"
    )
    in_span = (
        (toks[id_col] == spans_j["_sid"])
        & (F.col("pos") >= F.col("span_start"))
        & (F.col("pos") <= F.col("span_end"))
    )
    kept = toks.join(spans_j, in_span, "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text_scrubbed"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"))
    return totals.join(reassembled, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).alias("n_dup_tokens"),
        F.coalesce("text_scrubbed", F.lit("")).alias("text_scrubbed"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "id",
    set_col: str = "items",
    threshold: float = 0.8,
    min_set_size: int = 2,
) -> DataFrame:
    """EXACT directed set-containment join via prefix filtering
    (Bayardo/Ma/Srikant 2007 "Scaling up all pairs", Chaudhuri et al.
    SSJoin): emit every ordered pair with ``|A∩B| / |A| ≥ threshold``
    — "A is (mostly) contained in B", the asymmetric near-dup relation
    Jaccard misses (a quote inside a long document, an order basket
    inside its customer's union basket — |A∩B|/|A∪B| is tiny there).

    EXACT, not approximate: if ``|A∩B| ≥ k_min = ⌈t·|A|⌉`` then A's
    ``|A| − k_min + 1`` globally-RAREST elements must intersect B
    (pigeonhole on the fixed total order), so probing only those
    prefix elements against the element index has recall 1 — the
    oracle is the naive shared-element join, no banding contract.
    The rarity order (global frequency asc, element asc) makes prefix
    probes hit short postings: candidate volume ~ Σ_A posting(rarest
    elements of A), the AllPairs bound, vs Σ_e posting(e)² for the
    naive join.  Heavily-skewed element distributions keep the win —
    the skew lives in the COMMON elements, exactly the ones prefixes
    avoid; the residual hot spot is a corpus where even rare elements
    have huge postings (then no exact algorithm beats the output size).

    Thresholding is exact-integer: ``t`` quantized to 1e-6
    (``floor(t·1e6 + 0.5)``), compare ``inter·1e6 ≥ t_q·|A|`` — no
    float division decides membership; the reported ``containment`` is
    the single rounded double the oracle replays.

    ``min_set_size`` screens degenerate tiny sets (a 1-element set is
    contained in every superset — pure noise at threshold anything).

    Output: (id_a, id_b, containment) — DIRECTED (id_a contained in
    id_b), both orientations can appear."""
    import math

    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"containment_pairs: threshold in (0, 1], got {threshold}")
    t_q = int(math.floor(threshold * 1e6 + 0.5))
    base = (
        df.select(F.col(id_col).alias("id"), F.array_distinct(set_col).alias("sh"))
        .filter(F.col("sh").isNotNull() & (F.size("sh") >= min_set_size))
    )
    # sizes ride as LONG everywhere: size() is int32 and the threshold
    # compares t_q·|A| with t_q up to 1e6 — int32 silently wraps past
    # |A| ≈ 2147 (ANSI off), flipping membership on big sets
    elems = base.select(
        "id", F.size("sh").cast("long").alias("sz"), F.explode("sh").alias("e")
    )
    freq = elems.groupBy("e").agg(F.count(F.lit(1)).alias("_c"))
    # per-set elements in global rarity order (freq asc, element asc)
    ranked = (
        elems.join(freq, "e")
        .groupBy("id", "sz")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_c", "e"))), lambda s: s["e"]
            ).alias("_ordered")
        )
    )
    k_min = F.floor((F.lit(t_q) * F.col("sz") + 999999) / F.lit(1000000.0)).cast("int")
    prefix = F.slice(F.col("_ordered"), 1, F.col("sz") - k_min + 1)
    probes = ranked.select(
        F.col("id").alias("id_a"), F.explode(prefix).alias("e")
    )
    cand = (
        probes.join(elems.select(F.col("id").alias("id_b"), "e"), "e")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    sz_a = F.size("sh_a").cast("long")
    return (
        pairs.filter(inter * F.lit(1000000).cast("long") >= F.lit(t_q) * sz_a)
        .select(
            "id_a",
            "id_b",
            F.round(inter / sz_a, 6).alias("containment"),
        )
    )


def fuzzy_dedup_best(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **fuzzy_kwargs,
) -> DataFrame:
    """:func:`fuzzy_dedup` with QUALITY-AWARE canonical selection: per
    near-dup cluster keep the member a curation pass would actually
    want — ranked by (quality ``keep`` flag DESC, token count DESC, id
    ASC) from ``text.quality_score`` — instead of the arbitrary
    minimum id.  Min-id selection silently prefers whichever duplicate
    was crawled first; on the web that is as often the truncated or
    boilerplate-wrapped copy as the clean one, so a dedup pass that
    keeps min-id degrades the surviving corpus.  The cluster KEY stays
    the min id (stable, join-friendly); only ``is_canonical`` moves.

    Scale shape: everything :func:`fuzzy_dedup` does, plus one
    node-sized quality join and one per-cluster window (duplicate
    clusters are near-cliques of bounded size — the window partition
    is small by construction, never corpus-wide).

    Output: (doc_id, cluster_id, cluster_size, is_canonical)."""
    from pyspark.sql import Window

    from kafka_merge_purge_spark.operators.text import quality_score

    labeled = fuzzy_dedup(df, text_col=text_col, id_col=id_col, **fuzzy_kwargs).drop(
        "is_canonical"
    )
    q = quality_score(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    ).select(F.col("doc_id").alias(id_col), "n_tokens", "keep")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("keep").desc(), F.col("n_tokens").desc(), F.col(id_col)
    )
    return (
        labeled.join(q, id_col, "left")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            "cluster_id",
            "cluster_size",
            (F.col("_rn") == 1).cast("int").alias("is_canonical"),
        )
    )
