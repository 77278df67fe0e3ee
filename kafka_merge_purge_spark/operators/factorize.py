"""Distributed truncated factorization of sparse matrices — the dense
half of the count-based embedding tier.

:func:`ppmi_factorize` turns the sparse shifted-PPMI rows of
:func:`~kafka_merge_purge_spark.operators.components.ppmi_from_pairs`
into DENSE k-dim vectors per word/node via randomized subspace (power)
iteration — completing the Levy & Goldberg 2014 equivalence the PPMI
docstring cites (SGNS with k negatives ≈ factorizing the ``PMI −
log k`` matrix): walks → skip-gram pairs → PPMI → **factorize** now
yields actual embeddings with no training loop, feeding every existing
dense-vector consumer (brute-force/IVF/LSH top-k, SQ8/PQ export,
semantic dedup).

Algorithm (Halko, Martinsson & Tropp 2011, "Finding structure with
randomness", Alg. 4.4 randomized subspace iteration + the standard
eigendecomposition finish):

1. ``Ω`` — a deterministic Rademacher ±1 test matrix (n_context × k'),
   k' = k + oversample, entries from md5(seed:context:j) (the repo's
   derandomization idiom — no RNG state, any engine replays it).
2. ``Y = M·Ω`` and ``power_iters`` rounds of ``Y ← M·(Mᵀ·Y)`` with
   Gram-Cholesky re-orthonormalization between products (the
   distributed stand-in for QR: G = YᵀY is k'×k', Cholesky and the
   k'×k' inverse run on the driver, Y·R⁻¹ is one Arrow-batched matmul
   over the row vectors).
3. ``Z = Mᵀ·Q`` (Q = final orthonormal Y); ``C = ZᵀZ = QᵀM MᵀQ`` is
   k'×k' → driver ``eigh`` gives the top-k singular pairs; word
   vectors = ``Q·Ũ_k·diag(σ_k^p)``, context vectors =
   ``Z·Ũ_k·diag(σ_k^{p−1})`` (``p`` = 0.5, the symmetric weighting
   Levy & Goldberg recommend for SGNS-equivalent embeddings).

Scale shape: every sparse product ``M·X`` / ``Mᵀ·X`` is ONE equi join
of the nnz rows against the (id, vec) state + one (id, j) aggregate —
shuffle volume nnz·k' doubles, the irreducible SpMM cost; state frames
are n·k' doubles, localCheckpoint-materialized per step so lineage
stays flat; the ONLY driver-side objects are k'×k' Grams (k' ~ 40 →
12 KB) — never a vocab-sized matrix.  Float sums across partitions
make the result run-to-run stable only to ~1 ulp, so the operator is
rows-only at the gate (◇, the ANN convention) and quality is pinned in
pytest: planted-block reconstruction + neighbor-recall floors vs the
sparse-cosine ground truth (x_ppmi_topk's exact path).

Reference parity note: the reference CLI (kafka-merge-purge) has no
embedding tier; this module is part of the commissioned EXT surface
(BASELINE.json:6 LLM-pipeline operators).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from kafka_merge_purge_spark.operators.iterate import materialize


def _rademacher(col, j_col, seed: int):
    """Deterministic ±1 from md5(seed:id:j) — 60 hash bits, parity."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{seed}:"),
                    col.cast("string"),
                    F.lit(":"),
                    j_col.cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (F.pmod(h, F.lit(2)) * 2 - 1).cast("double")


def _spmm(
    rows: DataFrame, state: DataFrame, kp: int, *, transpose: bool
) -> DataFrame:
    """One sparse-matrix × dense-state product.

    ``transpose=False``: out(w) = Σ_c v(w,c)·state(c) — join on the
    context side; ``transpose=True``: out(c) = Σ_w v(w,c)·state(w).

    ONE equi join + ONE wide aggregate (r15): ``groupBy(id)`` with kp
    per-dimension ``sum(vec[j]·v)`` columns reassembled into the array.
    The r14 form posexploded the scaled vector into nnz·kp (id, j, v)
    rows, aggregated them by (id, j), then re-widened with a SECOND
    (id)-keyed collect_list exchange — guide §2.3/§2.4: same shuffled
    bytes, but kp× the shuffled rows and twice the exchanges.  Map-side
    partial aggregation bounds the one exchange at n·kp doubles per map
    partition either way; the cross-partition float sum is order-free
    only to ~1 ulp, which the rows-only ◇ gate already assumes."""
    join_key, out_key = ("_c", "_w") if not transpose else ("_w", "_c")
    return (
        rows.join(state.withColumnRenamed("id", join_key), join_key)
        .groupBy(F.col(out_key).alias("id"))
        .agg(
            F.array(
                *[
                    F.sum(F.col("vec")[j] * F.col("_v")).alias(f"_s{j}")
                    for j in range(kp)
                ]
            ).alias("vec")
        )
    )


def _gram(state: DataFrame, kp: int):
    """XᵀX of an (id, vec) frame as a kp×kp numpy array: per-PARTITION
    partial Grams (Arrow), one kp²-row frame per partition, driver sum."""
    import numpy as np

    def parts(it):
        # accumulate across ALL Arrow batches of the partition and emit
        # ONE kp²-row frame (r16, closing the r15 verdict's caveat): the
        # r15 form yielded one frame per BATCH, so the driver pull was
        # task/batch-bound — at 100 TB that is millions of batches → GBs
        # through the driver.  Per-partition pre-reduction bounds the
        # collect at partitions·kp² rows by construction.
        acc = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            A = np.vstack(pdf["vec"].to_numpy())
            acc = A.T @ A if acc is None else acc + A.T @ A
        if acc is not None:
            yield pd.DataFrame(
                {"idx": np.arange(kp * kp, dtype="int64"), "val": acc.ravel()}
            )

    # partials are summed ON THE DRIVER (r15): one kp²-row frame per
    # partition — collecting them directly removes the (idx)-keyed
    # Exchange + reduce stage the old groupBy paid per Gram (3-4 Grams
    # per factorization; the float sum is cross-partition either way,
    # ~1-ulp nondeterministic, which the rows-only ◇ gate already
    # assumes — the in-partition accumulation order here matches batch
    # arrival order exactly as the r15 driver loop did)
    partial = state.select("vec").mapInPandas(parts, "idx long, val double")
    out = np.zeros(kp * kp)
    for r in partial.collect():
        out[r["idx"]] += r["val"]
    return out.reshape(kp, kp)


def _matmul(state: DataFrame, mat) -> DataFrame:
    """(id, vec) → (id, vec·mat) via one Arrow-batched numpy matmul —
    ``mat`` is a driver-side kp×m array captured in the UDF closure."""
    import numpy as np

    m = np.asarray(mat, dtype="float64")

    @pandas_udf("array<double>")
    def mm(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        A = np.vstack(v.to_numpy())
        return pd.Series(list(A @ m))

    return state.select("id", mm("vec").alias("vec"))


def _orth(state: DataFrame, kp: int) -> DataFrame:
    """Gram-Cholesky orthonormalization: Y ← Y·(chol(YᵀY)ᵀ)⁻¹, with a
    trace-scaled jitter so rank-deficient sketches (k' > rank M) stay
    factorizable — the noise columns land in the trailing eigenpairs
    and the final top-k cut discards them."""
    import numpy as np

    G = _gram(state, kp)
    tr = max(np.trace(G), 1e-30)
    L = np.linalg.cholesky(G + np.eye(kp) * (1e-10 * tr / kp))
    r_inv = np.linalg.inv(L.T)
    return materialize(_matmul(state, r_inv))


def ppmi_factorize(
    ppmi: DataFrame,
    k: int = 32,
    oversample: int = 8,
    power_iters: int = 2,
    seed: int = 42,
    center_col: str = "center",
    context_col: str = "context",
    val_col: str = "ppmi",
    side: str = "center",
    weight_exp: float = 0.5,
) -> DataFrame:
    """Dense k-dim embeddings from sparse (center, context, value) rows
    by randomized subspace iteration — see the module docstring for the
    algorithm, cost model and determinism contract.

    ``side``: ``"center"`` (default) returns word/row vectors
    ``Q·Ũ_k·diag(σ^weight_exp)``; ``"context"`` returns column vectors
    ``Z·Ũ_k·diag(σ^(weight_exp−1))``; ``"both"`` returns the union
    with a ``side`` column FROM ONE factorization — required when the
    two factors multiply together (reconstruction, dot-product
    scoring): separate calls re-factorize, and per-direction sign
    flips between runs (eigenvectors are sign-free) would corrupt
    cross products.  ``weight_exp=0.5`` is the symmetric SVD weighting
    (Levy & Goldberg 2014 §3); ``1.0`` gives classic ``U·Σ`` row
    factors.

    Output: (node, embedding array<float>) — node keeps the input
    dtype; embedding has exactly ``k`` entries, dims ordered by
    descending singular value.  ``side="both"`` adds a ``side`` string
    column ('center'/'context') and node is cast to string (the two
    margins may have different dtypes)."""
    import numpy as np

    if k < 1:
        raise ValueError(f"ppmi_factorize: k must be >= 1, got {k}")
    if oversample < 0:
        raise ValueError(
            f"ppmi_factorize: oversample must be >= 0, got {oversample}"
        )
    if power_iters < 0:
        raise ValueError(
            f"ppmi_factorize: power_iters must be >= 0, got {power_iters}"
        )
    if side not in ("center", "context", "both"):
        raise ValueError(
            "ppmi_factorize: side must be 'center', 'context' or 'both', "
            f"got {side!r}"
        )
    kp = k + oversample
    id_src = context_col if side == "context" else center_col
    id_type = dict(ppmi.dtypes).get(id_src)
    if id_type is None:
        raise ValueError(f"ppmi_factorize: no column {id_src!r} in input")
    if side == "both":
        id_type = "string"
    rows = materialize(
        ppmi.filter(
            F.col(center_col).isNotNull()
            & F.col(context_col).isNotNull()
            & F.col(val_col).isNotNull()
        )
        .select(
            F.col(center_col).cast("string").alias("_w"),
            F.col(context_col).cast("string").alias("_c"),
            F.col(val_col).cast("double").alias("_v"),
        )
    )
    spark = ppmi.sparkSession
    schema = f"node {id_type}, embedding array<float>"
    if side == "both":
        schema = f"node {id_type}, side string, embedding array<float>"
    if rows.limit(1).isEmpty():
        return spark.createDataFrame([], schema)

    # Ω: dense Rademacher over the context margin (n_c × kp rows, tiny
    # next to nnz); wide form so every product below is one join
    omega = (
        rows.select(F.col("_c").alias("id"))
        .distinct()
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(kp - 1)),
                lambda j: _rademacher(F.col("id"), j, seed),
            ).alias("vec"),
        )
    )
    y = materialize(_spmm(rows, omega, kp, transpose=False))
    for _ in range(power_iters):
        # one orthonormalization per power round (Halko et al. Alg 4.4
        # re-orthogonalizes once per application of M·Mᵀ; the extra
        # inner orth of Z costs a full Gram+matmul pass and buys
        # nothing at 1-2 iterations — removed r14, quality pins
        # unchanged).  The R⁻¹ is FOLDED past the transpose product
        # (r15): Mᵀ(Y·R⁻¹) ≡ (MᵀY)·R⁻¹ (associativity), so instead of
        # materializing the orthonormalized Y (one full Arrow matmul
        # pass + localCheckpoint per round) the tiny kp×kp R⁻¹ rides
        # into the Z projection lazily and the whole round fuses into
        # ONE materialized job: Gram(Y) → chol on the driver →
        # M·((MᵀY)·R⁻¹) → checkpoint.  Float association differs by
        # ~1 ulp, inside the rows-only ◇ gate and the pytest
        # reconstruction/recall floors.
        g = _gram(y, kp)
        tr = max(np.trace(g), 1e-30)
        ell = np.linalg.cholesky(g + np.eye(kp) * (1e-10 * tr / kp))
        r_inv = np.linalg.inv(ell.T)
        z = _matmul(_spmm(rows, y, kp, transpose=True), r_inv)
        y = materialize(_spmm(rows, z, kp, transpose=False))
    q = _orth(y, kp)
    z = _spmm(rows, q, kp, transpose=True)
    if side != "center":
        # z is read twice (Gram + the context-vector finish) — pin it;
        # side="center" reads it once, so the Gram job streams the
        # SpMM directly instead of paying a checkpoint pass (r15)
        z = materialize(z)
    c_small = _gram(z, kp)  # = QᵀM MᵀQ
    lam, u_t = np.linalg.eigh(c_small)
    order = np.argsort(lam)[::-1][:k]
    sigma = np.sqrt(np.maximum(lam[order], 1e-30))
    u_k = u_t[:, order]
    proj_c = u_k * (sigma**weight_exp)
    proj_x = u_k * (sigma ** (weight_exp - 1.0))

    def _finish(state: DataFrame, proj, tag: str | None) -> DataFrame:
        cols = [F.col("id").cast(id_type).alias("node")]
        if tag is not None:
            cols.append(F.lit(tag).alias("side"))
        cols.append(
            F.transform("vec", lambda e: e.cast("float")).alias("embedding")
        )
        return _matmul(state, proj).select(*cols)

    if side == "center":
        return _finish(q, proj_c, None)
    if side == "context":
        return _finish(z, proj_x, None)
    return _finish(q, proj_c, "center").unionByName(
        _finish(z, proj_x, "context")
    )


def graph_embeddings(
    edges: DataFrame | None = None,
    walks: DataFrame | None = None,
    k: int = 32,
    window: int = 2,
    walk_length: int = 4,
    walks_per_node: int = 1,
    shift: int = 1,
    seed: str = "walk",
    src: str = "src",
    dst: str = "dst",
    walk_kind: str = "uniform",
    oversample: int = 8,
    power_iters: int = 1,
    svd_seed: int = 42,
    **walk_kwargs,
) -> DataFrame:
    """Dense node embeddings from a graph in ONE call — the count-based
    chain (walks → skip-gram pairs → shifted PPMI →
    :func:`ppmi_factorize`) packaged like
    :func:`~kafka_merge_purge_spark.operators.components
    .sgns_training_corpus` packages the training-data chain, and the
    model-free equivalent of training SGNS on that corpus (Levy &
    Goldberg 2014).

    ``walks=`` injects a precomputed corpus (a cached frame or
    ``read_walk_corpus`` output) and skips walk generation — the
    walk-substrate amortization convention: sweep ``k``/``window``/
    ``shift`` over one corpus, pay the walks once.  Otherwise walks
    generate from ``edges`` via ``random_walks`` (``walk_kind=
    "node2vec"`` routes to the biased walker; extra ``walk_kwargs``
    pass through).

    Output: (node, embedding array<float>) — :func:`ppmi_factorize`'s
    center-side vectors, rows-only determinism (float sums ~1 ulp);
    every stage's own contract is gated/pinned upstream."""
    from kafka_merge_purge_spark.operators.components import (
        node2vec_walks,
        ppmi_from_pairs,
        random_walks,
        skipgram_pairs,
    )

    if (edges is None) == (walks is None):
        raise ValueError(
            "graph_embeddings: pass exactly one of edges= or walks="
        )
    if walks is None:
        if walk_kind == "uniform":
            walks = random_walks(
                edges,
                walk_length=walk_length,
                walks_per_node=walks_per_node,
                src=src,
                dst=dst,
                seed=seed,
                **walk_kwargs,
            )
        elif walk_kind == "node2vec":
            walks = node2vec_walks(
                edges,
                walk_length=walk_length,
                walks_per_node=walks_per_node,
                src=src,
                dst=dst,
                seed="n2v" if seed == "walk" else seed,
                **walk_kwargs,
            )
        else:
            raise ValueError(
                "graph_embeddings: walk_kind must be 'uniform' or "
                f"'node2vec', got {walk_kind!r}"
            )
        walks = materialize(walks)
    pairs = skipgram_pairs(walks, window=window)
    ppmi = ppmi_from_pairs(pairs, shift=shift)
    return ppmi_factorize(
        ppmi,
        k=k,
        oversample=oversample,
        power_iters=power_iters,
        seed=svd_seed,
    )
