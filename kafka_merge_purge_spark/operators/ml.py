"""Distributed model training (round 15): logistic regression by
full-batch gradient descent — the trainer behind the curation tier's
scoring models (a learned `quality_classifier`, a learned DSIR-style
domain filter) instead of fixed hand weights.

Execution shape (the kmeans_fit posture — tiny model on the driver,
one aggregate per step, data never collects):

- the model is d+1 doubles (weights + bias) held on the driver;
- each GD round evaluates the margin as a LITERAL column expression
  (whole-stage codegen, no UDF anywhere), and ONE map-side-combined
  aggregate returns the d+1 gradient sums;
- features standardize internally (one moments pass) so a single
  learning rate conditions every column; the returned weights are
  DE-standardized back to raw feature space — callers apply them to
  raw columns without knowing standardization happened.

At 100 TB a full-batch pass per round is the dominant cost (rounds ×
scan); the standard scale move — train on a bounded md5-bucket sample
(deterministic, the kmeans_centroids convention), then score the full
corpus with :func:`logreg_predict` (one map-only pass) — is what
``sample_buckets`` provides.  Scoring never shuffles.

Determinism: float gradient sums accumulate in partition order, so
weights are ~1-ulp run-to-run nondeterministic (the ppmi_factorize
precedent) — the gate entry is rows-only; pytest pins recovered
accuracy and loss descent instead of bit-exact weights.
"""

from __future__ import annotations

import math
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_merge_purge_spark.operators.iterate import materialize


def _margin_expr(
    feature_cols: Sequence[str],
    w: Sequence[float],
    b: float,
    mu: Sequence[float],
    sd: Sequence[float],
):
    """w·x_std + b as a literal column expression (codegen-friendly)."""
    m = F.lit(float(b))
    for j, c in enumerate(feature_cols):
        m = m + F.lit(float(w[j])) * (
            (F.col(c).cast("double") - F.lit(float(mu[j])))
            / F.lit(float(sd[j]))
        )
    return m


def logreg_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    rounds: int = 30,
    lr: float = 1.0,
    l2: float = 0.0,
    sample_buckets: int | None = None,
    bucket_mod: int = 1024,
) -> dict:
    """Train binary logistic regression with full-batch gradient
    descent.  Returns ``{"weights": {col: w}, "bias": b, "n": n,
    "loss": final_mean_logloss}`` in RAW feature space.

    - ``label_col`` ≠ 0 is the positive class; NULL features/labels
      drop.
    - ``sample_buckets``: train on the deterministic md5 bucket sample
      ``pmod(md5(concat(features)), bucket_mod) < sample_buckets``
      (the kmeans_centroids convention) — the 100 TB posture: bounded
      training scan, full-corpus scoring stays one map-only pass.
    - Internally standardizes each feature (constant columns get
      σ := 1 so they contribute 0 signal but never divide by zero) and
      de-standardizes the returned weights: w_raw_j = w_j/σ_j,
      b_raw = b − Σ_j w_j·μ_j/σ_j.

    Per round: ONE aggregate of d+2 map-side-combined double sums
    (logloss, bias gradient, d feature gradients) — nothing but the
    (d+2)-vector reaches the driver.
    """
    if not feature_cols:
        raise ValueError("logreg_fit: feature_cols must be non-empty")
    if rounds < 1:
        raise ValueError(f"logreg_fit: rounds must be >= 1, got {rounds}")
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    pts = df.filter(cond).select(
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.when(F.col(label_col).cast("int") != 0, 1.0)
        .otherwise(0.0)
        .alias("_y"),
    )
    if sample_buckets is not None:
        if not 0 < sample_buckets <= bucket_mod:
            raise ValueError(
                f"logreg_fit: sample_buckets must be in (0, {bucket_mod}], "
                f"got {sample_buckets}"
            )
        key = F.md5(
            F.concat_ws("|", *[F.col(c).cast("string") for c in feature_cols])
        )
        bucket = F.pmod(
            F.conv(F.substring(key, 1, 15), 16, 10).cast("long"),
            F.lit(bucket_mod),
        )
        pts = pts.filter(bucket < F.lit(sample_buckets))
    pts = materialize(pts, eager=False)

    moments = pts.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(c).alias(f"mu_{j}") for j, c in enumerate(feature_cols)],
        *[
            F.stddev_pop(c).alias(f"sd_{j}")
            for j, c in enumerate(feature_cols)
        ],
    ).collect()[0]
    n = moments["n"]
    if n == 0:
        return {
            "weights": {c: 0.0 for c in feature_cols},
            "bias": 0.0,
            "n": 0,
            "loss": None,
        }
    mu = [float(moments[f"mu_{j}"]) for j in range(len(feature_cols))]
    sd = [
        float(s) if (s := moments[f"sd_{j}"]) and s > 0 else 1.0
        for j in range(len(feature_cols))
    ]

    w = [0.0] * len(feature_cols)
    b = 0.0
    loss = None
    for _ in range(rounds):
        margin = _margin_expr(feature_cols, w, b, mu, sd)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        resid = p - F.col("_y")
        # mean logloss via the numerically-stable softplus form:
        #   -y·m + log(1+e^m)  ==  max(m,0) - y·m + log(1+e^-|m|)
        ll = (
            F.greatest(margin, F.lit(0.0))
            - F.col("_y") * margin
            + F.log1p(F.exp(-F.abs(margin)))
        )
        g = pts.agg(
            F.sum(ll).alias("_ll"),
            F.sum(resid).alias("_g0"),
            *[
                F.sum(
                    resid
                    * (
                        (F.col(c) - F.lit(mu[j])) / F.lit(sd[j])
                    )
                ).alias(f"_g{j + 1}")
                for j, c in enumerate(feature_cols)
            ],
        ).collect()[0]
        loss = float(g["_ll"]) / n
        b -= lr * float(g["_g0"]) / n
        for j in range(len(feature_cols)):
            w[j] -= lr * (float(g[f"_g{j + 1}"]) / n + l2 * w[j])

    raw_w = {c: w[j] / sd[j] for j, c in enumerate(feature_cols)}
    raw_b = b - sum(w[j] * mu[j] / sd[j] for j in range(len(feature_cols)))
    return {"weights": raw_w, "bias": raw_b, "n": int(n), "loss": loss}


def nb_fit(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    alpha: int = 1,
) -> dict:
    """Train a multinomial Naive Bayes text classifier — the classic
    counts-based label scorer (fastText-lite without embeddings; the
    trainable sibling of curation.quality_classifier).  Everything is
    COUNT arithmetic, so unlike :func:`logreg_fit` the whole model —
    training AND scoring — is engine-exact and FULL-hash-oracle-able
    (the dsir_select convention: each log-probability is quantized
    ``round(ln(num/den), 6)`` ONCE at train time and document scores
    are exact DECIMAL sums of those terms — order-free, no float
    accumulation).

        lp(w|y)   = round(ln((c(w,y) + α) / (T(y) + α·V)), 6)
        unseen(y) = round(ln(α / (T(y) + α·V)), 6)     (Laplace mass)
        prior(y)  = round(ln(D(y) / D), 6)

    with V = corpus vocabulary size.  ``alpha`` must be a positive
    integer (keeps every ratio a ratio of exact integers; the division
    and ln are one correctly-rounded double op each).

    Returns ``{"stats": DataFrame(label, word, lp), "priors":
    DataFrame(label, prior_lp, unseen_lp)}`` — both unresolved plans
    (cache if scoring repeatedly).  Plan: one token explode, three
    map-side-combined grouped counts, a 1-row (V, D) broadcast; nothing
    collects to the driver."""
    from kafka_merge_purge_spark.operators.dedup import normalize
    from kafka_merge_purge_spark.operators.text import tokens

    if alpha < 1:
        raise ValueError(f"nb_fit: alpha must be a positive int, got {alpha}")
    base = df.filter(
        F.col(text_col).isNotNull() & F.col(label_col).isNotNull()
    )
    words = base.select(
        F.col(label_col).alias("label"),
        F.explode(tokens(normalize(F.col(text_col)))).alias("word"),
    ).filter(F.col("word") != "")
    # ONE token explode: the (label, word) counts materialize once
    # (localCheckpoint, vocab×labels rows — small) and the per-label
    # totals + vocab size derive FROM them — stats/priors otherwise
    # re-tokenize the corpus once per aggregate branch (3-4 scans)
    cw = materialize(
        words.groupBy("label", "word")
        .agg(F.count(F.lit(1)).alias("_c")),
        eager=False,
    )
    tw = cw.groupBy("label").agg(F.sum("_c").alias("_t"))
    corpus = cw.agg(F.count_distinct(F.col("word")).alias("_v"))
    dl = base.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("_d")
    )
    dtot = base.agg(F.count(F.lit(1)).alias("_dt"))

    den = (F.col("_t") + F.lit(alpha) * F.col("_v")).cast("double")
    stats = (
        cw.join(tw, "label")
        .crossJoin(F.broadcast(corpus))
        .select(
            "label",
            "word",
            F.round(
                F.log((F.col("_c") + F.lit(alpha)).cast("double") / den), 6
            )
            .cast("decimal(18,6)")
            .alias("lp"),
        )
    )
    priors = (
        dl.join(tw, "label", "left")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(dtot))
        .select(
            "label",
            F.round(
                F.log(
                    F.col("_d").cast("double") / F.col("_dt").cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("prior_lp"),
            F.round(
                F.log(
                    F.lit(float(alpha))
                    / (
                        F.coalesce(F.col("_t"), F.lit(0))
                        + F.lit(alpha) * F.col("_v")
                    ).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("unseen_lp"),
        )
    )
    return {"stats": stats, "priors": priors}


def nb_predict(
    df: DataFrame,
    model: Mapping,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with an :func:`nb_fit` model and pick the
    argmax label.  score(d, y) = prior(y) + Σ_w n(w,d)·lp(w,y) with
    out-of-class words taking the Laplace ``unseen`` mass — exact
    DECIMAL sums of the quantized train-time terms, so two engines
    (and two runs) produce IDENTICAL scores; ties break to the
    lexicographically smallest label via one struct-min aggregate.

    Plan: token explode → (doc, word) counts → one word-keyed join
    against the class stats (AQE picks broadcast for bounded vocab) →
    (doc, label) aggregate over the doc×label grid — no windows, no
    driver loop.  Output: (id, pred, score double)."""
    from kafka_merge_purge_spark.operators.dedup import normalize
    from kafka_merge_purge_spark.operators.text import tokens

    # one tokenize pass: the (doc, word) counts materialize once and
    # feed both the stats join and the per-doc totals (two consumers
    # would otherwise re-explode the corpus)
    toks = materialize(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(normalize(F.col(text_col)))).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("_id", "word")
        .agg(F.count(F.lit(1)).alias("_n")),
        eager=False,
    )
    # counts cast to DECIMAL(12,0) so count×lp stays (31,6) — inside the
    # 38-digit cap, no precision-loss rounding; the product has EXACTLY
    # the train-time 6 decimals and sums order-free
    d12, d30 = "decimal(12,0)", "decimal(30,6)"
    seen = (
        toks.join(model["stats"], "word")
        .groupBy("_id", "label")
        .agg(
            F.sum(F.col("_n").cast(d12) * F.col("lp")).alias("_slp"),
            F.sum("_n").alias("_sn"),
        )
    )
    tots = toks.groupBy("_id").agg(F.sum("_n").alias("_tn"))
    grid = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("_id"))
        .join(tots, "_id", "left")
        .crossJoin(F.broadcast(model["priors"]))
    )
    zero = F.lit(0).cast(d30)
    scored = grid.join(seen, ["_id", "label"], "left").select(
        "_id",
        "label",
        (
            F.col("prior_lp").cast(d30)
            + F.coalesce(F.col("_slp").cast(d30), zero)
            + (
                F.coalesce(F.col("_tn"), F.lit(0))
                - F.coalesce(F.col("_sn"), F.lit(0))
            ).cast(d12)
            * F.col("unseen_lp")
        ).alias("_score"),
    )
    best = (
        scored.select(
            "_id",
            F.struct(
                (-F.col("_score")).alias("ns"), F.col("label").alias("l")
            ).alias("_k"),
        )
        .groupBy("_id")
        .agg(F.min("_k").alias("_k"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_k.l").alias("pred"),
            (-F.col("_k.ns")).cast("double").alias("score"),
        )
    )
    return best


def logreg_predict(
    df: DataFrame,
    model: Mapping,
    prob_col: str = "prob",
    pred_col: str = "pred",
) -> DataFrame:
    """Score rows with a :func:`logreg_fit` model: adds ``prob``
    (double) and ``pred`` (int, margin > 0).  One map-only projection —
    literal weights, whole-stage codegen, no shuffle, no UDF; at any
    scale this is a pure scan."""
    w: Mapping[str, float] = model["weights"]
    m = F.lit(float(model["bias"]))
    for c, wj in w.items():
        m = m + F.lit(float(wj)) * F.col(c).cast("double")
    return df.withColumn(
        prob_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    ).withColumn(pred_col, (m > 0).cast("int"))


def boosted_stumps_fit(
    df: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    rounds: int = 10,
    bucket_size: int = 1_000_000,
) -> dict:
    """Train AdaBoost over depth-1 decision stumps (Freund & Schapire
    1997, SAMME/discrete form) — the nonlinear member of the trainer
    family (logreg = linear, nb = generative, this = additive
    thresholds): each round picks the (feature, threshold, polarity)
    stump minimizing the weighted error, then reweights rows toward
    the mistakes.

    Features must be integer-valued (quantize-first).  Per round ONE
    job finds the best stump over ALL features and thresholds at once:
    the melted (feature, value) frame aggregates weighted +/− label
    mass per distinct value (map-side combined), cumulates via the
    bucketed two-level prefix sum per feature, and a struct-min
    aggregate picks the global best — no per-feature loop, no window
    over raw rows.  Row weights are carried as EXACT INTEGER micro-nat
    log-weights (lw_i = Σ_t ∓qα_t, each round's α quantized once), so
    the state column is an int64 updated by a LITERAL stump expression
    — no join; only the exp(lw/10⁶) weighting inside the aggregate is
    float (hence ~1-ulp run nondeterminism — the gate entry is
    rows-only; pytest pins learned accuracy).

    Scale: rounds × (one narrow projection + one melted aggregate whose
    shuffle is bounded by Σ_f |distinct values|); the state frame
    localCheckpoints per round (the iterate() posture).

    Returns ``{"stumps": [(feature, threshold, polarity, alpha)],
    "n": n}`` — polarity +1 predicts y=1 when value > threshold."""
    import math

    if not feature_cols:
        raise ValueError("boosted_stumps_fit: feature_cols must be non-empty")
    if rounds < 1:
        raise ValueError(
            f"boosted_stumps_fit: rounds must be >= 1, got {rounds}"
        )
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    state = df.filter(cond).select(
        *[F.col(c).cast("long").alias(c) for c in feature_cols],
        F.when(F.col(label_col).cast("int") != 0, 1)
        .otherwise(-1)
        .alias("_y"),
        F.lit(0).cast("long").alias("_lw"),  # integer micro-nat log-weight
    )
    state = materialize(state, eager=False)
    n = state.count()
    if n == 0:
        return {"stumps": [], "n": 0}

    melted = "stack({k}, {args}) AS (_f, _v)".format(
        k=len(feature_cols),
        args=", ".join(f"'{c}', {c}" for c in feature_cols),
    )
    stumps: list[tuple[str, int, int, float]] = []
    for _ in range(rounds):
        w = F.exp(F.col("_lw").cast("double") / F.lit(1_000_000.0))
        pts = state.select(
            F.expr(melted), "_y", w.alias("_w")
        )
        g = pts.groupBy("_f", "_v").agg(
            F.sum(F.when(F.col("_y") == 1, F.col("_w")).otherwise(0.0)).alias(
                "_wp"
            ),
            F.sum(F.when(F.col("_y") == -1, F.col("_w")).otherwise(0.0)).alias(
                "_wn"
            ),
        )
        tot = g.agg(
            F.sum(F.col("_wp") + F.col("_wn")).alias("_tw"),
            F.sum("_wp").alias("_tp"),
        )
        # cumulative (≤ v) mass per feature via the bucketed prefix sum
        g = g.withColumn(
            "_b", F.expr(f"(_v - pmod(_v, {bucket_size})) DIV {bucket_size}")
        )
        w_local = (
            Window.partitionBy("_f", "_b")
            .orderBy("_v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        totals = g.groupBy("_f", "_b").agg(
            F.sum("_wp").alias("_btp"), F.sum("_wn").alias("_btn")
        )
        w_pref = (
            Window.partitionBy("_f")
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        offsets = totals.select(
            "_f",
            "_b",
            F.coalesce(F.sum("_btp").over(w_pref), F.lit(0.0)).alias("_op"),
            F.coalesce(F.sum("_btn").over(w_pref), F.lit(0.0)).alias("_on"),
        )
        cum = (
            g.join(F.broadcast(offsets), ["_f", "_b"])
            .crossJoin(F.broadcast(tot))
            .select(
                "_f",
                "_v",
                (F.col("_op") + F.sum("_wp").over(w_local)).alias("_cp"),
                (F.col("_on") + F.sum("_wn").over(w_local)).alias("_cn"),
                "_tw",
                "_tp",
            )
        )
        # stump "v > threshold → +1": error = P(y=+1, v≤t) + P(y=−1, v>t)
        #                                  = cp(t) + (tw − tp) − cn(t)
        # polarity −1 mirrors: error = tp − cp(t) + cn(t)
        err_pos = F.col("_cp") + (F.col("_tw") - F.col("_tp")) - F.col("_cn")
        err_neg = F.col("_tp") - F.col("_cp") + F.col("_cn")
        cand = cum.select(
            F.struct(
                F.least(err_pos, err_neg).alias("err"),
                F.col("_f").alias("f"),
                F.col("_v").alias("v"),
                F.when(err_pos <= err_neg, 1).otherwise(-1).alias("pol"),
                F.col("_tw").alias("tw"),
            ).alias("_k")
        ).agg(F.min("_k").alias("_k"))
        row = cand.collect()[0]["_k"]
        eps = max(min(row["err"] / row["tw"], 1.0 - 1e-12), 1e-12)
        if eps >= 0.5:
            break  # no stump beats chance on the reweighted sample
        alpha = 0.5 * math.log((1.0 - eps) / eps)
        qa = int(round(alpha * 1_000_000))
        feat, thr, pol = row["f"], int(row["v"]), int(row["pol"])
        stumps.append((feat, thr, pol, qa / 1_000_000))
        # h(x) = pol·sign(x_f > thr); lw -= qα·y·h(x)  (integer update)
        h = F.when(F.col(feat) > F.lit(thr), pol).otherwise(-pol)
        state = materialize(
            state.withColumn("_lw", F.col("_lw") - F.lit(qa) * F.col("_y") * h),
            eager=False,
        )
    return {"stumps": stumps, "n": int(n)}


def boosted_stumps_predict(
    df: DataFrame,
    model: Mapping,
    margin_col: str = "margin",
    pred_col: str = "pred",
) -> DataFrame:
    """Score rows with a :func:`boosted_stumps_fit` model: the signed
    α-weighted vote margin and the 0/1 prediction.  Pure literal
    projection — no joins, no shuffle, any scale."""
    m = F.lit(0.0)
    for feat, thr, pol, alpha in model["stumps"]:
        h = F.when(F.col(feat) > F.lit(thr), pol).otherwise(-pol)
        m = m + F.lit(float(alpha)) * h
    return df.withColumn(margin_col, m).withColumn(
        pred_col, (m > 0).cast("int")
    )


def stumps_frame(spark, model: Mapping) -> DataFrame:
    """The stump list as a DataFrame (round, feature, threshold,
    polarity, alpha) — the x_ppmi_factorize rows-only gate shape."""
    rows = [
        (i, f, int(t), int(p), float(a))
        for i, (f, t, p, a) in enumerate(model["stumps"])
    ]
    return spark.createDataFrame(
        rows,
        "round int, feature string, threshold long, polarity int, "
        "alpha double",
    )


def save_model(spark, model: Mapping, path: str) -> None:
    """Persist any of the three trainers' models under ``path`` (the
    build_ivf_index sidecar convention — parquet only, no pickle):

    - logreg: ``{path}/kind`` = logreg + ``{path}/weights`` (feature,
      weight; bias as ``__bias__``);
    - naive bayes: kind = nb + ``{path}/stats`` and ``{path}/priors``
      (the two model frames, materialized);
    - stumps: kind = stumps + ``{path}/stumps`` (round-ordered).

    The kind sidecar is a 1-row parquet so :func:`load_model` never
    guesses from directory shape."""
    if "weights" in model:
        kind = "logreg"
        logreg_weights_frame(spark, model).write.mode("overwrite").parquet(
            f"{path}/weights"
        )
    elif "stats" in model:
        kind = "nb"
        model["stats"].write.mode("overwrite").parquet(f"{path}/stats")
        model["priors"].write.mode("overwrite").parquet(f"{path}/priors")
    elif "stumps" in model:
        kind = "stumps"
        stumps_frame(spark, model).write.mode("overwrite").parquet(
            f"{path}/stumps"
        )
    else:
        raise ValueError(f"save_model: unrecognized model keys {set(model)}")
    spark.createDataFrame([(kind,)], "kind string").write.mode(
        "overwrite"
    ).parquet(f"{path}/kind")


def load_model(spark, path: str) -> dict:
    """Load a :func:`save_model` directory back into the exact dict
    shape the matching ``*_predict`` consumes.  NB model frames come
    back as plain parquet scans (already materialized — loading is how
    you AMORTIZE training across jobs)."""
    kind = spark.read.parquet(f"{path}/kind").collect()[0]["kind"]
    if kind == "logreg":
        rows = spark.read.parquet(f"{path}/weights").collect()
        w = {r["feature"]: r["weight"] for r in rows}
        bias = w.pop("__bias__", 0.0)
        return {"weights": w, "bias": bias, "n": None, "loss": None}
    if kind == "nb":
        return {
            "stats": spark.read.parquet(f"{path}/stats"),
            "priors": spark.read.parquet(f"{path}/priors"),
        }
    if kind == "stumps":
        rows = sorted(
            spark.read.parquet(f"{path}/stumps").collect(),
            key=lambda r: r["round"],
        )
        return {
            "stumps": [
                (r["feature"], r["threshold"], r["polarity"], r["alpha"])
                for r in rows
            ],
            "n": None,
        }
    raise ValueError(f"load_model: unknown model kind {kind!r} at {path}")


def logreg_weights_frame(spark, model: Mapping) -> DataFrame:
    """The model as a (feature, weight) frame — bias rides as the
    ``__bias__`` row; rounded to 6 digits for a stable display/gate
    shape (weights themselves are ~1-ulp nondeterministic)."""
    rows = [("__bias__", float(model["bias"]))] + [
        (c, float(v)) for c, v in sorted(model["weights"].items())
    ]
    df = spark.createDataFrame(rows, "feature string, weight double")
    return df.select("feature", F.round("weight", 6).alias("weight"))
