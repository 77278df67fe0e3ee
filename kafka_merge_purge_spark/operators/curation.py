"""Corpus-curation operators for LLM-training-data pipelines.

The filtering/cleaning tier that runs BEFORE dedup and embedding in a
real pipeline (C4 / CCNet / Gopher-style): PII redaction, boilerplate
line removal, multi-rule quality filtering with per-rule attribution,
importance (weighted) sampling, and domain-mixture reweighting.

Every operator is a narrow projection or a single hash-aggregate —
no Python UDFs, no windows over the full corpus — so each scales as a
map stage (or one shuffle with map-side combine) at 100 TB.  Semantics
are deliberately SQL-expressible so the DuckDB oracle can hash-check
them; float divisions happen once over exact integer inputs (or
decimal-stable sums) so both engines produce bit-identical doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_int
from .iterate import cached
from .text import STOPWORDS, tokens

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

#: Redaction patterns, applied in order (emails first — they contain the
#: dots and digits the later patterns would otherwise partially match).
#: Kept inside the RE2 ∩ java.util.regex common subset so the Spark plan
#: (Java regex) and the DuckDB oracle (RE2) replace identical spans.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d-]{7,}\d", "<PHONE>"),
)


def synth_pii_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append deterministic synthetic PII to each document (the corpus is
    word-soup with no digits, so injected spans are the only matches).

    doc_id ≡ 0 (mod 3) gets a second e-mail — redaction counts are not
    constant, so the hash check exercises per-type match counting.
    """
    did = F.col("doc_id")
    extra_mail = F.when(
        did % 3 == 0, F.concat(F.lit(" cc admin"), did, F.lit("@ops.example.org"))
    ).otherwise(F.lit(""))
    return df.withColumn(
        "pii_text",
        F.concat(
            F.col(text_col),
            F.lit(" contact user"), did, F.lit("@mail.example.com"),
            extra_mail,
            F.lit(" tel +1-555-"), F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" host 10."), (did % 256).cast("string"), F.lit(".0.1"),
        ),
    )


def redact_pii(
    df: DataFrame, text_col: str = "pii_text", passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Mask e-mail / IPv4 / phone spans and count redactions per type.

    Pure chained ``regexp_replace`` + ``regexp_count`` projection — a
    narrow map with full predicate/column pushdown; at 100 TB this is
    the cheapest possible shape (no shuffle, codegen'd JVM regex).
    Each pattern's count is taken on the text AFTER the previous
    patterns' replacements (e-mails first, then IPs, then phones), so
    overlapping classes attribute to the first pattern that claims the
    span — e-mails win over bare IP-ish digit runs, and a span is never
    counted twice.

    ``passthrough`` columns ride along unchanged (keeps multi-stage
    pipelines join-free — see curation_pipeline).
    """
    counts = []
    scratch = F.col(text_col)
    for name, pat, tag in PII_PATTERNS:
        counts.append(F.regexp_count(scratch, F.lit(pat)).alias(f"n_{name}"))
        scratch = F.regexp_replace(scratch, pat, tag)
    return df.select(
        "doc_id",
        *passthrough,
        *counts,
        scratch.alias("text_redacted"),
    )


# --------------------------------------------------------------------------
# Boilerplate line removal (CCNet / RefinedWeb-style)
# --------------------------------------------------------------------------

def split_lines(text: Column, line_len: int = 8) -> Column:
    """Segment a single-spaced document into fixed-width token "lines"
    (the corpus carries no newlines; on real data swap for split('\\n')).
    Returns array<string> of space-joined ``line_len``-token slices."""
    from kafka_merge_purge_spark.plans.introspect import let_once

    def body(toks):
        # let-bound (r16): the slice lambda re-evaluates captured
        # subexpressions per line — unbound, each line re-ran split()
        starts = F.sequence(
            F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(line_len)
        )
        return F.transform(
            starts, lambda i: F.array_join(F.slice(toks, i, line_len), " ")
        )

    return let_once(tokens(text), body)


def boilerplate_line_dedup(
    df: DataFrame,
    line_len: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove lines that recur across ≥ ``min_docs`` distinct documents
    (navigation chrome, cookie banners, licence footers in real crawls).

    Plan shape — two shuffles total, NO broadcast of the boilerplate set
    (it is unbounded: every pair of duplicated documents contributes all
    their lines, so on a heavily-duplicated crawl a broadcast would blow
    executor memory — the very input this operator exists for):
      1. membership: one exchange of the line rows keyed by the 60-bit
         line hash; for the default ``min_docs=2``, ``min(doc) ≠
         max(doc)`` over that partition decides boilerplate in a single
         pass (same trick as duplicate_spans); higher thresholds take
         the count-distinct aggregate + hash anti join, still on the
         8-byte key.  If line strings are long enough to dominate the
         exchange, narrow it further by re-joining text per kept
         (doc, pos) — the shingle-re-join pattern from the MinHash path;
      2. re-assembly: groupBy(doc_id) collecting (pos, line) structs,
         sorted in-expression — deterministic without a window.

    Output: one row per document with the cleaned text and audit counts.
    """
    from pyspark.sql import Window

    if min_docs < 2:
        # min_docs=1 would mean "every line is boilerplate" (drop all
        # text) — surely a caller bug; reject it like duplicate_spans
        # does instead of silently treating it as 2 (r5 advice).
        raise ValueError(f"boilerplate_line_dedup: min_docs must be >= 2, got {min_docs}")
    lines = df.select(
        F.col(id_col),
        F.posexplode(split_lines(F.col(text_col), line_len)).alias("pos", "line"),
    ).withColumn("_h", md5_int(F.col("line")))
    if min_docs == 2:
        wh = Window.partitionBy("_h")
        kept = (
            lines.withColumn(
                "_boiler", F.min(id_col).over(wh) != F.max(id_col).over(wh)
            )
            .filter(~F.col("_boiler"))
            .drop("_boiler", "_h")
        )
    else:
        boiler = (
            lines.groupBy("_h")
            .agg(F.count_distinct(id_col).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
            .select("_h")
        )
        kept = lines.join(boiler, "_h", "left_anti").drop("_h")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("n_lines") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_removed"
            ),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


# --------------------------------------------------------------------------
# Gopher-style multi-rule quality filter with per-rule attribution
# --------------------------------------------------------------------------

def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
    tokens_col: str | None = None,
    adaptive: bool = False,
) -> DataFrame:
    """Multi-rule document quality filter (Gopher §A1-style) with one
    boolean column PER RULE — the attribution form real pipelines keep so
    drops are explainable (which rule fired, corpus-wide rule hit-rates).

    Rules (thresholds pinned for oracle reproducibility):
      * word count within [10, 1000]
      * mean word length within [3, 10]
      * ≥ 2 distinct stopwords present (the "natural language" signal)
      * most-frequent-word fraction ≤ 0.2 (degenerate-repetition guard)

    Everything is a per-row array expression — a narrow map stage.  The
    top-word fraction is O(|distinct| · n) per document in-expression,
    which beats a corpus-wide explode + groupBy at any scale because it
    never shuffles.

    ``adaptive=True`` (r6 verdict item 6) swaps the tokenizer for
    :func:`text.tokens_adaptive`, so unsegmented scripts (CJK, Thai)
    get token-granular metrics instead of collapsing to one "word" and
    auto-failing the count rule regardless of quality.  Mean word
    length then sums token lengths directly (the subtraction shortcut
    assumes single-space joins) — on space-delimited text the two
    forms are arithmetically identical, so default-path hashes are
    unchanged.  The stopword rule stays English-specific either way;
    the per-rule attribution columns are exactly why that's workable —
    a CJK pipeline reads the other three rules and supplies its own
    stopword list downstream.
    """
    # ``tokens_col``: a pre-tokenized array column (computed once behind a
    # projection_barrier) — references become attribute reads instead of
    # re-running split(text) per metric (see curation_pipeline)
    if tokens_col:
        toks = F.col(tokens_col)
    elif adaptive:
        from kafka_merge_purge_spark.operators.text import tokens_adaptive
        from kafka_merge_purge_spark.plans.introspect import projection_barrier

        # the adaptive tokenizer is an order of magnitude heavier than a
        # bare split (density gate + conditional n-gram assembly), and
        # four metrics below reference it — pin it to ONE evaluation the
        # same way curation_pipeline pins its parsed columns
        df = projection_barrier(
            df.withColumn("_toks_adaptive", tokens_adaptive(F.col(text_col)))
        )
        toks = F.col("_toks_adaptive")
    else:
        toks = tokens(F.col(text_col))
    n = F.size(toks)
    if adaptive:
        mean_len = F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n, 6
        )
    else:
        mean_len = F.round((F.length(text_col) - (n - F.lit(1))) / n, 6)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    # array_intersect, NOT filter(stop_arr, s -> array_contains(toks, s)):
    # identical value (stop_arr is duplicate-free, so the intersect size
    # IS the distinct-stopwords-present count), but the lambda form
    # CAPTURES the outer `toks` attribute inside the HOF — and when
    # CollapseProject inlines the keep-predicate into a join-side Filter,
    # Spark 4.1's binding of that captured reference breaks with
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (hit by llm_curation_pipeline's
    # survivor join, r9; pinned in test_gopher_keep_filter_survives_joins)
    n_stop_distinct = F.size(F.array_intersect(stop_arr, toks))
    from kafka_merge_purge_spark.plans.introspect import let_once

    # let-bound (r16): the outer lambda captures `toks`, so the unbound
    # form re-ran the tokenizing split once per DISTINCT word of every
    # row (HOF lambdas re-evaluate captured subexpressions per element);
    # bound, the token array is computed once and both references are
    # variable reads.  The pre-tokenized/adaptive paths already arrive
    # as columns — binding those is a free variable copy.
    top_word_n = let_once(
        toks,
        lambda t: F.array_max(
            F.transform(
                F.array_distinct(t),
                lambda w: F.size(F.filter(t, lambda x: x == w)),
            )
        ),
    )
    top_word_frac = F.round(top_word_n / n, 6)
    r_count = (n >= 10) & (n <= 1000)
    r_len = (mean_len >= 3.0) & (mean_len <= 10.0)
    r_stop = n_stop_distinct >= 2
    r_rep = top_word_frac <= 0.2
    return df.select(
        "doc_id",
        *passthrough,
        n.alias("n_tokens"),
        mean_len.alias("mean_word_len"),
        n_stop_distinct.alias("n_stop_distinct"),
        top_word_frac.alias("top_word_frac"),
        r_count.cast("int").alias("rule_word_count"),
        r_len.cast("int").alias("rule_mean_len"),
        r_stop.cast("int").alias("rule_stopwords"),
        r_rep.cast("int").alias("rule_repetition"),
        (r_count & r_len & r_stop & r_rep).cast("int").alias("keep"),
    )


# --------------------------------------------------------------------------
# Importance (weighted) sampling
# --------------------------------------------------------------------------

def importance_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Deterministic weighted downsampling: accept each document with
    probability proportional to a quality weight, via md5 thresholding —
    the reproducible, engine-portable form of importance resampling used
    to up/down-weight corpus slices when mixing training data.

    weight = clamp(n_chars / 200, 0.05, 1.0); accept iff
    md5_60bit(doc_id) mod 1e6 < round(weight * 1e6).  The threshold is
    rounded to an exact integer before the comparison so both engines
    make identical accept decisions (no float comparison in the gate).

    A narrow filter + one grouped aggregate (map-side combined).
    """
    weight = F.least(
        F.lit(1.0), F.greatest(F.lit(0.05), F.col("n_chars") / F.lit(200.0))
    )
    threshold = F.round(weight * 1000000).cast("long")
    accepted = F.when(
        md5_int(F.col(id_col).cast("string")) % 1000000 < threshold, 1
    ).otherwise(0)
    return (
        df.select(F.col(group_col), F.col("n_chars"), accepted.alias("acc"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("acc").alias("n_accepted"),
            F.sum(F.col("acc") * F.col("n_chars")).alias("chars_accepted"),
        )
    )


# --------------------------------------------------------------------------
# Domain-mixture reweighting
# --------------------------------------------------------------------------

def domain_mixture_weights(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source sampling weights that reshape the corpus toward a
    target domain mixture (the DoReMi / Pile-style mixing computation).

    The target share here is a deterministic function of the source name
    (weight ∝ 1 + src_number mod 4, normalized) so the query is
    self-contained at any scale; a deployment passes its tuned mixture.

    mix_weight_s = target_share_s / actual_token_share_s, computed as ONE
    double division over exact integer token counts — bit-identical
    across engines.  Plan: one grouped aggregate over (source) + a
    broadcast of the 1-row corpus totals; source cardinality is tiny by
    definition, so nothing here grows with corpus size except the
    map-side-combined token count.
    """
    per_src = (
        df.select(
            "source",
            F.size(tokens(F.col(text_col))).alias("n_toks"),
            # digitless source names fold to number 0 (nullif guards the
            # '' → NULL cast that would otherwise null out EVERY source's
            # share through the tot_target sum)
            (
                F.lit(1)
                + F.coalesce(
                    F.nullif(F.regexp_extract("source", r"(\d+)", 1), F.lit("")).cast(
                        "long"
                    ),
                    F.lit(0),
                )
                % 4
            ).alias("target_raw"),
        )
        .groupBy("source", "target_raw")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.sum("target_raw").alias("tot_target"),
    )
    j = per_src.crossJoin(F.broadcast(totals))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("actual_share"),
        F.round(F.col("target_raw") / F.col("tot_target"), 6).alias("target_share"),
        F.round(
            (F.col("target_raw") * F.col("tot_tokens"))
            / (F.col("tot_target") * F.col("n_tokens")),
            6,
        ).alias("mix_weight"),
    )


# --------------------------------------------------------------------------
# End-to-end curation pipeline composition
# --------------------------------------------------------------------------

def quality_classifier(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Linear quality-classifier scoring over hashed n-gram features —
    the standard fasttext-style curation gate (public recipe: CCNet /
    GPT-3's quality filter shape: hashed bag-of-words features × a
    linear model → sigmoid probability), next to the bigram-LM scorer.

    ``weights`` is the caller's model (one weight per hash bucket; its
    length IS the feature dimension) — explicitly an input: this repo
    ships no trained model.  Features are those of
    :func:`text.hashed_embedding`: signed ±1 token counts per
    ``(h>>1) % dim`` bucket (r7 verdict item 8).

    Engine-portable exactness: weights and bias are quantized to 1e-6
    (``floor(w·1e6 + 0.5)`` — the dedup tier's ``_quantize`` rule), the
    dot product runs in exact int64 (bucket count × quantized weight),
    and only the final margin→probability step touches doubles:
    ``margin = (Σ + bias_q)/1e6`` (≤6 decimals by construction),
    ``prob = round(sigmoid(margin), 6)``.  The DuckDB oracle replays
    the identical integer arithmetic and hash-matches.

    Output: one row per document with ≥1 alphanumeric token —
    ``(id_col, margin double, prob double)``.

    Physical form (r9): ONE stateless Arrow kernel computes each
    document's exact int64 dot in-process (same md5 → bucket → ±sign
    arithmetic as ``hashed_embedding``, pure-Python per token) and the
    margin→sigmoid stays a Spark expression — ZERO shuffles.  An
    explode + aggregate over ``hashed_embedding`` would push
    ~n_docs·dim partial rows through an exchange; at 100 TB the
    classifier gate should be a map stage, and statelessness makes it
    streaming-composable for free.  Python ``str.lower()`` is the same
    locale-invariant Unicode default lowercase mapping as Spark 4's
    UTF8_BINARY ``lower()``, so the kernel scores non-ASCII text
    exactly as the feature frame does (pinned in pytest)."""
    import hashlib
    import math
    import re

    import pandas as pd

    dim = len(weights)
    if dim == 0:
        raise ValueError("quality_classifier: weights must be non-empty")
    qw = tuple(int(math.floor(w * 1e6 + 0.5)) for w in weights)
    bias_q = int(math.floor(bias * 1e6 + 0.5))
    id_type = df.schema[id_col].dataType.simpleString()

    def score(batches):
        has_alnum = re.compile(r"[a-zA-Z0-9]")
        squeeze = re.compile(r"[^a-z0-9]+")
        for pdf in batches:
            ids, mq = [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None or not has_alnum.search(t):
                    continue  # hashed_embedding's rlike degenerate filter
                # normalize() twin: lower + squeeze + trim (post-
                # squeeze only plain spaces remain, so strip == trim)
                norm = squeeze.sub(" ", t.lower()).strip()
                dot = 0
                for tok in norm.split(" "):
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    w = qw[(h >> 1) % dim]
                    dot += w if (h & 1) == 0 else -w
                ids.append(i)
                mq.append(dot + bias_q)
            if ids:
                yield pd.DataFrame({id_col: ids, "_mq": mq})

    mq = df.select(id_col, text_col).mapInPandas(
        score, schema=f"{id_col} {id_type}, _mq long"
    )
    return mq.select(
        id_col, F.round(F.col("_mq").cast("double") / 1e6, 6).alias("margin")
    ).select(
        id_col,
        "margin",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6).alias("prob"),
    )


def curation_pipeline(df: DataFrame) -> DataFrame:
    """The curation tier end-to-end, as ONE declarative plan: synthesize
    PII → redact → Gopher-rule filter on the REDACTED text → deterministic
    train/val/test assignment → per-(source, split) rollup.

    Everything before the final rollup is a narrow map: each stage
    passes its survivors' columns through (``passthrough``) instead of
    re-joining the scan, so the regexes, rule expressions, and md5
    bucketing compose into a single projection chain — the whole
    pipeline costs ONE aggregation shuffle regardless of how many
    curation stages stack (pinned in pytest: exactly one Exchange).

    Output: (source, split, n_docs, n_tokens, n_pii) — the shape a
    data-mixing step consumes.
    """
    from kafka_merge_purge_spark.plans import projection_barrier

    red = redact_pii(synth_pii_text(df), passthrough=("source",)).select(
        "doc_id",
        "source",
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone")).alias("n_pii"),
        "text_redacted",
    )
    # barrier: the regex chain and the tokenization are computed ONCE and
    # downstream metric references read attributes — without it,
    # CollapseProject inlines the chain per reference (measured 42 copies
    # of the regexes in the optimized plan, ~6× slower)
    red = projection_barrier(red.withColumn("toks", tokens(F.col("text_redacted"))))
    scored = gopher_rules(
        red,
        text_col="text_redacted",
        passthrough=("source", "n_pii"),
        tokens_col="toks",
    )
    from kafka_merge_purge_spark.operators.text import split_exprs

    _, split_col = split_exprs("doc_id")  # same thresholds as train_test_split
    # keep folds into CONDITIONAL aggregation instead of a filter: a
    # `filter(keep == 1)` would be pushed below the barrier by alias
    # substitution, re-evaluating the whole metric/regex chain as a
    # per-row predicate (measured: 36 extra regex evals per row).  With
    # no Filter in the plan there is nothing to push; `keep` is read
    # from the barrier'd projection exactly once, and the empty groups a
    # real filter would never form are dropped post-aggregate.
    k = F.col("keep") == 1
    agg = (
        scored.withColumn("split", split_col)
        .groupBy("source", "split")
        .agg(
            F.sum(k.cast("long")).alias("n_docs"),
            F.sum(F.when(k, F.col("n_tokens"))).alias("n_tokens"),
            F.sum(F.when(k, F.col("n_pii"))).alias("n_pii"),
        )
    )
    return agg.filter(F.col("n_docs") > 0)


def llm_curation_pipeline(
    docs: DataFrame,
    emb: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    prob_min: float = 0.5,
    sem_threshold: float = 0.4,
    k: int | None = 4,
    iters: int = 2,
    centroids: list[list[float]] | None = None,
    capacity: int = 2048,
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    synth_pii: bool = False,
) -> DataFrame:
    """The full LLM training-data curation pipeline as ONE composed plan
    (r8 verdict item 7): quality-classifier gate → PII redaction →
    Gopher rules on the REDACTED text → SemDeDup semantic dedup over
    the aligned embeddings → token-budget shard packing of the
    survivors.  Proves the tier's operators compose without
    re-evaluation hazards: the classifier's aggregates, the curation
    tier's barrier'd regex/tokenize chain, the dedup's (id, cell)
    joins, and the packer's two-level prefix sum each appear ONCE in
    the optimized plan (exchange count pinned in pytest, the
    x_curation_pipeline pattern).

    ``synth_pii=False`` (default) redacts the caller's REAL text —
    what a production run wants.  ``synth_pii=True`` first appends
    synthetic emails/phones/IPs to every document
    (:func:`synth_pii_text`) so the redaction stage provably fires on
    corpora that contain no PII; it POLLUTES the Gopher metrics, token
    counts, and packing budgets, so it is a benchmark/demo knob only
    (the ``x_llm_pipeline`` gate uses it — its oracle replays the
    injection).

    Survivor rule: Gopher ``keep`` AND classifier ``prob ≥ prob_min``
    AND (no embedding row OR ``is_kept = 1`` from the semantic prune).
    Docs without an alphanumeric token produce no classifier row and
    drop (the inner join IS the gate).  Packing consumes the Gopher
    stage's redacted-text token counts (``pack_sequences(tokenizer=
    "counts")``) — the budget is counted on what a training run would
    actually ingest, not the raw text.

    Output, one row per surviving document:
    ``(doc_id, n_tokens, prob, cell_id, tokens_before, shard_id)``.

    At 100 TB: every stage keeps its own posture (hashed features — one
    map-side-combined aggregate; curation — narrow projection chain;
    SemDeDup — cell-bounded pairs, auto-√n cells when ``k=None``;
    packing — no serial global window); the composition adds only the
    survivor equi-joins on ``doc_id``, which AQE plans as broadcasts
    once the gates have cut the corpus down."""
    from kafka_merge_purge_spark.operators.dedup import semantic_dedup
    from kafka_merge_purge_spark.operators.text import pack_sequences
    from kafka_merge_purge_spark.plans import projection_barrier
    from kafka_merge_purge_spark.plans.introspect import python_barrier

    qc = quality_classifier(docs, weights, bias)
    if synth_pii:
        red = redact_pii(synth_pii_text(docs))
    else:
        red = redact_pii(docs, text_col="text")
    red = red.select("doc_id", "text_redacted")
    red = projection_barrier(red.withColumn("toks", tokens(F.col("text_redacted"))))
    # python_barrier: the keep-filter below would otherwise be pushed
    # through the metric projection and re-evaluate the whole Gopher
    # chain as a per-row predicate (measured 1.8 -> 8.5 s at sf0.1)
    g = python_barrier(
        gopher_rules(red, text_col="text_redacted", tokens_col="toks")
        .select("doc_id", "n_tokens", "keep")
    )
    sem = semantic_dedup(
        emb, id_col=emb_id_col, vec_col=vec_col,
        threshold=sem_threshold, k=k, iters=iters, centroids=centroids,
    )
    survivors = (
        g.filter(F.col("keep") == 1)
        .select("doc_id", "n_tokens")
        .join(
            qc.filter(F.col("prob") >= prob_min).select("doc_id", "prob"),
            "doc_id",
        )
        .join(
            sem.select(
                F.col(emb_id_col).alias("doc_id"), "cell_id", "is_kept"
            ),
            "doc_id",
            "left",
        )
        .filter(F.col("is_kept").isNull() | (F.col("is_kept") == 1))
        .select("doc_id", "n_tokens", "prob", "cell_id")
    )
    return pack_sequences(
        survivors, capacity=capacity, tokenizer="counts",
        passthrough=("prob", "cell_id"),
    ).select("doc_id", "n_tokens", "prob", "cell_id", "tokens_before", "shard_id")


# --------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the CommonCrawl-style first pass)
# --------------------------------------------------------------------------

#: query parameters stripped by canonical_url: tracking/session noise that
#: differs between fetches of the SAME resource (the public URL-normalization
#: recipe web-scale dedup pipelines apply before any content hashing).
#: NOTE: bare ``ref`` is deliberately NOT in the default list — unlike
#: fbclid/gclid it is frequently content-bearing (?ref=<branch> on code
#: hosts, ?ref=<page> pagination), and stripping it would merge genuinely
#: distinct resources which url_dedup then silently drops.  Corpora where
#: ref IS tracking noise pass ``tracking_keys=TRACKING_PARAM_KEYS +
#: ("ref",)`` explicitly.
TRACKING_PARAM_PREFIXES = ("utm_",)
TRACKING_PARAM_KEYS = ("fbclid", "gclid", "msclkid", "sessionid")


def canonical_url_expr(
    url: Column,
    tracking_keys: tuple[str, ...] = TRACKING_PARAM_KEYS,
    tracking_prefixes: tuple[str, ...] = TRACKING_PARAM_PREFIXES,
) -> Column:
    """Canonical form of an absolute http(s) URL as ONE narrow column
    expression (regexp extracts + array ops — no UDF, codegen'd):

    - scheme and host lowercased; leading ``www.`` stripped
    - default port stripped (``:443`` for https, ``:80`` for http)
    - path: trailing slashes stripped (``/a/`` ≡ ``/a``; root ≡ empty)
    - query: tracking params dropped (TRACKING_PARAM_*), remaining
      params sorted bytewise, rejoined with ``&``; empty query drops
      its ``?``
    - fragment dropped

    URL-level dedup is the FIRST pass of a web-corpus pipeline — it
    collapses refetches of one resource before any content hash runs,
    at the cost of a pure projection.  A non-URL input yields
    ``://`` + empty parts rather than NULL — screen inputs upstream."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(
        scheme == "https", F.regexp_replace(host, ":443$", "")
    ).otherwise(
        F.when(scheme == "http", F.regexp_replace(host, ":80$", "")).otherwise(host)
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    # the query must be extracted from the PRE-fragment text: on a
    # query-less URL like '/a#sec?x=1' an un-anchored \\?([^#]*) match
    # would read the fragment's '?x=1' as the query — the fragment
    # (documented as dropped) would leak into the canonical key
    pre_frag = F.substring_index(url, "#", 1)
    q = F.regexp_extract(pre_frag, r"\?(.*)$", 1)
    key = lambda p: F.substring_index(p, "=", 1)  # noqa: E731
    is_tracking = lambda p: (  # noqa: E731
        F.array_contains(
            F.array(*[F.lit(k) for k in tracking_keys]), key(p)
        )
        | functools_reduce_or(
            [key(p).startswith(pref) for pref in tracking_prefixes]
        )
    )
    params = F.array_sort(
        F.filter(
            F.split(q, "&"), lambda p: (p != "") & ~is_tracking(p)
        )
    )
    qs = F.array_join(params, "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
    )


def functools_reduce_or(cols: list[Column]) -> Column:
    """OR-fold a non-empty Column list (tiny helper; keeps
    canonical_url_expr readable)."""
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def canonical_url(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canonical_url",
    tracking_keys: tuple[str, ...] = TRACKING_PARAM_KEYS,
    tracking_prefixes: tuple[str, ...] = TRACKING_PARAM_PREFIXES,
) -> DataFrame:
    """Append the canonical form of ``url_col`` (see
    :func:`canonical_url_expr`) — a pure narrow map.  The stripped
    tracking-key set is caller-overridable (corpus-dependent: see the
    ``ref`` note on TRACKING_PARAM_KEYS)."""
    return df.withColumn(
        out_col,
        canonical_url_expr(F.col(url_col), tracking_keys, tracking_prefixes),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    tracking_keys: tuple[str, ...] = TRACKING_PARAM_KEYS,
    tracking_prefixes: tuple[str, ...] = TRACKING_PARAM_PREFIXES,
) -> DataFrame:
    """URL-level dedup: group by canonical URL, keep the LOWEST id (the
    dedup tier's deterministic survivor rule) and count the collapsed
    fetches.  One map-side-combined aggregate over the canonical key —
    the cheapest dedup tier, run before any content fingerprint.

    Output: (canonical_url, keep_id, n_fetches)."""
    return (
        canonical_url(df, url_col, "canonical_url", tracking_keys, tracking_prefixes)
        .groupBy("canonical_url")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_fetches"),
        )
    )


def weighted_reservoir(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int = 5,
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement per group —
    Efraimidis & Spirakis 2006 (A-ES): each row draws ``u ∈ (0,1)``
    and the ``k`` largest ``u^(1/w)`` keys win, which is exactly
    weight-proportional sampling without replacement.  The complement
    of :func:`importance_sample` (Bernoulli, variable output size):
    this one returns EXACTLY ``k`` rows per group (fewer only if the
    group is smaller), the shape quota-ed data mixing wants.

    Deterministic and engine-portable: ``u`` is the 60-bit md5 of the
    id (the repo's hash-uniform convention, not ``rand()``), and rows
    are ranked by the MONOTONE transform ``ln(u)/w`` (same order as
    ``u^(1/w)``, avoids cross-engine ``pow`` while ``ln``/``/`` are
    bitwise-stable per the unigram-logprob precedent), ties broken by
    id.  Non-positive/NULL weights drop (zero-weight rows must never
    be sampled; a NULL weight is a data bug surfaced by the count).

    Scale shape: ONE shuffle (the per-group window) — and Spark plans
    the ``rank ≤ k`` filter as a WindowGroupLimit with a PARTIAL phase
    (plan-verified: ``row_number(), k, Partial`` before the exchange),
    so each map task forwards only its own top ``k`` per group; the
    billion-row group never assembles anywhere.

    Output: (group_col, id_col, weight_col, rank 1..k)."""
    from pyspark.sql import Window

    u = md5_int(F.col(id_col).cast("string")).cast("double") / F.lit(float(2**60))
    key = F.log(u) / F.col(weight_col)
    w = Window.partitionBy(group_col).orderBy(F.desc("_key"), id_col)
    wcol = F.col(weight_col)
    guard = wcol.isNotNull() & (wcol > 0)
    if dict(df.dtypes).get(weight_col) in ("float", "double"):
        # Spark orders NaN ABOVE every number, so `NaN > 0` is true —
        # without this a NaN weight sails through the positivity screen
        # and its NaN sort key scrambles the ranking
        guard = guard & ~F.isnan(wcol)
    return (
        df.filter(guard)
        .select(group_col, id_col, weight_col, key.alias("_key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, id_col, weight_col, "rank")
    )


# --------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling
# --------------------------------------------------------------------------

def _gram_buckets(
    df: DataFrame, n_buckets: int, text_col: str, *keep: str
) -> DataFrame:
    """(keep..., bucket) — one row per unigram AND bigram instance of
    the normalized text, feature-hashed into ``n_buckets`` md5 buckets
    (the hashed n-gram features of Xie et al. 2023 §3).  Multiplicity
    preserved (DSIR scores count occurrences, not presence)."""
    from kafka_merge_purge_spark.operators.dedup import md5_int, normalize
    from kafka_merge_purge_spark.operators.text import tokens
    from kafka_merge_purge_spark.plans.introspect import projection_barrier, spread_width

    # tokenize ONCE per row into a barriered column (r16, the textrank
    # lesson): the bigram transform's lambda references the token array
    # per ELEMENT, and Catalyst neither hoists loop-invariant
    # subexpressions out of HOF lambdas nor keeps the projection from
    # being inlined — the former inline form re-ran normalize+split
    # ~2·len(toks) times per row
    t_expr = tokens(normalize(F.col(text_col)))
    t = F.col("_toks")
    bigrams = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # the gram explode is CPU-bound per row: spread the corpus over the
    # cluster BEFORE it, or a small parquet (few input splits) pins the
    # whole stage to a handful of tasks (measured 98 s → ~8 s at 10×)
    n_part = spread_width(df.sparkSession)
    src = df.filter(F.col(text_col).isNotNull())
    src = src.repartition(n_part, *keep) if keep else src.repartition(n_part)
    src = projection_barrier(src.select(*keep, t_expr.alias("_toks")))
    return (
        src.select(*keep, F.explode(F.concat(t, bigrams)).alias("_g"))
        .select(
            *keep, F.pmod(md5_int(F.col("_g")), F.lit(n_buckets)).alias("bucket")
        )
    )


def dsir_select(
    corpus: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): pick the ``k`` corpus documents whose hashed-n-gram profile
    looks most like a small in-domain ``target`` sample, with Gumbel
    noise so the selection SAMPLES the importance distribution instead
    of collapsing onto near-duplicates of the target — the principled
    form of "give me pretraining data that looks like my eval set".

    Exact cross-engine arithmetic (the sparse_cosine_topk idiom): the
    per-bucket log importance ratio

        lr_q(b) = floor(1e6 · ln( ((ct+1)·(Ns+B)) / ((cs+1)·(Nt+B)) ))

    (add-one smoothing over B buckets; ct/cs = target/corpus bucket
    counts, Nt/Ns totals) is quantized to int64 ONCE PER BUCKET, so
    every per-document score is a pure INTEGER sum — order-free under
    any partitioning, hash-identical in DuckDB; floats appear only in
    the one ln() per bucket with fixed IEEE parenthesization.  The
    Gumbel perturbation is derandomized md5: u = (h60(id)+1)/(2⁶⁰+2)
    ∈ (0,1), g_q = floor(1e6 · −ln(−ln(u))); selection = top-k of
    score_q + g_q with id tiebreak.

    Scale shape: gram explosion is linear and feeds two map-side-
    combined aggregates bounded by B rows each; the per-bucket ratio
    table (B rows) broadcasts into the per-document integer sum; the
    final top-k is ``orderBy(...).limit(k)`` = TakeOrderedAndProject —
    each task keeps k rows, NO single-task global window (at 10⁹ docs
    a row_number window here would be the bottleneck).

    Output: (doc_id, n_grams, score_q, key_q) for the k selected docs.
    """
    if k < 1:
        raise ValueError(f"dsir_select: k must be >= 1, got {k}")
    from kafka_merge_purge_spark.operators.dedup import md5_int

    B = n_buckets
    # collapse the gram explode ONCE into per-(doc, bucket) counts and
    # persist that bounded frame — both consumers (corpus bucket counts
    # and per-doc scores) read it, so the dominant explode stage runs
    # once instead of twice (r13 review); ≤ docs × min(grams, B) rows,
    # spilling to disk past memory.  The returned top-k plan reads db
    # lazily, so it cannot unpersist here.
    db = cached(
        _gram_buckets(corpus, B, text_col, id_col)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    src_b = db.groupBy("bucket").agg(F.sum("_cnt").alias("cs"))
    tgt_b = (
        _gram_buckets(target, B, text_col)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ns = src_b.agg(F.sum("cs").alias("_ns"))
    nt = tgt_b.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("_nt"))
    lr = (
        src_b.join(tgt_b, "bucket", "left")
        .crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nt))
        .select(
            "bucket",
            F.floor(
                F.log(
                    (
                        (F.coalesce("ct", F.lit(0)) + F.lit(1)).cast("double")
                        * (F.col("_ns") + F.lit(B)).cast("double")
                    )
                    / (
                        (F.col("cs") + F.lit(1)).cast("double")
                        * (F.col("_nt") + F.lit(B)).cast("double")
                    )
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("lr_q"),
        )
    )
    scored = (
        db.join(F.broadcast(lr), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_grams"),
            F.sum(F.col("_cnt") * F.col("lr_q")).alias("score_q"),
        )
    )
    u = (md5_int(F.col(id_col).cast("string")) + 1).cast("double") / F.lit(
        1152921504606846978.0  # 2^60 + 2: u in (0, 1) strictly
    )
    keyed = scored.withColumn(
        "key_q",
        F.col("score_q")
        + F.floor(-F.log(-F.log(u)) * F.lit(1000000.0)).cast("long"),
    )
    return keyed.orderBy(F.col("key_q").desc(), F.col(id_col)).limit(k)
