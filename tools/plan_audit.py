"""Regenerate PLANS.md: the formatted physical plans of the headline
queries, with the properties each plan must keep (the same properties
tests/test_plans.py asserts).  Run after any planner-relevant change:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

HEADLINERS = {
    "q_merge_all": "routing flagship — must stay shuffle-free (one scan → one leg generator emitting both legs)",
    "q_agg_revenue": "TPC-H Q1 shape — partial+final HashAggregate, exactly one exchange",
    "q_join_orders_customer": "dimension chain — every dim a BroadcastHashJoin, no SortMergeJoin",
    "x_regional_volume": "6-table snowflake — fixed dims (nation, region) force-broadcast; customer/supplier left to AQE",
    "q_global_topn": "global top-N — TakeOrderedAndProject, never a full sort",
    "q_compaction": "per-key window — single hash exchange on the key",
    "q_embedding_neardup": "broadcast-corpus GEMM — zero exchanges (mapInPandas over the scan)",
    "x_minhash_pairs": "LSH banding — band self-join moves (id, band, band_key) only; shingles re-join per deduped candidate pair",
    "x_bloom_semi": "Bloom runtime filter (r13) — the sketch reaches the probe side as ONE BroadcastHashJoin on word_idx + a bitwise mask filter BEFORE the verification LeftSemi; exactness lives in the semi-join, scale in the pre-exchange prune",
    "q_dsir": "DSIR selection (r13) — linear gram explode (repartitioned to cluster parallelism first: a small parquet otherwise pins the stage to 2 tasks), two B-bounded hash aggregates, B-row broadcast ratio join, TakeOrderedAndProject top-k — never a global window",
    "x_rrf": "rank fusion (r13) — two TakeOrdered top-200 lists union into one map-side-combined aggregate + TakeOrderedAndProject; inputs bounded by construction",
    "x_dense_rank": "bucketed global rank (r13) — prefix-bucket window partitions + broadcast offsets; the naive single-task ORDER BY window never appears",
    "x_lsh_ann": "LSH ANN — signature frames carry (id, table, sig) only; vectors re-join per deduped candidate; top-k exchange is (query_id, neighbor_id, cos)",
    "x_similarity_ivf": "IVF ANN — cell assignment is a literal-centroid argmax projection (zero exchange corpus-side); probes broadcast; one shuffle total (top-k window)",
    "x_dup_spans": "substring dedup — corpus gram exchanges carry (id, pos, 8-byte hash) only; min≠max window generates CANDIDATES; the r11 exact-verify tier re-cuts candidate grams from per-doc token arrays (candidate-bound exchange) and re-decides membership on gram text; island windows bounded per doc",
    "x_line_dedup": "boilerplate lines — membership is a min≠max window on the 60-bit line hash, NO BroadcastExchange (the boilerplate set is unbounded)",
    "x_curation_pipeline": "fused curation — ONE aggregation exchange, zero joins; Generate barrier pins the regex/tokenize chain to a single evaluation; keep folds into conditional aggregation (no pushable filter)",
    "x_kmeans": "distributed k-means — literal-centroid narrow assignment (no corpus-side join), (cid,pos)-keyed decimal-mean partial aggregate per Lloyd round",
    "x_embedding_dedup_ann": "bucketed embedding dedup — signature frames carry (id, table, sig) only; candidate self-join on the bucket key; vectors re-join per deduped pair into a rowwise (not all-pairs) scoring kernel; components + one labeling window",
    "x_adaptive_tokens": "script-adaptive tokens — pure projection, zero exchanges; O(len) zip_with gram assembly (no substr-per-position)",
    "x_sorted_neighborhood": "SNM dedup — global rank via bucket-partitioned windows + broadcast offsets (no SinglePartition window); binned rank-block neighbor join; shingles re-join per candidate side",
    "x_heavy_hitters": "exact heavy hitters — map-side-combined hash agg + TakeOrdered; the MG sketch twin never shuffles raw values at all",
    "x_char_entropy": "entropy kernel — ZERO exchanges (stateless Arrow pass; ln/round stay Spark expressions)",
    "x_countmin": "count-min — the sketch exchange is CONSTANT (≤ depth·width rows after partial agg); the probe join broadcasts the sketch",
    "x_containment": "prefix-filter containment — rarest-prefix probes into the element index, every join an equi hash join; the int64 cross-multiplied threshold decides membership",
    "x_textrank_doc": "per-doc pagerank Arrow kernel (r15) — pagerank_grouped's bounded-group default regime: after the bounded worst-group probe, ONE Exchange(g) + FlatMapGroupsInPandas runs each doc's whole fixed-iteration int64 power loop vectorized in-task (bit-identical microranks, kernel-vs-joins pytest pin); top-k per doc stays a doc-partitioned WindowGroupLimit; the r14 join plan survives as impl='joins' for over-cap groups",
    "x_unigram_tokens": "unigram-LM token counts (r14) — broadcast vocab + ONE mapInPandas Arrow pass over the scan, zero joins/exchanges before the output; the Viterbi DP runs per word inside the kernel with a per-task cache",
    "x_triangles": "degree-oriented triangles — wedge self-join bounded by the (degree, node) orientation; the closing probe is a two-key equi hash join against the normalized edge set (never an OR over orientations)",
    "x_web_pipeline": "composed web curation — URL-dedup aggregate + zero-shuffle entropy kernel + ONE per-group quota window; no stage re-evaluates another's subtree",
    "x_edit_join": "Ed-Join fuzzy string join — rarity-prefix candidates from a shared-(gram, rank) equi join + bag-count bound; levenshtein verifies candidates only (never all pairs); short strings via the length-bucket tier",
    "x_nation_volume": "TPC-H Q7 shape — fact chain shuffles on its keys once; supplier + both nation sides broadcast; the pair disjunction filters before the year aggregate",
    "x_link_auc": "exact AUC over banded pairs (r15) — the bounded-offset pair stage is offset_pairs' EQUI hash join (b.id == a.id + exploded d), never a BroadcastNestedLoopJoin, and the dot product evaluates post-join on the 4n real pairs only; the AUC tail is map-side-combined per-score counts + the two-level prefix sum (no global sort, no pair re-enumeration)",
    "x_naive_bayes": "NB train+score (r15) — token explode into three map-side-combined counts; the class-stats join is word-keyed equi (AQE picks broadcast for bounded vocab), the doc-grid fill is a 1-row-broadcast cross; the per-doc argmax is a struct-min AGGREGATE — zero Window nodes anywhere (a row_number over doc×label would per-partition-sort every candidate row)",
    "x_cusum": "CUSUM changepoint (r15) — per-second counts map-side combine; the inclusive cumulatives are the bucketed two-level prefix sum (bucket-partitioned windows + one tiny bucket-total window, never a single-task window over the time axis); the argmax with earliest-position tie-break is ONE struct-max aggregate (max(d, -order)) — no second pass over the series",
    "x_bootstrap_ci": "Poisson bootstrap CI (r15) — ONE md5 per ROW under a projection_barrier BELOW the replicate explode (CollapseProject otherwise re-hashes per row x replicate: 24 s vs 4 s at sf0.1, 10^11 extra md5s at 10^9 rows); per-replicate weights are int64 Weyl-counter arithmetic (30-bit limb products, no decimal, no pmod-by-non-power), replicate sums LONG with the ANSI overflow envelope; R-row percentile windows are bounded by construction",
}

#: Iterative operators execute as a LOOP of materialized rounds — their
#: final plan is just a checkpoint scan, so PLANS.md captures the
#: REPRESENTATIVE PER-ROUND plan instead (the thing that must stay
#: exchange-minimal at 100×): the step function's round-0 output frame,
#: grabbed by an iterate() spy before materialization hides it (r11
#: verdict item 6).  Exchange inventory in each annotation.
ROUND_HEADLINERS = {
    "x_sssp": "per-round Bellman-Ford relax — the FRONTIER (rows improved last round, the carried _fr flag; r15) broadcast-joins into the cached src-partitioned edge set (auto regime; x_sssp_shuffle pins the shuffle twin), ONE min-agg shuffle keyed by node; the left-join least() merge is unchanged and re-offers from settled nodes never reach the exchange",
    "x_kcore": "per-round DELTA peel (r15, Matula-Beck decrement form) — victims (deg<k) join the cached adjacency ONCE and their neighbors' degrees decrement (deg_new = deg_old - edges-to-victims; decrements toward dead nodes discard in the survivor left join); per-round shuffle O(victim edges), TOTAL O(|E|) across all rounds vs the r14 full re-screen's O(rounds*|E|); convergence flag = one 1-row victim count; state (node, deg), shrinking monotonically; results round-identical to the recompute form (hash unchanged)",
    "x_hits": "per-round double power step — the two edge-join score aggregates are the only real shuffles; L1 normalization sums ride 1-row broadcast cross-joins; in-round localCheckpoints stop the 2-4x re-evaluation of twice-referenced aggregates",
    "x_walks": "per-step uniform walk (r15 grouped form) — ONE inner equi join of the O(walks) state onto the materialized one-row-per-node sorted neighbor-array adjacency; the pick is a single element_at on the matched row, sinks retire AT ARRIVAL via the precomputed _vdead flag (the r14 per-round LeftAnti sink screen is gone); the md5 coin is expression-level (no RNG, no Python)",
    "x_node2vec": "per-step biased walk — the O(walks) state joins the cached per-node neighbor-ID array frame (cur + prev, int64); the md5 coin is EXPRESSION-LEVEL (rides the plan, r13) and the weighted pick runs CROSS-ROW vectorized in ONE Arrow kernel (flat segment numpy: concatenate/repeat/reduceat + one global searchsorted — no per-row Python loop); one id-to-node join materializes the pick — nothing per-candidate ever shuffles (the candidate-join form OOMed then ran 334 s at the 10x bench)",
    "x_louvain": "per-round mutual-best merge over the CONTRACTED community multigraph (r15 — true Louvain aggregation): the corpus edge list is touched once at build (one (src,dst) aggregate, materialized); each round's decision chain (sig/pair aggregates, best/mutual self-join) reads the contracted ce leaf, the matched labels remap INTO ce (two small left joins + re-aggregate, materialized), and the per-node label state takes one remap left join — every round's work is bounded by surviving community pairs, never |E| (the r14 form re-joined the full edge list twice per round); integer weight sums make contraction byte-identical to relabel-then-aggregate, so the hash is unchanged",
    "x_betweenness": "per-round BFS-with-sigma (r14) — the captured round is the forward front expansion: ONE equi join of the dist==i front onto the cached src-partitioned edges + one (node,lsrc) sum-aggregate + a left_anti freshness screen; the backward Brandes sweep mirrors it with a (dst,lsrc) join; state = reached (node,lsrc) pairs only",
    "q_scc_pregel": "SCC outer round, phase 1 (trim) — the captured round is the source/sink peel: two survivor semi-screens of the checkpointed live edge set + a semi-join intersection of src/dst endpoint sets, convergence = two 1-row count aggs; the forward color phase keeps its pointer-jump, the in-color-backward phase is ONE-HOP only (r13: the jump's leaf-with-own-projection broadcast join measured a 2.6x-per-round driver-side blowup as labels converge — 293 s -> 22 s at sf0.1 after removal, hashes unchanged), all O(nodes) state",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as entry
    from kafka_merge_purge_spark.plans.introspect import formatted_plan
    from kafka_merge_purge_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}`; plan-shape",
        "invariants are enforced by tests/test_plans.py.  Formatted plans",
        "are pre-execution (AQE may further improve them at runtime).",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = getattr(entry, name)(spark, sf_dir)
        out += [f"## {name}", "", f"*{why}*", "", "```", formatted_plan(df).strip(), "```", ""]

    # iterative headliners: capture the round-0 step frame via an
    # iterate() spy (pre-materialization — the loop's real per-round plan)
    import kafka_merge_purge_spark.operators.iterate as I

    real_iterate = I.iterate
    for name, why in ROUND_HEADLINERS.items():
        captured: list = []

        def spy(state, step, max_rounds, **kw):
            captured.append(step(state, 0))
            return real_iterate(state, step, max_rounds, **kw)

        I.iterate = spy
        try:
            getattr(entry, name)(spark, sf_dir)
        finally:
            I.iterate = real_iterate
        # NOTE: the spy invokes step(state, 0) one extra time before the
        # real loop — harmless only while steps stay pure plan builders.
        if not captured:
            raise RuntimeError(
                f"{name}: no iterate() call captured — the operator no "
                "longer routes through iterate(); update ROUND_HEADLINERS"
            )
        out += [
            f"## {name} (per-round plan)",
            "",
            f"*{why}*",
            "",
            "```",
            formatted_plan(captured[0]).strip(),
            "```",
            "",
        ]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS) + len(ROUND_HEADLINERS)} plans)")


if __name__ == "__main__":
    main()
