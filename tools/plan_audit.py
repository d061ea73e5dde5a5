"""Physical-plan audit: sweep every registered query and flag anti-scale
patterns. Run: python tools/plan_audit.py [sf_dir] — writes PLAN_AUDIT.md.

Checks per query:
- exchanges: shuffle count (each is a full network round of the data)
- cartesian/BNLJ: quadratic joins, allowed only for declared all-pairs
  operators (brute-force similarity, simhash pairs)
- python: Arrow/Python evaluation nodes, allowed only for declared
  pandas-UDF operators
- pushdown: scans with filters must show PushedFilters
- codegen: count of whole-stage codegen spans in the FINAL plan. Zero
  spans on a non-Python plan means every stage runs interpreted — the
  silent-Janino-failure shape (the r11 embedding-LSH defect) — and is
  flagged NO-CODEGEN-SPANS.
- global windows: a Window whose child is Exchange SinglePartition
  funnels its whole input through one task; allowed only where the
  input is provably tiny (post-limit top-k, n_bins-row offset
  relations, per-month aggregates) or the query IS the W4 window-
  function surface on the bounded customer table
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from flink_kakfa_spark import registry
from flink_kakfa_spark.session import get_spark

# operators whose semantics are genuinely all-pairs / python-based
ALLOWED_QUADRATIC = {
    "join_cross_region_nation",  # explicit tiny cross join
    "sim_cosine_topk", "sim_euclidean_topk", "sim_cosine_topk_pandas",
    "sim_lsh_ann_topk", "sim_ivf_kmeans_topk",  # 1-row broadcast query vector
    "sim_ivf_portable_topk",  # 1-row codebook + 1-row query vector broadcasts
    "sql_having_scalar_subquery",  # scalar subquery joins as 1-row BNLJ
    "sample_seeded",               # 1-row x 1-row aggregate spine crossJoin
    "text_tfidf_top20",            # 1-row corpus-size broadcast cross join
    "corpus_domain_filter",        # 1-row corpus-avg threshold broadcast cross join
    "ts_resample_gapfill", "ts_gapfill_locf",  # bucket-spine × dims (tiny, broadcast)
    "text_unigram_surprisal",      # 1-row corpus-total broadcast cross join
    # round-4 tail + round-5 additions, same 1-row/tiny spine shapes:
    "corpus_dataset_card",         # 1-row corpus-rollup spine crossJoin
    "text_oov_rate",               # 1-row vocab-floor threshold broadcast
    "sim_sq8_rescore_topk",        # 1-row query-vector + quantizer broadcasts
    "tpch_q11_important_stock",    # scalar subquery (global value threshold)
    "tpch_q22_global_sales_opportunity",  # scalar subquery (global avg balance)
    "constraint_check_summary",    # three 1-row check aggregates crossJoined
    "pipeline_train_split",        # 1-row corpus-total broadcast cross join
    "join_bloom_filtered_revenue", # 1-row Bloom-bitmap broadcast cross join
    "dedup_embedding_cosine",      # tables*bits-row hyperplane-weight broadcast cross join (<=320 rows at any corpus)
    "rag_bm25_topk",               # 1-row corpus-stats (N, avgdl, df) broadcast
    "profile_join_key_skew",       # 1-row key-stats broadcast onto top-N keys
    "sim_pq_adc_topk",             # 1-row codebook + 1-row ADC table + 1-row query broadcasts
    "dedup_semdedup",              # 1-row anchor codebook + #cells-row representative broadcasts
    "text_bigram_perplexity",      # 1-row corpus-total broadcast cross join
    "corpus_dsir_weights",         # 1-row LM-totals broadcast cross join (DSIR smoothing constants)
    "decontam_embedding",          # eval split broadcast (KB-MB by construction), corpus streams map-side
    "emb_covariance_stats",        # 1-row n / trace broadcasts onto the d²-row covariance relation
    "emb_power_iteration_top",     # 1-row max/lambda/den broadcasts in the spectral iteration
    "emb_kmeans_portable",         # k-row centroid frame broadcast per Lloyd round (assignment is in-array)
    "basket_association_rules",    # 1-row basket-count broadcast cross join
    "sample_neyman_allocation",    # 1-row weight-total broadcast cross join
    # distributed_rank users: n_bins-row boundary + offset + 1-row
    # total broadcasts attach to every fact row (the point: no
    # single-partition window)
    "profile_equidepth_price",
    "pipeline_curriculum_order",
    # 1-row budget / per-round remaining-total broadcasts onto the
    # |sources|-row waterfilling state (corpus itself never re-joined)
    "corpus_epoch_capped_budget",
    # 1-row global (min,max) range broadcast onto the binning pass
    "drift_psi_report",
    # inherits sim_cosine_topk's 1-row query-vector broadcast; the
    # fusion join itself is two 10-row lists
    "rag_hybrid_rrf_topk",
    # 1-row (n_users, sum_np) conversion-threshold broadcast cross join
    "ab_test_proportions",
    # 1-row Rademacher sign-matrix broadcast cross join (built by one
    # nested HOF projection, never a d x m join)
    "emb_jl_projection_quality",
    # declared exact pass: 1%-anchor frame broadcast into a label-
    # inequality BNLJ with hoisted norms; the IVF-cell-pruned variant
    # is the 100 TB path (docstring) — same class as decontam_embedding
    "emb_hard_negatives",
    # pair spine = |types| x |types| theta self-join on the distinct
    # event-type relation (<=5 rows/side); every fact-scale join in
    # the query is an equi-join
    "sketch_kmv_set_overlap",
    "sketch_theta_difference",  # same pair-spine shape as set_overlap
    # 1-row corpus-stats broadcast (BM25 shape) + 1-row dcg/idcg/nrel
    # scalar fuses
    "eval_retrieval_metrics",
    # 1-row corpus-stats broadcast (BM25 shape), queries exploded
    # inline in one pass
    "rag_bm25_multiquery_topk",
    # 1-row fold-total broadcast cross join (lazy-scalar pattern)
    "pipeline_kfold_assignment",
    # |sources| x top-V vocab grid built by crossing two tiny
    # broadcast relations (+1-row totals) — never the corpus
    "text_js_divergence_sources",
    # composes sim_cosine_topk + the five ANN queries wholesale, so it
    # inherits their declared 1-row query-vector/codebook broadcasts;
    # the audit's own joins are 10-row x <=50-row broadcasts
    "sim_ann_recall_at_k",
    # same single-bucket LSH shape as sim_lsh_ann_topk, with a 5-row
    # probe-bucket broadcast instead of a 1-row one
    "sim_lsh_multiprobe_topk",
}
ALLOWED_PYTHON = {
    "mm_decode_frames", "mm_extract_features", "sim_cosine_topk_pandas",
    "sim_ivf_kmeans_topk",  # KMeans fit
    "dedup_minhash_lsh",    # pyspark.ml LSH
    "mm_wav_roundtrip_features",  # declared mapInPandas stdlib codec
    "mm_bmp_roundtrip_features",  # declared mapInPandas stdlib codec
    "mm_image_ahash_groups",      # declared mapInPandas stdlib codec + aHash
    "mm_audio_vad_features",      # declared mapInPandas stdlib codec + VAD
    "mm_image_resize_thumb",      # declared mapInPandas stdlib codec + resize
    "mm_audio_resample_stats",    # declared mapInPandas stdlib codec + decimate
    "quality_compression_ratio",  # declared mapInPandas zlib gate (no SQL twin exists)
}

# Queries whose >4 exchanges all sit on KB-sized side inputs (the fact
# table itself still shuffles <=1 time); re-justify before adding.
ALLOWED_SMALL_SIDE_SHUFFLES = {
    # build side = supplier-subset keys: distinct + bit-position groupBy
    # + 1-row bitmap fold are all shuffles of <=O(|suppliers|) rows
    "join_bloom_filtered_revenue",
    # collapse-first simhash (round 7): the digest collapse adds one
    # text-keyed exchange + the checkpoint read; every exchange after
    # the collapse moves distinct-text-sized relations (signatures,
    # band bytes, <=20-row class expansions), never the corpus
    "dedup_simhash",
    # witness-minimal PPJoin census (round 9 rewrite, allowance added
    # round 10 when the EXPLICIT repartition on the prefix join key —
    # the fix for AQE coalescing the input-small/output-huge prefix
    # index to ~2 partitions — tipped the count to 5): token-df
    # groupBy (vocab-sized), per-doc canonical-array groupBy and
    # digest collapse (doc/distinct-text-sized), the deliberate
    # prefix-index repartition (reps x ~plen rows), and the
    # few-bucket census agg. The candidate stream itself NEVER
    # exchanges — that is the point of the witness-minimal form.
    "dedup_jaccard_prefix_filter",
    # recall audit: a UNION of five registered ANN plans plus the
    # exact ranker — each contributes its own (already individually
    # audited) small-side exchanges; post-union everything is <=50
    # rows joined to the broadcast 10-row exact list and a 5-row
    # groupBy. Composition, not a new shuffle pattern.
    "sim_ann_recall_at_k",
    # two independent single-shuffle fact passes (daily sketch build;
    # exact user-day distinct for the tolerance contract) — everything
    # else shuffles the day-spine-sized sketch/count relations. At
    # production scale the exact branch doesn't exist: the standing
    # daily sketch table is the only fact-derived artifact.
    "rolling_wau_hll",
    # distributed_rank 2-pass global rank: the fact shuffles once
    # (bin-partitioned local rank, map-side-combined bin counts fold
    # to <=32 rows); the other exchanges move the n_bins-row
    # boundary/offset/count relations. This is the REPLACEMENT for a
    # single-partition NTILE window — parallel by construction.
    "profile_equidepth_price",
    "pipeline_curriculum_order",
    # the pair stream shuffles ONCE (window count on its own (w1,w2)
    # key); every other exchange moves vocab-sized data (unigram
    # counts after map-side partial agg, the 1-row total) — sublinear
    # in corpus size. At production scale the vocab aggregate is
    # materialized once, collapsing the repeated build branches.
    "text_bigram_perplexity",
    # the fact (embeddings) shuffles once into the per-cell rep
    # election and once into the final per-cell agg — both collapse
    # map-side to #cells rows; the rest are 1-row codebook and
    # #cells-row representative broadcasts.
    "dedup_semdedup",
    # two word-count aggregates collapse map-side to vocab-sized
    # relations; 1-row totals broadcast; the token stream shuffles
    # once (per-doc mean) — same skeleton as text_bigram_perplexity
    "corpus_dsir_weights",
    # index side streams map-side past broadcast batch digests/
    # shingles (never shuffled at its own size); the 5 exchanges
    # carry batch-doc keys and post-filter survivors only
    "dedup_incremental_ingest",
    # co-purchase edge construction: per-order collect_set (bounded
    # <=7 lines/order) + pair dedup are the two fact shuffles; the
    # node-degree groupBy and the log2-bucket agg + ORDER BY move
    # per-node degree rows, then <=64 histogram rows
    "graph_degree_stats",
    # the Gram pass shuffles <= partitions*d² PRE-AGGREGATED rows
    # (map-side combine) — the only data-linked exchange; everything
    # after moves the d²=4096-row covariance relation or d-row
    # vectors per spectral round
    "emb_covariance_stats",
    "emb_power_iteration_top",
    # per Lloyd round: ONE n-row argmin exchange (the data-linked
    # shuffle) + a k·d-row map-side-combined centroid update + k-row
    # re-assembly; seeds ride an 8-row post-limit window
    "emb_kmeans_portable",
    # k bounded iteration rounds over the localCheckpoint-ed
    # adjacency (AQE does not reuse exchanges across its stages —
    # measured, SCALE.md); per-round exchanges move the per-node
    # rank frame and its aggregate, never the fact table
    "graph_pagerank_top20",
    "graph_adamic_adar_top20",
    # pair counts (bounded <=21/order), item counts (catalog-sized),
    # two-direction rule union, 1-row basket-count broadcast
    "basket_association_rules",
    # the corpus shuffles ONCE (per-source token totals, map-side
    # combined to |sources| rows); the 4 unrolled waterfilling rounds
    # iterate that KB-sized localCheckpoint-ed state — every further
    # exchange moves <=|sources| rows or a 1-row remaining-total
    "corpus_epoch_capped_budget",
    # the fact shuffles ONCE into (type, bin) cells (map-side
    # combined); totals/PSI/ordering exchanges move <=|types|x|bins|
    # rows
    "drift_psi_report",
    # two fact-scale passes by design: the (type, day, hash) distinct
    # that feeds the sketch build, and the exact countDistinct kept
    # only to report realized error (absent at production scale —
    # the standing daily sketch table is the artifact). Everything
    # else moves <=k rows per (type, day).
    "sketch_kmv_distinct_rollup",
    # two fact-scale passes by design (sketch-feed distinct + the
    # exact-overlap error report); the salted partial k-min bounds
    # every window input; all other exchanges move <=|types|*k
    # sketch rows or |pairs| result rows
    "sketch_kmv_set_overlap",
    "sketch_theta_difference",  # same two-declared-pass shape
    # the fact shuffles once (the (part, file) manifest build, map-side
    # combined; at production scale the manifest IS table metadata and
    # even that pass disappears) — the window, both rollups and the
    # join all move manifest rows, metadata-sized by construction
    "lake_compaction_plan",
    # one (source, word) token shuffle (localCheckpoint-ed, 3
    # consumers); vocab/source totals and the grid join move
    # vocab-sized relations
    "text_js_divergence_sources",
    # one (type, day) fact aggregate; every window partitions on
    # event_type over calendar-bounded day counts
    "ts_cusum_changepoint",
    # the token stream aggregates twice (per-doc tf build feeds both
    # the 1-row corpus stats and the scoring pass — at production
    # scale the tf table is persisted once); ranking exchanges move
    # df-sized candidate rows partitioned by query_id
    "rag_bm25_multiquery_topk",
}


# Queries whose single-partition windows sit on provably tiny inputs
# (or are themselves the demonstrative window-function surface);
# re-justify before adding. Every OTHER query must rank via
# operators/distributed_rank.py or a partitioned window.
ALLOWED_GLOBAL_WINDOW = {
    "window_ntile_percentiles",   # W4 surface itself; bounded customer table
    "growth_mom_revenue",         # input = one row per month
    "profile_join_key_skew",      # window after LIMIT 10
    "sample_weighted_topk",       # window after LIMIT 20
    "profile_equidepth_price",    # offsets window over n_bins<=32 rows
    "pipeline_curriculum_order",  # offsets window over n_bins<=32 rows
    "corpus_mixture_weights",     # OVER () on one row per source (<=20)
    "corpus_temperature_sample",  # OVER () on one row per source (<=20)
    "text_lang_distribution",     # OVER () on one row per lang (<=5)
    "sim_pq_adc_topk",            # rank over top-k candidate rows
    "sql_recursive_month_spine",  # generated 12-row month spine
    "trend_slope_per_type",       # one row per event type (<=5)
    "text_length_histogram",      # OVER () on <=64 log2-bucket rows
    # ordered frontier sweep over the (price, max_size) aggregate —
    # <=|distinct prices| rows, never the part facts (skyline.py
    # two-phase plan)
    "pareto_frontier_parts",
    # rank windows over the two post-limit 10-row top-k relations
    "eval_retrieval_metrics",
}


def _global_window(plan: str) -> bool:
    """True if any Window node's child (within a few tree lines) is an
    Exchange SinglePartition — the all-rows-through-one-task shape."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln) and "windowspecdefinition" in ln:
            for la in lines[i + 1 : i + 6]:
                if "Exchange SinglePartition" in la:
                    return True
    return False


def audit(name: str, fn, spark, sf_dir: str) -> dict:
    df = fn(spark, sf_dir)
    # collect() on THIS DataFrame finalizes ITS AdaptiveSparkPlanExec.
    # (A noop write — used before r11 — executes a separate command
    # QueryExecution and leaves this one at isFinalPlan=false: every
    # metric below then reads the static pre-AQE plan and the codegen
    # column is identically zero because WSCG wrapping only happens per
    # query stage at execution.)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # A finalized AdaptiveSparkPlan prints the final plan AND an
    # "== Initial Plan ==" section; counting the whole text doubles
    # every exchange/scan (round 11: the first collect-based audit
    # read 8 shuffles for cohort_weekly_retention's 4). Audit the
    # final section only.
    plan = plan.split("== Initial Plan ==")[0]
    n_exchange = len(re.findall(r"Exchange (hash|range|SinglePartition)", plan))
    n_bcast = plan.count("BroadcastExchange")
    quad = ("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan)
    python = ("ArrowEvalPython" in plan) or ("BatchEvalPython" in plan) or ("MapInPandas" in plan) or ("FlatMapGroupsInPandas" in plan)
    scans = plan.count("FileScan")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    codegen_ids = set(re.findall(r"\*\((\d+)\)", plan))
    flags = []
    if quad and name not in ALLOWED_QUADRATIC:
        flags.append("UNDECLARED-QUADRATIC-JOIN")
    if python and name not in ALLOWED_PYTHON:
        flags.append("UNDECLARED-PYTHON-EVAL")
    if n_exchange > 4 and name not in ALLOWED_SMALL_SIDE_SHUFFLES:
        flags.append(f"MANY-SHUFFLES({n_exchange})")
    if _global_window(plan) and name not in ALLOWED_GLOBAL_WINDOW:
        flags.append("GLOBAL-WINDOW")
    # A non-Python plan with zero WSCG spans runs fully interpreted —
    # the silent-Janino-compile-failure shape (embedding-LSH, r11).
    # Exception: a zero-row result lets AQE collapse the whole plan to
    # EmptyRelation (decontam_minhash at sf0.01), which legitimately
    # has no codegen spans and proves nothing about execution mode.
    if not codegen_ids and not python and "EmptyRelation" not in plan:
        flags.append("NO-CODEGEN-SPANS")
    return {
        "name": name,
        "shuffles": n_exchange,
        "broadcasts": n_bcast,
        "scans": scans,
        "pushed_scans": pushed,
        "codegen_spans": len(codegen_ids),
        "quadratic": quad,
        "python": python,
        "flags": flags,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    registry.load_all()
    spark = get_spark("plan-audit", shuffle_partitions=8)
    rows = []
    for name in sorted(registry.QUERIES):
        try:
            rows.append(audit(name, registry.QUERIES[name], spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            rows.append({"name": name, "flags": [f"ERROR: {e}"], "shuffles": -1,
                         "broadcasts": 0, "scans": 0, "pushed_scans": 0,
                         "codegen_spans": 0, "quadratic": False, "python": False})
    flagged = [r for r in rows if r["flags"]]
    lines = [
        "# PLAN_AUDIT — physical-plan sweep of every registered query",
        "",
        f"sf_dir: `{sf_dir}` · queries: {len(rows)} · flagged: {len(flagged)}",
        "",
        "| query | shuffles | broadcasts | scans | pushed | codegen | quad | py | flags |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['name']} | {r['shuffles']} | {r['broadcasts']} | {r['scans']} | "
            f"{r['pushed_scans']} | {r['codegen_spans']} | "
            f"{'y' if r['quadratic'] else ''} | {'y' if r['python'] else ''} | "
            f"{', '.join(r['flags'])} |"
        )
    with open(os.path.join(REPO, "PLAN_AUDIT.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-min(len(rows), 10):]))
    print(f"\nflagged: {[r['name'] for r in flagged]}")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
