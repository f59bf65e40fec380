"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total exec sec>, "unit": "sec",
   "queries": {name: sec, ...}, "plan_build_sec": <total build sec>,
   "sf": <sf>}

Methodology (mirrors the reference's warmup+avg shape,
test/benchmark/bench_direct_insert.sh:17-19, and matches
tools/bench_oracle.py loop-for-loop):
- 2 warmup iterations, each a full build+execute (JIT/codegen compile,
  parquet footers, OS page cache — both engines get the same warmth),
  then 3 timed iterations where EACH iteration rebuilds the query's
  DataFrame (client plan construction) and collects it (execution) —
  exactly what the DuckDB side does per iteration (``con.execute`` =
  parse + bind + optimize + execute in a warmed process). ``value`` is
  the sum over queries of the mean per-iteration wall time, so it is
  directly comparable to the oracle sweep's total; ``plan_build_sec``
  and the implied execution remainder are reported as a breakdown.
  Plan construction is a per-query constant — it does not grow with
  data volume, so at the 100 TB design point it amortizes to noise;
  it is included here because at bench scale it is not noise and
  hiding it would flatter the comparison.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pg_ducklake_spark.plans import QUERIES
from pg_ducklake_spark.session import get_spark

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "events_by_type",
    "events_daily",
    "events_sessionized_gap",
    "rel_window_rank",
    "dedup_exact_stats",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_quality_scores",
    "sim_bruteforce_topk",
    "sim_lsh_bucket_topk",
    "ts_asof_join",
    "stats_price_quantity_corr",
    "pipe_filter_dedup_stats",
    # Full north-star families (dedup / similarity / text / time-series /
    # pipeline / event analytics) — the engine's flagship surface.
    "dedup_exact_groups",
    "dedup_substring_spans",
    "dedup_simhash_pairs",
    "sim_embedding_near_dup",
    "pipe_crossmodal_dup_check",
    "pipe_embedding_quality_corr",
    "pipe_source_quota_cap",
    "ts_asof_gap_stats",
    "ts_range_join_conversions",
    "ts_time_bucket_rollup",
    "text_langid_confusion",
    "text_token_counts",
    "text_fingerprint_dups",
    "text_char_ngram_profile",
    "text_repetition_scores",
    "stats_value_moments",
    "events_value_quantiles",
    "events_retention",
    "events_purchase_funnel",
    # Round-5 family completions: connected components (the canonical
    # keep-one-per-duplicate-cluster step after pair generation),
    # multimodal feature extraction, gap-fill interpolation, and
    # deterministic stratified sampling — the remaining north-star
    # pipeline stages, now benched alongside their families.
    "dedup_components",
    "mm_feature_extraction",
    "ts_gap_fill_locf",
    "pipe_stratified_sample",
    # Round-5 third-session families: SemDeDup cluster-scoped pruning,
    # the hashed linear quality classifier, the sketch pair (HLL
    # cardinality, count-min heavy hitters), and graph analytics over
    # the dup-pair graph — the flagship curation surface added this
    # session, benched alongside the families it extends.
    "dedup_semantic_prune",
    "text_quality_classifier",
    "stats_hll_distinct",
    "text_cms_heavy_hitters",
    "graph_triangle_census",
    "graph_degree_histogram",
    # Round-6 retrieval/LM family: BM25 top-k, bigram-LM perplexity,
    # BPE first-merge pair counts — benched alongside the text family.
    "text_bm25_topk",
    "text_bigram_perplexity",
    "text_bpe_pair_counts",
]


# 4 warmup passes: DuckDB is steady after one, but Spark's JIT keeps
# compiling hot paths through several sweeps — 2 warmups left the timed
# iterations measuring C2-compilation noise, not the engine. Both
# engines run the identical warmup count (tools/bench_oracle.py imports
# these constants), so the comparison stays symmetric.
WARMUP = 4
ITERS = 3

# Per-query runtime-conf policy (chosen by measurement over the
# tools/bench_tune.py / grid sweeps; applied before the query's plan is
# BUILT so the planner sees it — the same adaptivity a cost-based engine
# applies per query, done here statically because AQE's runtime
# replanning costs more than it saves at interactive scale). Whole-stage
# codegen stays on for every query: with the codegen cache sized to the
# working set (session.py) no class is recompiled after warmup, and
# all-on measured no slower over the sweep than turning codegen off for
# the window, explode and mapInPandas shapes.
# - 8 MB file splits only for queries whose timed stage is scan-bound
#   (big fan-out over lineitem/orders/events): the sf0.1 files are one
#   ~20 MB parquet each, so whole-file (128 MB) splits read them on one
#   core; everything else prefers the lower task count.
_SPLIT_8M = {
    # r12 re-measure (A/B, 5-draw medians, warmed session): q1's
    # single-file lineitem scan fused the whole decimal aggregate into
    # ONE 128 MB-split task (0.77 s -> 0.58 s at 8 MB); q8, the LSH
    # bucket probe, and the corr scan moved the same way. Queries where
    # 8 MB lost (q10, bm25, hll, bpe, asof) keep whole-file splits.
    "tpch_q1_pricing_summary",
    "tpch_q8_market_share",
    "sim_lsh_bucket_topk",
    "stats_price_quantity_corr",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "events_by_type",
    "events_daily",
    "events_sessionized_gap",
    "sim_embedding_near_dup",
    "text_langid_confusion",
    "text_repetition_scores",
}


def _apply_query_conf(spark, name: str) -> None:
    spark.conf.set(
        "spark.sql.files.maxPartitionBytes",
        str((8 if name in _SPLIT_8M else 128) * 1024 * 1024),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    # Bench-scale runtime tuning, chosen by measurement
    # (tools/bench_tune.py sweeps these combos): at sf0.1 every query's
    # working set is a few MB, so per-task scheduling overhead dominates
    # — 8 post-shuffle partitions and whole-file (128 MB) splits beat the
    # cluster defaults (32 partitions, 4 MB splits) by ~2x on the sweep.
    # AQE off: runtime re-planning pays a replan pause per stage — the
    # right trade over TBs (skew splits, coalescing), pure fixed latency
    # on sub-second local queries. The 100 TB deployment keeps the
    # session defaults (session.py): AQE on, narrow splits, wide shuffle.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))

    names = [n for n in HEADLINE if n in QUERIES]
    # Session warmup: the first analysis after session start pays JVM
    # parser/analyzer class-loading (~3 s) — a once-per-process cost,
    # not a per-query one; absorb it before any query is measured.
    # Pre-reading every table's parquet footer mirrors the oracle bench
    # (tools/bench_oracle.py creates its DuckDB views — footer reads
    # included — before its timing loop), keeping plan_build_sec a
    # measure of client plan construction, not one-time schema I/O.
    spark.sql("SELECT 1").collect()
    from pg_ducklake_spark.plans import TABLES, t as _t

    for tbl in TABLES:
        if os.path.exists(f"{sf_dir}/{tbl}.parquet"):
            _t(spark, sf_dir, tbl)
    spark.read.parquet(f"{sf_dir}/region.parquet").limit(1).collect()
    # Generated-class compiles (Spark's CodegenMetrics, JVM-wide): a warm
    # process should compile nothing in the timed loop.
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_SOURCE_CODE_SIZE
    )
    c_warmup = compiles().getCount()
    for _ in range(WARMUP):
        for name in names:
            _apply_query_conf(spark, name)
            QUERIES[name](spark, sf_dir).collect()
    build_sums = dict.fromkeys(names, 0.0)
    exec_sums = dict.fromkeys(names, 0.0)
    c_timed = compiles().getCount()
    for _ in range(ITERS):
        for name in names:
            _apply_query_conf(spark, name)
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.time()
            df.collect()
            t2 = time.time()
            build_sums[name] += t1 - t0
            exec_sums[name] += t2 - t1
    c_end = compiles().getCount()
    times = {
        n: round((build_sums[n] + exec_sums[n]) / ITERS, 4) for n in names
    }
    total = round(sum(times.values()), 4)
    plan_build = round(sum(build_sums.values()) / ITERS, 4)
    # Breakdown only: re-collect ONE prebuilt DataFrame per query. This
    # skips re-analysis AND lets Spark reuse shuffle map outputs across
    # runs, so it underestimates a fresh query's cost — but isolates
    # Spark's steady-state compute from its per-query fixed costs
    # (analysis, job scheduling), which amortize away at the 100 TB
    # design point. The headline `value` stays the honest rebuild loop.
    warm = {}
    for n in names:
        _apply_query_conf(spark, n)
        warm[n] = QUERIES[n](spark, sf_dir)
        warm[n].collect()
    warm_sums = dict.fromkeys(names, 0.0)
    for _ in range(2):
        for n in names:
            t0 = time.time()
            warm[n].collect()
            warm_sums[n] += time.time() - t0
    warm_exec = round(sum(v / 2 for v in warm_sums.values()), 4)
    # Idle-pair oracle sweep (same process, same session, right after
    # the Spark loop): round-over-round comparisons of the Spark total
    # were confounded by machine-state drift between driver runs (r8's
    # exec total moved 15% on queries whose code never changed). Timing
    # the DuckDB oracle over the SAME queries in the SAME session turns
    # each BENCH_r{N} into a self-contained pair — the ratio is
    # drift-immune even when the absolute numbers are not. Identical
    # loop shape to tools/bench_oracle.py (same WARMUP/ITERS).
    import duckdb

    con = duckdb.connect()
    for tbl in TABLES:
        path = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{path}')"
            )
    from pg_ducklake_spark.plans import ORACLES

    oracle_names = [n for n in names if n in ORACLES]
    for _ in range(WARMUP):
        for name in oracle_names:
            con.execute(ORACLES[name]).fetchall()
    oracle_sums = dict.fromkeys(oracle_names, 0.0)
    for _ in range(ITERS):
        for name in oracle_names:
            t0 = time.time()
            con.execute(ORACLES[name]).fetchall()
            oracle_sums[name] += time.time() - t0
    oracle_times = {n: round(v / ITERS, 4) for n, v in oracle_sums.items()}
    oracle_total = round(sum(oracle_times.values()), 4)
    print(
        json.dumps(
            {
                "metric": "headline_query_sweep_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "plan_build_sec": plan_build,
                "exec_sec": round(total - plan_build, 4),
                "warm_exec_sec": warm_exec,
                "total_incl_plan_build": total,
                "oracle_pair_sec": oracle_total,
                "oracle_pair_queries": oracle_times,
                "spark_vs_oracle_pair": (
                    round(total / oracle_total, 4) if oracle_total else None
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "codegen_compiles_warmup": c_timed - c_warmup,
                "codegen_compiles_timed": c_end - c_timed,
                "codegen_cache_max_entries": int(
                    spark.conf.get("spark.sql.codegen.cache.maxEntries")
                ),
                "warmup_iters": WARMUP,
                "timed_iters": ITERS,
                "timed": "build+execute per iteration (same loop as "
                "tools/bench_oracle.py: each timed pass reconstructs the "
                "DataFrame and collects it in a warmed process)",
            }
        )
    )


if __name__ == "__main__":
    main()
