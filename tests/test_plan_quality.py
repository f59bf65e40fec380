"""Physical-plan quality gates: the properties that decide whether these
queries survive a 100 TB scale-up (SURVEY.md §4.2). Asserting on
explain output keeps plan regressions from slipping in silently."""

import re

import pytest


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    from pg_ducklake_spark.plans import QUERIES

    def get(name):
        return QUERIES[name](spark, sf_dir)

    return get


def test_filter_pushdown_reaches_parquet(plans):
    """q6's range+equality filters must reach the scan (PushedFilters)."""
    s = formatted(plans("tpch_q6_forecast_revenue"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", s)
    assert m and "l_shipdate" in m.group(1) and "l_quantity" in m.group(1)


def test_column_pruning(plans):
    """q6 reads 4 of 11 lineitem columns — ReadSchema must be pruned."""
    s = formatted(plans("tpch_q6_forecast_revenue"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m
    cols = [c.split(":")[0] for c in m.group(1).split(",")]
    assert set(cols) <= {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_dimension_joins_broadcast(plans):
    """q5's six-way join: every dimension side broadcasts; the only
    shuffle join key is the fact-to-orders edge."""
    s = plan_of(plans("tpch_q5_local_supplier_volume"))
    assert s.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in s


def test_no_cartesian_products_anywhere(plans, spark):
    """Nothing in the library may plan a cartesian product except the
    deliberately tiny region self-pair query."""
    from pg_ducklake_spark.plans import QUERIES

    allowed = {"rel_cross_join_small", "sim_bruteforce_topk"}  # broadcast NL by design
    for name, fn in QUERIES.items():
        if name in allowed or name.startswith("lake_"):
            continue
        plan = plan_of(fn(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_no_sort_merge_joins_in_library(spark):
    """Every join in the query library either broadcasts its small side
    or hashes — a SortMergeJoin at these dimension sizes means a missing
    broadcast hint or a stats-estimation regression. (At 100 TB the
    fact-fact edges would legitimately SMJ; the library's joins are all
    fact-dim or pre-aggregated.)"""
    from pg_ducklake_spark.plans import QUERIES

    offenders = []
    for name, fn in QUERIES.items():
        if name.startswith("lake_") or name in ("sim_ivf_topk", "mm_feature_extraction"):
            continue
        df = fn(spark, "/root/testdata/sf0.01")
        plan = plan_of(df)
        if "SortMergeJoin" in plan:
            # Unbounded sides carry no forced broadcast hint (they'd OOM
            # at 100 TB), so the INITIAL plan may SMJ off an inflated
            # static estimate — but AQE must convert to broadcast once
            # the runtime size is known. Execute and check the final plan.
            df.collect()
            # plan_of on a finalized AdaptiveSparkPlan appends the
            # "== Initial Plan ==" dump — only the final section counts.
            final = plan_of(df).split("== Initial Plan ==")[0]
            if "SortMergeJoin" in final:
                offenders.append(name)
    assert not offenders, f"SortMergeJoin survived AQE in: {offenders}"


def test_partial_aggregation_before_shuffle(plans):
    """q1 must map-side combine (partial HashAggregate under the
    exchange) — at scale this is the difference between shuffling 6
    rows per partition and shuffling the table."""
    s = plan_of(plans("tpch_q1_pricing_summary"))
    assert re.search(r"HashAggregate.*partial", s, re.I | re.S) or "partial_" in s


def test_whole_stage_codegen_on_hot_path(plans):
    """The q1 aggregation pipeline stays inside whole-stage codegen
    (AQE finalizes the plan only after execution, so run it first)."""
    df = plans("tpch_q1_pricing_summary")
    df.collect()
    s = plan_of(df)
    # codegen stages appear as *(N) markers in the final adaptive plan
    assert "isFinalPlan=true" in s
    assert re.search(r"\*\(\d+\) HashAggregate", s), "aggregate not codegen'd"


def test_minhash_no_shingle_recompute_in_filter(plans):
    """The dedup shingle pipeline must not re-evaluate the transform
    inside a pushed Generate filter (the explode_outer fix)."""
    s = plan_of(plans("dedup_minhash_lsh"))
    gen = [ln for ln in s.splitlines() if "Generate" in ln]
    assert gen, "expected a Generate (explode) node"
    filt = [ln for ln in s.splitlines() if ln.strip().startswith("+- Filter") and "transform(" in ln]
    assert not filt, "shingle transform re-evaluated in a Filter below Generate"


def test_lake_scan_prunes_files(spark, lake):
    """Metadata min/max pruning: a selective scan plans fewer input
    files than the table holds."""
    from pyspark.sql import functions as F

    lake.create_table("t", "a int")
    for lo in (0, 100, 200):
        lake.insert(
            "t",
            spark.range(lo, lo + 100).select(F.col("id").cast("int").alias("a")).coalesce(1),
        )
    assert lake.table_info("t")["file_count"] == 3
    state = lake._state("t")
    from pg_ducklake_spark.operators.pruning import prune_files

    assert len(prune_files(state, "a >= 250")) == 1
    assert len(prune_files(state, "a = 150")) == 1
    assert len(prune_files(state, "a < 1000")) == 3
    got = lake.scan("t", "a >= 250").count()
    assert got == 50


def test_pack_sequences_no_global_window(spark, sf_dir):
    """The unsharded pack_sequences path must never plan a
    single-partition WindowExec (the 100 TB scale-killer): the running
    sum is a two-pass distributed prefix sum, so every Window node in
    the plan is partitioned by the range bucket."""
    from pg_ducklake_spark.plans import QUERIES

    df = QUERIES["pipe_pack_sequences"](spark, sf_dir)
    s = plan_of(df)
    win = [ln for ln in s.splitlines() if "windowspecdefinition" in ln]
    assert win, "expected a Window node in pack_sequences plan"
    for ln in win:
        # A partitioned window renders its partition keys inside the
        # windowspecdefinition; the bucket column must be among them.
        assert "_bkt" in ln, f"unpartitioned Window: {ln.strip()}"


def test_ivf_probe_join_broadcasts(spark, sf_dir):
    """ivf_search's cell join must broadcast the bounded probe side so
    the assigned corpus streams through unshuffled — a shuffle of the
    corpus on cell id is the cost IVF exists to avoid."""
    from pyspark.sql import functions as F

    from pg_ducklake_spark.operators.ivf import ivf_build, ivf_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index = ivf_build(spark, emb, k=8, seed=42)
    try:
        df = ivf_search(index, emb.filter(F.col("vec_id") < 3), topk=5, nprobe=2)
        s = plan_of(df)
        assert "BroadcastHashJoin" in s
        # The corpus side must not be exchanged before the cell join.
        assert s.count("SortMergeJoin") == 0
    finally:
        index.assigned.unpersist()


def test_pq_rerank_hydrate_broadcasts_shortlist(spark, sf_dir):
    """pq_search's exact-rerank hydrate must broadcast the bounded
    shortlist against one unshuffled corpus scan (pruned mode); the
    corpus-covering oracle mode keeps the shuffle join."""
    from pyspark.sql import functions as F

    from pg_ducklake_spark.operators.pq import pq_encode, pq_search, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index = pq_train(emb, m=8, k=16, sample_rows=500, iters=3, seed=42)
    enc = pq_encode(index, emb)
    queries = emb.filter(F.col("vec_id") < 3)
    pruned = pq_search(index, enc, queries, topk=5, rerank=2, corpus=emb)
    s = plan_of(pruned)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s and "ShuffledHashJoin" not in s


@pytest.mark.parametrize(
    "name", ["pipe_contamination_check", "text_unigram_surprisal",
             "dedup_ngram_jaccard"]
)
def test_explode_prefilters_stay_fenced(plans, name):
    """An inner Generate derives a pushable size(...) > 0 pre-filter
    that re-evaluates the whole tokenize/shingle chain inside the scan
    stage's Filter — one copy per consuming branch (measured 15 s vs
    1.3 s at sf0.1 on the contamination sweep). These queries fence it
    with explode_outer + a notnull on the generated column, so no
    Filter node may contain the chain-builder expressions."""
    s = plan_of(plans(name))
    for ln in s.splitlines():
        node = ln.strip().lstrip("+-:* ()0123456789")
        if node.startswith("Filter"):
            assert "concat_ws" not in ln, f"shingle chain in Filter: {ln[:160]}"
            assert "split(lower" not in ln, f"tokenizer in Filter: {ln[:160]}"


def test_mad_outliers_windows_all_partitioned(plans):
    """The exact-median bin+refine plan must never funnel a whole
    group through one task: every Window is partitioned (by the group
    key), and the per-group refine/merge joins broadcast."""
    s = plan_of(plans("stats_mad_outliers"))
    for ln in s.splitlines():
        if "windowspecdefinition" in ln:
            assert "event_type" in ln, f"unpartitioned Window: {ln.strip()}"
    assert "BroadcastHashJoin" in s


def test_binned_quantiles_single_data_shuffle(plans):
    """The histogram sketch aggregates map-side on (type, bin); the
    cumulative windows run over the tiny histogram, partitioned by
    event_type."""
    df = plans("stats_binned_quantiles")
    s = plan_of(df)
    assert "partial_count" in s or "HashAggregate" in s
    for ln in s.splitlines():
        if "windowspecdefinition" in ln:
            assert "event_type" in ln, f"unpartitioned Window: {ln.strip()}"


def test_codebook_mix_no_join_before_aggregate(plans):
    """Codebook assignment is pure map-side expression work — the plan
    must contain no join at all (the codebook is a literal), just the
    scan -> project -> aggregate chain plus the tiny share window."""
    s = plan_of(plans("sim_codebook_mix"))
    assert "Join" not in s


@pytest.mark.parametrize(
    "name",
    [
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_components",
        "dedup_substring_windows",
        "pipe_pack_sequences",
        "pipe_chunk_documents",
        "ts_asof_join",
        "ts_gap_fill_locf",
        "ts_gap_fill_interpolate",
        "dedup_canonical_selection",
        "mm_frame_sample",
        "pipe_contamination_check",
        "rel2_salted_skew_join",
    ],
)
def test_corpus_sized_outputs_distribute_the_tail(plans, name):
    """Queries whose output is corpus-proportional (dup-pair lists, the
    per-doc component map, packed sequences, chunk tables) must end in a
    range-partitioned distributed sort, never a single-task funnel —
    coalesce(1) on a data-proportional tail is a 100 TB scale-killer."""
    s = plan_of(plans(name))
    assert "Coalesce 1" not in s, f"{name} funnels its output through one task"
    assert "rangepartitioning" in s, f"{name} lost its distributed output sort"


def test_every_broadcast_side_is_justified():
    """Source lint: every F.broadcast() call site in the package must
    carry an inline `bcast-ok:` annotation stating why the broadcast
    side stays bounded at 100 TB (constant dimension, 1-row aggregate,
    k-bounded set, capped buffer...). SF-proportional sides (customer/
    supplier/part, vocab-sized totals, dup-group tables) carry no hint
    at all — Catalyst/AQE size them at runtime."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pg_ducklake_spark"
    missing = []
    for py in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if "F.broadcast(" not in line:
                continue
            if "``" in line or line.lstrip().startswith("#"):
                continue  # doc markup / commented-out mentions
            if "bcast-ok:" not in line:
                missing.append(f"{py.relative_to(pkg.parent)}:{i}")
    assert not missing, f"unjustified F.broadcast sites: {missing}"


def test_incremental_stats_merge_is_a_join_on_group_keys(plans):
    """The MV advance merges base and delta aggregates."""
    s = plan_of(plans("lake_incremental_stats"))
    assert "FullOuter" in s or "full_outer" in s.lower()


def test_bm25_prunes_tokens_before_explode(plans):
    """BM25's query-term pruning must happen INSIDE the token array,
    before the Generate — the explode emits only matching postings, so
    nothing downstream (aggregate or exchange) ever sees the raw token
    stream (r7: measured 2.2× over the broadcast-semi-join form at
    sf10). The cached tf table is referenced twice (df aggregate +
    scoring join), so count DISTINCT Generate expressions, not plan
    lines (InMemoryRelation reprints its build plan per reference).
    Only TOKEN-ARRAY explodes count: the r12 literal query-map attach
    (explode(element_at(map(...), term)) over the ≤|tf| candidate rows)
    is a constant-map lookup, not a corpus re-explode."""
    s = plan_of(plans("text_bm25_topk"))
    tok_gens = {
        re.sub(r"#\d+", "#", m)
        for m in re.findall(r"Generate explode\((?:filter|split)\(\w+", s)
    }
    assert len(tok_gens) <= 1, "doc lengths re-explode the corpus"
    gen_lines = [
        ln
        for ln in s.splitlines()
        if "Generate explode" in ln and "element_at(map(" not in ln
    ]
    assert gen_lines and all(
        "explode(filter(" in ln for ln in gen_lines
    ), "token stream explodes before query-term pruning"


def test_bm25_no_corpus_keyed_window(plans):
    """The round-6 verdict flag: df must NOT be a window over the term
    partition (a hot query term funnels corpus-proportional postings
    through one task). After the fix, the only Window partitions by
    query_id, and InferWindowGroupLimit must have inserted the Partial
    (map-side, ≤ k rows per task) group limit so even that window never
    sees one query's full matching-doc set in one task."""
    s = plan_of(plans("text_bm25_topk"))
    for part in re.findall(r"windowspecdefinition\(([^)]*)\)", s):
        first = part.split(",")[0].strip()
        assert first.startswith("query_id"), f"corpus-keyed window on {first}"
    assert "WindowGroupLimit" in s and "Partial" in s, (
        "top-k window lost the engine two-phase group limit"
    )


def test_bigram_perplexity_single_corpus_shuffle(plans):
    """The LM count tables must re-aggregate the Zipf-collapsed per-doc
    bigram table (persisted): one distinct bigram Generate + the vocab
    token explode. InMemoryRelation reprints its build plan per cache
    reference, so count distinct Generate expressions."""
    s = plan_of(plans("text_bigram_perplexity"))
    gens = {re.sub(r"#\d+", "#", m) for m in re.findall(r"Generate explode\((\w+)", s)}
    assert len(gens) <= 2, "bigram stream re-exploded per count table"
    assert "InMemoryRelation" in s, "collapsed bigram table not persisted"


def test_bigram_perplexity_no_zipf_window(plans):
    """The round-6 verdict flag: LM counts must NOT be window sums over
    w1 / (w1, w2) partitions — a Zipf-head w1 ('the') pulls every
    (doc, 'the', w2) row into one task. After the fix the plan has NO
    Window at all (counts are partial-aggregated groupBys joined back);
    the lm join-back is broadcast under the row-count guard or a
    shuffle join whose skew AQE can split."""
    s = plan_of(plans("text_bigram_perplexity"))
    assert "windowspecdefinition" not in s, "LM counts regressed to windows"


@pytest.mark.parametrize("name", ["text_bm25_topk", "dedup_minhash_lsh"])
def test_scoped_persist_releases_on_sf_dir_change(spark, sf_dir, name):
    """ADVICE r7: plan-internal persists must not accumulate executor
    cache across plan builds. Same-dir rebuilds dedup to the existing
    InMemoryRelation (no growth, warm reruns keep their hits); a build
    against a different sf_dir releases the previous directory's
    caches. Counts are DELTAS against a pre-test baseline — the shared
    test session carries unrelated caches. dedup_minhash_lsh persists
    inside the operator it calls (operators/dedup.minhash_near_dups),
    so it checks that an operator's persist joins the query's scope."""
    from pg_ducklake_spark.operators import _PERSIST_SCOPES, release_persist_scope
    from pg_ducklake_spark.plans import QUERIES

    def ids():
        return {
            r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    release_persist_scope(name)  # clean slate for this scope
    base = ids()
    QUERIES[name](spark, sf_dir).collect()
    assert _PERSIST_SCOPES[name][0] == sf_dir
    after1 = ids() - base
    QUERIES[name](spark, sf_dir).collect()
    after2 = ids() - base
    assert after2 == after1, "same-dir rebuild grew the executor cache"
    other = (
        "/root/testdata/sf0.01"
        if sf_dir != "/root/testdata/sf0.01"
        else "/root/testdata/sf0.001"
    )
    QUERIES[name](spark, other).collect()
    assert _PERSIST_SCOPES[name][0] == other
    # unpersist is non-blocking: poll briefly for the release
    import time as _time

    for _ in range(50):
        after3 = ids() - base
        if not (after3 & after1):
            break
        _time.sleep(0.1)
    # the first dir's cached RDDs are gone; only the new dir's remain
    assert not (after3 & after1), "previous sf_dir's caches were not released"
    release_persist_scope(name)  # leave no residue for later tests


def test_bloom_prune_is_exchange_free(spark, sf_dir):
    """The Bloom probe's whole point is pruning BEFORE the join's
    shuffle (VERDICT r8 item 2): the pruned fact plan must contain ZERO
    exchanges of any kind above the source scan — the word table is an
    inlined literal, not a join side."""
    from pg_ducklake_spark.operators.bloom import bloom_build, bloom_prune
    from pg_ducklake_spark.plans import t

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    keys = (
        t(spark, sf_dir, "orders")
        .filter("o_orderpriority = '1-URGENT'")
        .select("o_orderkey")
        .distinct()
    )
    bloom = bloom_build(keys, "o_orderkey")
    pruned = bloom_prune(li, "l_orderkey", bloom)
    plan = plan_of(pruned)
    assert "Exchange" not in plan, plan  # no shuffle AND no broadcast exchange
    assert "Join" not in plan, plan


def test_bpe_topk_uses_take_ordered(plans):
    """text_bpe_pair_counts' final top-20 must be an engine-level
    TakeOrderedAndProject (heap-select per map task, driver merge), not
    a row_number window over the full pair table — the window form pays
    a single-partition exchange + sort the limit form skips. The only
    Window left runs over the 20 post-limit survivors."""
    s = plan_of(plans("text_bpe_pair_counts"))
    assert "TakeOrderedAndProject" in s, s


def test_substring_spans_shape(plans):
    """dedup_substring_spans: top-20 must be TakeOrderedAndProject (no
    global sort exchange), no Window anywhere (the distinct-doc count
    is a two-phase aggregate), and no Join (span inventory is a single
    aggregation pipeline over one scan)."""
    s = plan_of(plans("dedup_substring_spans"))
    assert "TakeOrderedAndProject" in s, s
    assert "Window" not in s, s
    assert "Join" not in s, s
