"""Operator-library tests (parameterized dedup/similarity/text/
multimodal APIs) against testdata + synthetic edge cases."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_exact_dedup_deterministic_keeper(spark):
    from pg_ducklake_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id int, payload string"
    )
    kept = exact_dedup(df, ["payload"], keep="first", order_col="id")
    assert sorted((r.id, r.payload) for r in kept.collect()) == [(1, "a"), (3, "b")]
    kept_last = exact_dedup(df, ["payload"], keep="last", order_col="id")
    assert sorted(r.id for r in kept_last.collect()) == [2, 3]


def test_jaccard_pairs_detects_planted_dup(spark):
    from pg_ducklake_spark.operators.dedup import dedupe_keep_first, jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " tail"), (3, "completely different words here now")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    deduped = dedupe_keep_first(df, jaccard_pairs(df, "text", "doc_id", 0.5), "doc_id")
    assert sorted(r.doc_id for r in deduped.collect()) == [1, 3]


def test_posting_pairs_equals_self_join(spark):
    """The pair kernel emits exactly the ordered self-join pairs: keys
    with 1, 2 and 5 members, a composite key, and a struct member
    ordered by its first field."""
    from pg_ducklake_spark.operators.dedup import posting_pairs

    rows = [("solo", 0, 7)]
    rows += [("two", 0, m) for m in (9, 3)]
    rows += [("five", 0, m) for m in (5, 1, 4, 2, 8)]
    rows += [("five", 1, m) for m in (7, 6)]  # same k1, other k2
    df = spark.createDataFrame(rows, "k1 string, k2 int, m long")
    joined = (
        df.alias("x")
        .join(df.alias("y"), ["k1", "k2"])
        .filter(F.col("x.m") < F.col("y.m"))
        .select(F.col("x.m"), F.col("y.m"))
        .collect()
    )
    want = sorted(tuple(r) for r in joined)
    got = posting_pairs(df, ["k1", "k2"], "m").collect()
    assert sorted((r.a, r.b) for r in got) == want
    assert len(want) == 1 + 10 + 1
    by_k1 = posting_pairs(df, "k1", "m").collect()
    assert len(by_k1) == 1 + 21  # k1 = "five" alone holds 7 members
    structs = posting_pairs(df, ["k1", "k2"], F.struct("m", "k2")).collect()
    assert sorted((r.a.m, r.b.m) for r in structs) == want


def test_minhash_near_dups_parameterized(docs):
    from pg_ducklake_spark.operators.dedup import minhash_near_dups

    pairs = minhash_near_dups(docs, "text", "doc_id", k=16, bands=4, threshold=0.5)
    got = pairs.collect()
    # sanity: symmetric-free, ordered pairs with estimates in [0.5, 1]
    assert all(p.id_a < p.id_b and 0.5 <= p.est_jaccard <= 1.0 for p in got)


def test_cosine_topk_self_similarity(emb):
    from pg_ducklake_spark.operators.similarity import cosine_topk

    queries = emb.filter(F.col("vec_id") < 3)
    res = cosine_topk(emb, queries, k=5)
    rows = res.collect()
    assert {r.q_id for r in rows} == {0, 1, 2}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append((r.rnk, r.cosine, r.neighbor_id))
    for q, lst in per_q.items():
        lst.sort()
        assert len(lst) == 5
        # descending similarity and no self-match
        sims = [c for _, c, _ in lst]
        assert sims == sorted(sims, reverse=True)
        assert all(n != q for _, _, n in lst)


def test_normalize_makes_unit_vectors(spark):
    from pg_ducklake_spark.operators.similarity import dot, normalize

    df = spark.createDataFrame([(1, [3.0, 4.0])], "id int, v array<float>")
    out = normalize(df, "v").select(dot("v", "v").alias("n")).collect()[0]
    assert abs(out.n - 1.0) < 1e-12


def test_ann_lsh_topk_runs_and_ranks(emb):
    from pg_ducklake_spark.operators.similarity import ann_lsh_topk

    res = ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=3, n_planes=4)
    rows = res.collect()
    assert all(r.rnk <= 3 for r in rows)
    assert all(r.neighbor_id != r.q_id for r in rows)


def test_language_id_predicts(spark):
    from pg_ducklake_spark.operators.text import language_id

    df = spark.createDataFrame(
        [(1, "the cat is in the house and the garden"),
         (2, "el gato es de la casa y los perros")],
        "id int, text string",
    )
    got = {r.id: r.predicted_lang for r in language_id(df).collect()}
    assert got[1] == "en" and got[2] == "es"


def test_text_features_and_filter(spark):
    from pg_ducklake_spark.operators.text import add_text_features, quality_filter

    df = spark.createDataFrame(
        [(1, "a good long document with many reasonable words in it"),
         (2, "!!! ??? ### $$$ %%%")],
        "id int, text string",
    )
    feats = {r.id: r for r in add_text_features(df).collect()}
    assert feats[1].ws_tokens == 10
    assert feats[1].quality > feats[2].quality
    assert feats[1].fingerprint != feats[2].fingerprint
    kept = quality_filter(df, threshold=0.5)
    assert [r.id for r in kept.collect()] == [1]


def test_fingerprint_order_insensitive(spark):
    from pg_ducklake_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta alpha")],
        "id int, text string",
    )
    fps = [r.fp for r in df.select(fingerprint().alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_multimodal_feature_extraction_batching(spark):
    from pg_ducklake_spark.operators.multimodal import extract_features, frame_sample

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"x" * 100), None),
         (2, "video", bytearray(b"abc" * 1000), '{"fps": 30}')],
        "media_id bigint, media_type string, content binary, metadata string",
    )
    feats = {r.media_id: r for r in extract_features(media, dim=8).collect()}
    assert feats[1].n_bytes == 100 and len(feats[1].feature) == 8
    assert abs(sum(feats[2].feature) - 1.0) < 1e-9  # histogram normalized
    frames = frame_sample(media.filter("media_id = 2"), every_n_bytes=1000)
    offs = [r.byte_offset for r in frames.collect()]
    assert offs == [0, 1000, 2000]


def test_multimodal_decode_stub_raises():
    from pg_ducklake_spark.operators.multimodal import decode_image

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_multimodal_resize_roundtrip(spark):
    """resize_media: binary→binary, exact byte budget, metadata sidecar
    updated, deterministic."""
    import json

    from pg_ducklake_spark.operators.multimodal import MEDIA_SCHEMA, resize_media

    media = spark.createDataFrame(
        [
            (1, "image", bytes(range(256)) * 40, json.dumps({"codec": "fake"})),
            (2, "image", b"\x07" * 10, None),
        ],
        MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in resize_media(media, 16, 16).collect()}
    assert set(out) == {1, 2}
    for r in out.values():
        assert len(r.content) == 16 * 16
        meta = json.loads(r.metadata)
        assert meta["width"] == 16 and meta["height"] == 16
    assert json.loads(out[1].metadata)["codec"] == "fake"  # sidecar preserved
    assert json.loads(out[1].metadata)["resized_from_bytes"] == 256 * 40
    assert out[2].content == b"\x07" * 256  # constant payload stays constant
    again = {r.media_id: r.content for r in resize_media(media, 16, 16).collect()}
    assert again[1] == out[1].content


def test_embedding_near_dup_prefilter_exact(spark, tmp_path):
    """The distance prefilter in sim_embedding_near_dup discards only
    provably-below-threshold pairs: planted near-duplicates survive and
    their cosines match the DuckDB oracle float-for-float."""
    import os

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pg_ducklake_spark.plans import ORACLES, QUERIES

    rng = np.random.default_rng(5)
    base = rng.normal(size=(50, 64)).astype(np.float32)
    rows = [(i, v, i % 5) for i, v in enumerate(base)]
    for j, src in enumerate([0, 7, 23]):
        v = (base[src] + rng.normal(scale=1e-4, size=64)).astype(np.float32)
        rows.append((50 + j, v, src % 5))
    tb = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1].tolist() for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tb, os.path.join(str(tmp_path), "embeddings.parquet"))
    got = [
        (r.vec_a, r.vec_b, r.cosine)
        for r in QUERIES["sim_embedding_near_dup"](spark, str(tmp_path)).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM"
        f" read_parquet('{tmp_path}/embeddings.parquet')"
    )
    oracle = [tuple(r) for r in con.execute(ORACLES["sim_embedding_near_dup"]).fetchall()]
    assert [(a, b) for a, b, _ in got] == [(0, 50), (7, 51), (23, 52)]
    assert got == oracle


def test_connected_components_chains_and_cliques(spark):
    """Min-label propagation with pointer jumping: chains, cliques and
    isolated pairs resolve to the min reachable id in few rounds."""
    from pg_ducklake_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, clique 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "src long, dst long",
    )
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    from pg_ducklake_spark.operators.components import connected_components

    n = 200  # pointer jumping: ~log2(200) rounds, far under max_iter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = connected_components(edges)
    assert got.filter("comp != 0").count() == 0
    assert got.count() == n + 1


def test_connected_components_one_job_per_round(spark):
    """r12: the convergence check rides the round's eager-checkpoint
    job via observe() — no separate isEmpty job per round. Pin the
    job count: setup (sym + seed checkpoints) + one job per round +
    the final collect; the old two-jobs-per-round shape would exceed
    the bound on a multi-round chain."""
    from pg_ducklake_spark.operators.components import connected_components

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    ).localCheckpoint(eager=True)  # keep input prep out of the count
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("cc_jobcount", "components job-count pin")
        res = connected_components(edges, edges_unique=True).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("cc_jobcount")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert {r.node for r in res} == set(range(64))
    assert all(r.comp == 0 for r in res)
    # 64-node chain: seed folds one propagation, pointer jumping then
    # needs ~6 rounds. 2 setup + rounds + 1 collect; the observe()
    # formulation measured 9 jobs, the old isEmpty one 15.
    assert len(jobs) <= 12, (
        f"{len(jobs)} jobs for a 6-round components run — "
        "is the convergence check spawning its own job again?"
    )


def test_sample_stratified_deterministic_and_nested(spark):
    """Hash-threshold sampling: per-stratum fractions approximately hold,
    results are identical across runs/partitionings, and a smaller
    fraction's sample nests inside a larger one."""
    from pg_ducklake_spark.operators.text import sample_stratified

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(4000)],
        "doc_id long, source string",
    )
    s1 = sample_stratified(df, "source", {"a": 0.5, "b": 0.1})
    s2 = sample_stratified(df.repartition(13), "source", {"a": 0.5, "b": 0.1})
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(r.doc_id for r in s2.collect())
    assert ids1 == ids2  # partitioning-independent
    counts = {r.source: r.cnt for r in s1.groupBy("source").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    assert abs(counts["a"] / 2000 - 0.5) < 0.05
    assert abs(counts["b"] / 2000 - 0.1) < 0.03
    smaller = set(
        r.doc_id for r in sample_stratified(df, "source", {"a": 0.2, "b": 0.05}).collect()
    )
    assert smaller <= set(ids1)  # thresholds nest


def test_incremental_jaccard_matches_full_recompute(spark):
    """Pairs involving the delta must agree exactly with a full
    jaccard_pairs recompute over corpus+delta; corpus-internal pairs
    are never produced (that's the point of the incremental join)."""
    from pg_ducklake_spark.operators.dedup import (
        incremental_jaccard_pairs,
        jaccard_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    corpus_rows = [
        (1, base),
        (2, base + " iota"),             # corpus-internal near-dup of 1
        (3, "one two three four five six seven eight"),
    ]
    delta_rows = [
        (10, base + " kappa"),           # near-dup of corpus 1/2
        (11, base + " kappa lambda"),    # near-dup of 10 (within batch)
        (12, "totally different words with no overlap at all here"),
    ]
    schema = "doc_id bigint, text string"
    corpus = spark.createDataFrame(corpus_rows, schema)
    delta = spark.createDataFrame(delta_rows, schema)

    inc = incremental_jaccard_pairs(
        corpus, delta, "text", "doc_id", threshold=0.5
    ).collect()
    got = {(r.new_id, r.other_id): (r.other_is_new, r.jaccard) for r in inc}

    # every produced pair involves a delta doc on the new side
    assert all(k[0] >= 10 for k in got)
    # new-vs-old and new-vs-new hits present; disjoint doc absent
    assert (10, 1) in got and got[(10, 1)][0] is False
    assert (10, 11) in got and got[(10, 11)][0] is True
    assert not any(12 in k for k in got)

    full = jaccard_pairs(
        corpus.unionByName(delta), "text", "doc_id", threshold=0.5
    ).collect()
    full_delta_pairs = {
        (b, a) if b >= 10 and a < 10 else (a, b): j
        for a, b, j in [(r.id_a, r.id_b, r.jaccard) for r in full]
        if a >= 10 or b >= 10
    }
    # same pair set, same jaccard values
    assert {k: v[1] for k, v in got.items()} == full_delta_pairs


def test_incremental_near_dup_over_change_feed(spark, lake):
    """Lake-level wrapper: delta = change-feed insertions after a
    snapshot, corpus = the table as of that snapshot."""
    from pg_ducklake_spark.operators.dedup import incremental_near_dup

    lake.create_table("inc_docs", "doc_id bigint, text string")
    base = "red orange yellow green blue indigo violet ultraviolet"
    lake.insert(
        "inc_docs",
        spark.createDataFrame(
            [(1, base), (2, "completely unrelated document text goes right here")],
            "doc_id bigint, text string",
        ),
    )
    v1 = lake.current_snapshot("inc_docs")
    lake.insert(
        "inc_docs",
        spark.createDataFrame(
            [(3, base + " infrared"), (4, base + " infrared xray")],
            "doc_id bigint, text string",
        ),
    )
    pairs = incremental_near_dup(
        lake, "inc_docs", v1, threshold=0.5
    ).collect()
    got = {(r.new_id, r.other_id): r.other_is_new for r in pairs}
    assert (3, 1) in got and got[(3, 1)] is False
    assert (4, 1) in got and got[(4, 1)] is False
    assert (3, 4) in got and got[(3, 4)] is True
    assert all(k[0] in (3, 4) for k in got)


def test_substring_spans_find_planted_overlap(spark, sf_dir):
    """dedup_substring_spans: a long span shared verbatim by two docs
    at DIFFERENT character offsets must surface — word-start anchoring
    is content-defined, so capture cannot depend on the span landing on
    congruent positions (a fixed per-doc stride grid would miss this
    fixture). All reported spans have n_docs >= 2, first_doc is the
    smallest sharing doc_id, and a span repeated WITHIN one document
    only does not count as cross-document."""
    from pg_ducklake_spark.plans import QUERIES
    import tempfile, os

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "A" * 80),                                   # unique filler
        (2, "short pfx " + shared + " tail1"),           # planted pair at
        (3, "a much longer prefix here " + shared + " t2"),  # different offsets
        (4, ("z" * 55 + " ") * 3),                       # self-repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = QUERIES["dedup_substring_spans"](spark, d).collect()
    assert got, "planted cross-document span not found"
    assert all(r.n_docs >= 2 for r in got)
    assert all(r.first_doc == 2 for r in got), [tuple(r) for r in got]


def test_substring_spans_whitespace_only_doc(spark, sf_dir):
    """ADVICE r9: a document whose text is >= L chars but tokenizes to
    an EMPTY array (all-whitespace) must not crash. Unguarded,
    sequence(1, size(toks)) with size 0 yields the descending [1, 0]
    and slice(toks, 0, W) throws INVALID_PARAMETER_VALUE.START; the
    DuckDB oracle's range(1, 1) is simply empty — crash-vs-success
    divergence on plausible corpus input."""
    from pg_ducklake_spark.plans import QUERIES
    import tempfile, os

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, " " * 80),                           # all-whitespace, >= L chars
        (2, "pfx " + shared + " t1"),
        (3, "longer prefix " + shared + " t2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = QUERIES["dedup_substring_spans"](spark, d).collect()
    assert got and all(r.first_doc == 2 for r in got)


def test_substring_windows_null_text(spark, sf_dir):
    """ADVICE r10: NULL text reaching _windows_kernel raised
    AttributeError (txt.lower() on None) while the DuckDB oracle and
    the replaced expression plan both yield zero windows for NULL —
    crash-vs-success divergence on nullable corpus input. The kernel
    must skip non-string values; pairs among the non-NULL docs still
    surface."""
    from pg_ducklake_spark.plans import QUERIES
    import tempfile, os

    shared = " ".join(f"w{i}" for i in range(12))
    rows = [
        (1, None),
        (2, "pfx " + shared + " t1"),
        (3, "longer prefix " + shared + " t2"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        got = QUERIES["dedup_substring_windows"](spark, d).collect()
    assert got and all((r.doc_a, r.doc_b) == (2, 3) for r in got)
