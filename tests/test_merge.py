"""MERGE INTO (upsert) — the Spark-native bonus operator, plus the
quick parity wins: require_commit_message enforcement, variant columns,
salted joins."""

import os

import pytest
from pyspark.sql import functions as F

from pg_ducklake_spark.errors import LakeError


@pytest.fixture()
def t(spark, lake):
    lake.create_table("t", "k int, v string, n double")
    lake.insert(
        "t",
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k int, v string, n double"
        ),
    )
    return lake


def _src(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, n double")


def test_merge_upsert(spark, t):
    res = t.merge(
        "t",
        _src(spark, [(2, "B", 20.0), (4, "d", 4.0)]),
        on=["k"],
        when_matched_update={"v": "source.v", "n": "source.n"},
    )
    assert res == {"num_updated": 1, "num_deleted": 0, "num_inserted": 1}
    got = {r.k: (r.v, r.n) for r in t.table("t").collect()}
    assert got == {1: ("a", 1.0), 2: ("B", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}


def test_merge_update_expression_mixes_sides(spark, t):
    t.merge(
        "t",
        _src(spark, [(1, "x", 100.0)]),
        on=["k"],
        when_matched_update={"n": "target.n + source.n"},
        when_not_matched_insert=False,
    )
    got = {r.k: r.n for r in t.table("t").collect()}
    assert got[1] == 101.0 and got[2] == 2.0


def test_merge_delete_when_matched(spark, t):
    res = t.merge(
        "t",
        _src(spark, [(1, None, 0.0), (99, None, 0.0)]),
        on=["k"],
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    assert res["num_deleted"] == 1 and res["num_inserted"] == 0
    assert sorted(r.k for r in t.table("t").collect()) == [2, 3]


def test_merge_insert_only(spark, t):
    res = t.merge("t", _src(spark, [(3, "zz", 0.0), (5, "e", 5.0)]), on=["k"])
    assert res == {"num_updated": 0, "num_deleted": 0, "num_inserted": 1}
    got = {r.k: r.v for r in t.table("t").collect()}
    assert got[3] == "c" and got[5] == "e"  # matched row untouched


def test_merge_duplicate_source_keys_raise(spark, t):
    with pytest.raises(LakeError, match="duplicate keys"):
        t.merge(
            "t",
            _src(spark, [(1, "x", 0.0), (1, "y", 0.0)]),
            on=["k"],
            when_matched_update={"v": "source.v"},
        )


def test_merge_change_feed(spark, t):
    v = t.current_snapshot("t")
    t.merge(
        "t",
        _src(spark, [(2, "B", 20.0), (4, "d", 4.0)]),
        on=["k"],
        when_matched_update={"v": "source.v", "n": "source.n"},
    )
    ch = t.table_changes("t", v + 1, v + 1).collect()
    got = sorted((r._change_type, r.k) for r in ch)
    assert got == [
        ("insert", 4),
        ("update_postimage", 2),
        ("update_preimage", 2),
    ]


def test_merge_over_dv_deleted_rows(spark, t):
    """DV-deleted rows are not matchable: merging their key inserts."""
    t.delete("t", "k = 2")  # dv delete
    res = t.merge(
        "t",
        _src(spark, [(2, "new", 9.0)]),
        on=["k"],
        when_matched_update={"v": "source.v"},
    )
    assert res["num_inserted"] == 1 and res["num_updated"] == 0
    got = {r.k: r.v for r in t.table("t").collect()}
    assert got[2] == "new"


def test_require_commit_message_enforced(spark, t):
    t.set_option("require_commit_message", True, table="t")
    with pytest.raises(LakeError, match="commit message"):
        t.insert("t", _src(spark, [(9, "x", 0.0)]))
    with pytest.raises(LakeError, match="commit message"):
        t.delete("t", "k = 1")
    assert t.insert("t", _src(spark, [(9, "x", 0.0)]), message="add 9") == 1
    snaps = {r.snapshot_id: r.commit_message for r in t.snapshots("t").collect()}
    assert snaps[t.current_snapshot("t")] == "add 9"


def test_variant_column_roundtrip(spark, lake):
    """A25: real Spark VariantType through the lake (parquet tier)."""
    from pyspark.sql import types as T

    lake.create_table(
        "t", T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("v", T.VariantType())])
    )
    df = spark.createDataFrame([(1,), (2,)], "id long").select(
        "id",
        F.parse_json(
            F.when(F.col("id") == 1, '{"a": [1, {"b": 2}]}').otherwise('"scalar"')
        ).alias("v"),
    )
    lake.insert("t", df)
    got = lake.sql(
        "SELECT id, variant_get(v, '$.a[1].b', 'int') AS b, to_json(v) AS j "
        "FROM t ORDER BY id"
    ).collect()
    assert got[0].b == 2 and got[1].j == '"scalar"'
    # no-inline tier: variant refuses the inline buffer
    lake.set_option("data_inlining_row_limit", 10, table="t")
    with pytest.raises((ValueError, LakeError)):
        lake.insert_rows("t", [{"id": 3, "v": "{}"}])


def test_salted_join_equivalence(spark):
    from pg_ducklake_spark.operators.skew import salted_join, skew_profile

    big = spark.createDataFrame(
        [(1, i) for i in range(1000)] + [(2, 1), (3, 2)], "key int, payload int"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "warm")], "key int, label string")
    plain = big.join(small, "key").groupBy("key", "label").count()
    salted = salted_join(big, small, "key", salt=8).groupBy("key", "label").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    prof = skew_profile(big, "key", top=1).collect()[0]
    assert prof.key == 1 and prof.n == 1000


def test_merge_inline_guard_not_truncated(spark, lake):
    """A merge source with thousands of distinct keys still detects a
    matching unflushed inline row (the guard is a semi-join against the
    broadcast inline buffer — no driver collect, no key-count cap)."""
    lake.create_table("ti", "k int, v string")
    lake.set_option("data_inlining_row_limit", 10, table="ti")
    lake.insert_rows("ti", [{"k": 4999, "v": "inline"}])
    src = spark.range(5000).select(
        F.col("id").cast("int").alias("k"), F.lit("s").alias("v")
    )
    with pytest.raises(LakeError, match="flush"):
        lake.merge("ti", src, on=["k"], when_matched_update={"v": "source.v"})
    # a large source with NO matching key passes the guard and merges
    src2 = spark.range(10_000, 12_000).select(
        F.col("id").cast("int").alias("k"), F.lit("s").alias("v")
    )
    res = lake.merge("ti", src2, on=["k"])
    assert res["num_inserted"] == 2000


def test_merge_broadcast_and_shuffle_branches(spark, lake, monkeypatch):
    """Both sides of the exact-row-count guard give the same result: at
    the default the 1000-row source's keys are broadcast to the probe;
    with the threshold monkeypatched below the source size the probe
    shuffles and the inserts are not coalesced."""
    from pg_ducklake_spark.operators import merge as merge_mod

    src = spark.range(500, 1500).select(
        F.col("id").cast("int").alias("k"), F.lit("new").alias("v")
    )
    want = {k: "old" for k in range(0, 2000, 2)}
    want.update({k: "new" for k in range(500, 1500)})
    for name, bcast_rows in [("tb", 100_000), ("ts", 10)]:
        monkeypatch.setattr(merge_mod, "BROADCAST_SOURCE_ROWS", bcast_rows)
        lake.create_table(name, "k int, v string")
        lake.insert(
            name,
            spark.range(0, 2000, 2).select(
                F.col("id").cast("int").alias("k"), F.lit("old").alias("v")
            ),
        )
        res = lake.merge(name, src, on=["k"], when_matched_update={"v": "source.v"})
        assert res == {"num_updated": 500, "num_deleted": 0, "num_inserted": 500}
        assert {r.k: r.v for r in lake.table(name).collect()} == want


@pytest.mark.parametrize("key_type", ["string", "int_all_null"])
def test_merge_without_key_pruning(spark, lake, key_type):
    """Keys that give no integer bounds — a string key, or an integer
    key that is NULL in every source row — skip file pruning and still
    merge correctly. NULL source keys never match: they are inserted."""
    ktype = "string" if key_type == "string" else "int"
    lake.create_table("tp", f"k {ktype}, v int")
    for part in range(3):  # three files
        rows = [(str(i) if ktype == "string" else i, 0) for i in range(part * 10, part * 10 + 10)]
        lake.insert("tp", spark.createDataFrame(rows, f"k {ktype}, v int"))
    if key_type == "string":
        src_rows = [("5", 1), ("25", 1), ("x", 1), (None, 1), (None, 2)]
        want_upd, want_ins = 2, 3
    else:
        src_rows = [(None, 1), (None, 2)]
        want_upd, want_ins = 0, 2
    res = lake.merge(
        "tp", spark.createDataFrame(src_rows, f"k {ktype}, v int"), on=["k"],
        when_matched_update={"v": "source.v"},
    )
    assert res == {"num_updated": want_upd, "num_deleted": 0, "num_inserted": want_ins}
    got = sorted(((r.k, r.v) for r in lake.table("tp").collect()), key=repr)
    want = {(str(i) if ktype == "string" else i): 0 for i in range(30)}
    if key_type == "string":
        want.update({"5": 1, "25": 1})
        extra = [("x", 1), (None, 1), (None, 2)]
    else:
        extra = [(None, 1), (None, 2)]
    assert got == sorted(list(want.items()) + extra, key=repr)


def test_merge_releases_source_cache_on_every_path(spark, t):
    """Every exit path of merge unpersists what it cached: success, the
    duplicate-key error, the inline refusal, and the zero-change return
    (which also leaves no empty data directory behind)."""
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    t.merge("t", _src(spark, [(2, "B", 20.0), (4, "d", 4.0)]), on=["k"],
            when_matched_update={"v": "source.v"})
    assert jsc.getPersistentRDDs().size() == base
    with pytest.raises(LakeError, match="duplicate keys"):
        t.merge("t", _src(spark, [(1, "x", 0.0), (1, "y", 0.0)]), on=["k"],
                when_matched_update={"v": "source.v"})
    assert jsc.getPersistentRDDs().size() == base
    data_dir = os.path.join(t._table_dir("t"), "data")
    dirs = sorted(os.listdir(data_dir))
    snap = t.current_snapshot("t")
    res = t.merge("t", _src(spark, [(1, "zz", 0.0), (3, "zz", 0.0)]), on=["k"])
    assert res == {"num_updated": 0, "num_deleted": 0, "num_inserted": 0}
    assert t.current_snapshot("t") == snap
    assert sorted(os.listdir(data_dir)) == dirs
    assert jsc.getPersistentRDDs().size() == base
    t.set_option("data_inlining_row_limit", 10, table="t")
    t.insert_rows("t", [{"k": 7, "v": "inline", "n": 7.0}])
    with pytest.raises(LakeError, match="flush"):
        t.merge("t", _src(spark, [(7, "x", 0.0)]), on=["k"],
                when_matched_update={"v": "source.v"})
    assert jsc.getPersistentRDDs().size() == base


def test_merge_job_count_and_file_layout(spark, lake):
    """A merge whose source covers one file's key range probes only that
    file, rewrites it into one file and writes its inserts into one more.
    Job count pinned with AQE off."""
    lake.create_table("tj", "k bigint, v string")
    lake.insert(
        "tj",
        spark.range(0, 16000, 2)
        .select(F.col("id").alias("k"), F.lit("old").alias("v"))
        .repartitionByRange(8, "k"),
    )
    before = dict(lake._state("tj").files)
    assert len(before) == 8
    # Every key in the second file's range: its even keys update, the
    # odd ones between them insert.
    entry = sorted(before.values(), key=lambda e: e.stats["k"]["min"])[1]
    lo, hi, n = entry.stats["k"]["min"], entry.stats["k"]["max"], entry.rows
    src = spark.range(lo, hi + 1).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    ).localCheckpoint(eager=True)  # keep source prep out of the count
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("merge_jobcount", "merge job-count pin")
        res = lake.merge("tj", src, on=["k"], when_matched_update={"v": "source.v"})
        jobs = sc.statusTracker().getJobIdsForGroup("merge_jobcount")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert res == {"num_updated": n, "num_deleted": 0, "num_inserted": n - 1}
    after = lake._state("tj").files
    assert len(set(before) - set(after)) == 1
    added = set(after) - set(before)
    assert sorted(after[f].rows for f in added) == [n - 1, n]
    assert len(after) <= len(before) + 2
    # Measured 9 jobs: source aggregate 1, probe 2, data write 3,
    # change-feed write 3. The earlier shape (dup check, limit probe,
    # full-table hit scan, rewrite, full-table anti-join, insert count,
    # insert and change-feed writes) measured 14 on this merge.
    assert len(jobs) <= 9, f"{len(jobs)} jobs for a one-file merge"


def test_merge_many_key_upsert_counts(spark, lake):
    """End-to-end merge with a multi-thousand-key source: update +
    insert counts and values come out exact."""
    lake.create_table("tb", "k int, v string")
    lake.insert(
        "tb",
        spark.range(3000).select(
            F.col("id").cast("int").alias("k"), F.lit("old").alias("v")
        ),
    )
    src = spark.range(1000, 5000).select(
        F.col("id").cast("int").alias("k"), F.lit("new").alias("v")
    )
    res = lake.merge("tb", src, on=["k"], when_matched_update={"v": "source.v"})
    assert res == {"num_updated": 2000, "num_deleted": 0, "num_inserted": 2000}
    got = lake.table("tb")
    assert got.count() == 5000
    assert got.filter("v = 'new'").count() == 4000
