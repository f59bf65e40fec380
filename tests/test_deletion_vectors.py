"""Positional delete files (≙ ducklake_delete_file) + the delete-ratio
vacuum rewrite (vacuum.sql:19-47 semantics: delete files appear, reads
subtract them, VACUUM rewrites files over the threshold and clears
them)."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def t(spark, lake):
    lake.create_table("t", "a int, b string")
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("a"),
        F.concat(F.lit("v"), F.col("id")).alias("b"),
    ).coalesce(2)
    lake.insert("t", df)
    return lake


def test_dv_delete_no_rewrite(t):
    files_before = {r.path for r in t.list_files("t").collect()}
    assert t.delete("t", "a < 10") == 10  # default mode: dv
    files_after = {r.path for r in t.list_files("t").collect()}
    assert files_before == files_after  # zero data files touched
    state = t._state("t")
    assert sum(d["deleted"] for d in state.dvs.values()) == 10
    assert t.table("t").count() == 90
    assert t.table("t").filter("a < 10").count() == 0


def test_dv_cumulative_deletes(t):
    t.delete("t", "a < 10")
    t.delete("t", "a >= 10 AND a < 15")
    assert t.table("t").count() == 85
    state = t._state("t")
    assert sum(d["deleted"] for d in state.dvs.values()) == 15
    # second delete of same rows is a no-op (positions already subtracted)
    assert t.delete("t", "a < 15") == 0


def test_dv_update_does_not_resurrect(t):
    t.delete("t", "a < 10")
    assert t.update("t", {"b": "'upd'"}, "a < 20") == 10  # only live rows
    assert t.table("t").filter("a < 10").count() == 0  # still deleted
    assert t.table("t").filter("b = 'upd'").count() == 10


def test_dv_time_travel(t):
    v_before = t.current_snapshot("t")
    t.delete("t", "a < 50")
    assert t.table("t", version=v_before).count() == 100
    assert t.table("t").count() == 50


def test_dv_change_feed(t):
    v = t.current_snapshot("t")
    t.delete("t", "a < 5")
    ch = t.table_changes("t", v + 1, v + 1).collect()
    assert sorted(r.a for r in ch) == [0, 1, 2, 3, 4]
    assert {r._change_type for r in ch} == {"delete"}


def test_vacuum_delete_ratio_rewrite(t):
    """vacuum.sql shape: delete enough rows to cross the threshold, VACUUM
    rewrites the files and clears the delete files."""
    t.delete("t", "a % 2 = 0")  # 50% deleted per file ≥ 0.1 threshold
    state = t._state("t")
    assert state.dvs
    res = t.vacuum("t", target_file_size=1)  # tiny target: no merges, only ratio
    assert res["dvs_cleared"] >= 1 and res["files_removed"] >= 1
    state = t._state("t")
    assert not state.dvs  # delete files gone
    assert t.table("t").count() == 50
    assert state.total_rows == 50  # physical rows, no DV subtraction left


def test_vacuum_below_threshold_keeps_dv(t):
    t.delete("t", "a = 0")  # 1/~50 per file < 0.1
    res = t.vacuum("t", target_file_size=1)
    assert res["dvs_cleared"] == 0
    assert t._state("t").dvs
    assert t.table("t").count() == 99


def test_cow_mode_still_available(t):
    files_before = {r.path for r in t.list_files("t").collect()}
    assert t.delete("t", "a < 10", mode="cow") == 10
    files_after = {r.path for r in t.list_files("t").collect()}
    assert files_before != files_after
    assert not t._state("t").dvs
    assert t.table("t").count() == 90


def test_dv_cleanup_after_vacuum(t):
    t.delete("t", "a % 2 = 0")
    t.vacuum("t", target_file_size=1)
    dv_dir = os.path.join(t._table_dir("t"), "_dv")
    n_dv_files = sum(len(fs) for _r, _d, fs in os.walk(dv_dir))
    assert n_dv_files > 0
    removed = t.cleanup_old_files("t")
    assert removed > 0
    assert t.table("t").count() == 50


def test_dv_survives_freeze(spark, t, tmp_path):
    from pg_ducklake_spark import Lake

    t.delete("t", "a >= 90")
    out = str(tmp_path / "m.ducklake")
    t.freeze(out)
    frozen = Lake.attach_frozen(spark, out)
    assert frozen.table("t").count() == 90
    assert frozen.table("t").filter("a >= 90").count() == 0


def test_dv_with_scan_pruning(t):
    t.delete("t", "a = 5")
    got = t.scan("t", "a < 10").collect()
    assert sorted(r.a for r in got) == [0, 1, 2, 3, 4, 6, 7, 8, 9]


def test_dv_size_keyed_resolve_and_string_fallback(spark, lake):
    """r11b: the DV anti-join resolves file ids by joining on
    _metadata.file_size (numeric — no per-row path-string UnsafeRow
    copy) when the catalog-recorded sizes of the DV'd files are
    unique, and falls back to the file_path string form when two
    files collide on byte size. Both paths must read identically."""
    # unique sizes: two inserts of different row counts
    lake.create_table("u", "a int, b string")
    lake.insert("u", spark.range(0, 60).selectExpr(
        "CAST(id AS INT) a", "concat('v', id) b").coalesce(1))
    lake.insert("u", spark.range(60, 100).selectExpr(
        "CAST(id AS INT) a", "concat('v', id) b").coalesce(1))
    lake.delete("u", "a % 7 = 0")
    st = lake._state("u")
    sizes = [lake._state("u").files[r].bytes for r in sorted(st.dvs)]
    assert len(set(sizes)) == len(sizes), "fixture must have unique sizes"
    plan = lake.table("u")._jdf.queryExecution().optimizedPlan().toString()
    assert "_dl_sz" in plan, "unique sizes must take the size-keyed join"
    assert lake.table("u").count() == 100 - 15
    assert lake.table("u").filter("a % 7 = 0").count() == 0

    # size collision: two inserts of IDENTICAL rows -> identical files.
    # NOTE fixture assumption: Spark's parquet writer is
    # byte-deterministic for identical input — if the "must collide on
    # size" assertion below ever fails, suspect a Spark writer-version
    # change (nondeterministic metadata), not the lake.
    lake.create_table("c", "a int, b string")
    rows = spark.range(0, 50).selectExpr(
        "CAST(id AS INT) a", "concat('v', id) b").coalesce(1)
    lake.insert("c", rows)
    lake.insert("c", rows)
    lake.delete("c", "a < 5")
    st = lake._state("c")
    sizes = [st.files[r].bytes for r in sorted(st.dvs)]
    assert len(set(sizes)) < len(sizes), "fixture must collide on size"
    plan = lake.table("c")._jdf.queryExecution().optimizedPlan().toString()
    assert "_dl_fp" in plan and "_dl_sz" not in plan, (
        "size collision must fall back to the path-string join"
    )
    assert lake.table("c").count() == 90  # 2x50 - 2x5
    assert lake.table("c").filter("a < 5").count() == 0


def test_dv_broadcast_guard_both_paths(spark, lake):
    """r12 (VERDICT #1): the DV anti-join broadcast is guarded by the
    catalog-recorded total DV position count — under the threshold the
    packed key set is broadcast-hinted; above it the hint is dropped so
    the packed-LONG anti-join runs sort-merge/shuffled-hash (a mass
    DELETE between vacuums can exceed Spark's 8 GB broadcast hard
    limit; the catalog knows the count at plan time for free). Both
    paths plan-asserted and result-identical."""
    from pg_ducklake_spark import Lake

    lake.create_table("g", "a int, b string")
    lake.insert("g", spark.range(0, 200).selectExpr(
        "CAST(id AS INT) a", "concat('v', id) b").coalesce(2))
    lake.delete("g", "a % 3 = 0")

    def anti_lines(df):
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return [ln for ln in plan.splitlines() if "LeftAnti" in ln]

    # default: 67 positions << 64M threshold -> broadcast-hinted
    hinted = anti_lines(lake.table("g"))
    assert hinted and all("Broadcast" in ln for ln in hinted)
    expect = sorted(r.a for r in lake.table("g").collect())

    # guarded: fresh Lake (no cached plan), threshold forced to 0, and
    # auto-broadcast off so the static plan shows the unhinted join
    l2 = Lake(spark, lake.path)
    l2.DV_BROADCAST_MAX_POSITIONS = 0
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = l2.table("g")
        unhinted = anti_lines(df)
        assert unhinted and all("Broadcast" not in ln for ln in unhinted)
        assert sorted(r.a for r in df.collect()) == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_dv_key_cache_reuse_and_invalidation(t):
    """r11c/r12: the packed DV key set of a table's DV files is
    persisted and reused across full-table scans; a new delete (new
    DV files) gets its own entry while up to _DV_KEY_CACHE_PER_TABLE
    older sets stay cached (so alternating latest and time-travel
    scans don't thrash), with the least recently used evicted once
    the cap is hit."""
    t.delete("t", "a < 10")
    assert t.table("t").count() == 90
    key0 = next(iter(t._dv_key_cache))
    cached0 = t._dv_key_cache[key0]
    t.table("t").count()
    assert t._dv_key_cache[key0] is cached0  # reused, not rebuilt
    t.delete("t", "a >= 90")
    assert t.table("t").count() == 80
    # LRU: the older vintage STAYS cached (time-travel reads of it
    # must not rebuild), alongside the new latest entry
    assert key0 in t._dv_key_cache
    assert len(t._dv_key_cache) == 2
    # drive past the per-table cap: each delete+scan adds a vintage
    for lo in (10, 20, 30):
        t.delete("t", f"a < {lo + 10} and a >= {lo}")
        t.table("t").count()
    per_table = [k for k in t._dv_key_cache]
    assert len(per_table) == t._DV_KEY_CACHE_PER_TABLE
    # the least recently used set (key0) was the eviction victim
    assert key0 not in t._dv_key_cache
    dvs = t._state("t").dvs
    assert per_table[-1][1] == tuple((f, dvs[f]["path"]) for f in sorted(dvs))
    t.drop_table("t")
    assert not t._dv_key_cache


def test_dv_key_cache_survives_inserts(t, spark):
    """Commits that leave the DVs alone (inserts) keep reusing the
    table's one cached DV key set. Keyed per snapshot, every scan
    after an insert cached the same plan again, and evicting the
    oldest of those entries unpersisted the data they all shared."""
    t.delete("t", "a < 10")
    assert t.table("t").count() == 90
    (key,) = t._dv_key_cache
    cached = t._dv_key_cache[key]
    for i in range(5):
        t.insert("t", spark.createDataFrame([(100 + i, "new")], "a int, b string"))
        assert t.table("t").count() == 91 + i
    assert list(t._dv_key_cache) == [key]
    assert t._dv_key_cache[key] is cached
    assert cached.storageLevel.useMemory  # still persisted
