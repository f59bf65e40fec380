"""Stats pruning (operators/pruning.py) and the DML match scans that use
it: a pruned file set must never drop a row the full predicate matches,
through ``Lake.scan``, ``delete`` and ``update``."""

import pytest
from pyspark.sql import functions as F

from pg_ducklake_spark.operators.pruning import _split_conjuncts, prune_files


def _ids(df, col="a"):
    return sorted(r[col] for r in df.collect())


def test_split_conjuncts_precedence():
    assert _split_conjuncts("a = 1 AND c = 2") == ["a = 1 ", " c = 2"]
    assert _split_conjuncts("a BETWEEN 1 AND 5 and b = 2") == [
        "a BETWEEN 1 AND 5 ", " b = 2"
    ]
    # A top-level OR, in any case, bounds nothing.
    assert _split_conjuncts("a = 1 AND c = 2 OR a = 900") is None
    assert _split_conjuncts("a = 1 and c = 2 or a = 900") is None
    # ORs that do not reach the top level keep the AND split.
    assert _split_conjuncts("(a = 1 OR b = 2) AND c = 3") == [
        "(a = 1 OR b = 2) ", " c = 3"
    ]
    assert _split_conjuncts("s = 'x OR y' AND c = 3") == ["s = 'x OR y' ", " c = 3"]
    assert _split_conjuncts("order_id = 1 AND c = 3") == ["order_id = 1 ", " c = 3"]
    # CASE ... END nests: its inner ANDs are not conjuncts.
    assert _split_conjuncts(
        "CASE WHEN p AND a = 1 AND q THEN true ELSE false END"
    ) == ["CASE WHEN p AND a = 1 AND q THEN true ELSE false END"]
    assert _split_conjuncts("a = 1 -- OR a = 2") is None


def test_prune_between_and_not_between(lake, spark):
    lake.create_table("t", "a bigint, s string")
    for lo in (0, 100, 200):
        lake.insert(
            "t",
            spark.range(lo, lo + 100, numPartitions=1).select(
                F.col("id").alias("a"), F.lit(f"s{lo}").alias("s")
            ),
        )
    state = lake._state("t")
    assert len(prune_files(state, "a BETWEEN 120 AND 150")) == 1
    assert len(prune_files(state, "a between 120 and 250")) == 2
    assert len(prune_files(state, "a BETWEEN 120 AND 150 AND s = 's100'")) == 1
    assert len(prune_files(state, "a NOT BETWEEN 120 AND 150")) == 3
    assert len(prune_files(state, "NOT a BETWEEN 120 AND 150")) == 3
    assert _ids(lake.scan("t", "a NOT BETWEEN 1 AND 298")) == [0, 299]
    # A string literal never prunes a numeric column (Spark casts it).
    assert len(prune_files(state, "a = '150'")) == 3


@pytest.fixture()
def or_table(spark, lake):
    lake.create_table("t", "a bigint, c bigint")
    lake.insert("t", spark.createDataFrame([(1, 2), (5, 5)], "a bigint, c bigint"))
    lake.insert("t", spark.createDataFrame([(900, 0)], "a bigint, c bigint"))
    return lake


WHERE_OR = "a = 1 AND c = 2 OR a = 900"


def test_top_level_or_scan(or_table):
    want = _ids(or_table.table("t").filter(WHERE_OR))
    assert want == [1, 900]
    assert _ids(or_table.scan("t", WHERE_OR)) == want


def test_top_level_or_delete(or_table):
    assert or_table.delete("t", WHERE_OR) == 2
    assert _ids(or_table.table("t")) == [5]


def test_top_level_or_update(or_table):
    assert or_table.update("t", {"c": "c + 10"}, WHERE_OR) == 2
    assert sorted(
        (r.a, r.c) for r in or_table.table("t").collect()
    ) == [(1, 12), (5, 5), (900, 10)]


@pytest.fixture()
def nan_table(spark, lake):
    lake.create_table("t", "a bigint, x double")
    lake.insert(
        "t",
        spark.createDataFrame([(1, 1.0), (2, float("nan"))], "a bigint, x double"),
    )
    lake.insert("t", spark.createDataFrame([(3, 0.5)], "a bigint, x double"))
    return lake


def test_nan_stats_scan(nan_table):
    want = _ids(nan_table.table("t").filter("x > 5"))
    assert want == [2]  # NaN sorts above every number
    assert _ids(nan_table.scan("t", "x > 5")) == want
    assert _ids(nan_table.scan("t", "x = 'NaN'")) == want


def test_nan_stats_delete_update(nan_table):
    assert nan_table.update("t", {"a": "a + 100"}, "x > 5") == 1
    assert _ids(nan_table.table("t")) == [1, 3, 102]
    assert nan_table.delete("t", "x >= 5") == 1
    assert _ids(nan_table.table("t")) == [1, 3]


@pytest.fixture(params=["drop", "rename"])
def readd_table(request, spark, lake):
    """``g`` re-added with a default over a file that holds a former
    ``g`` (dropped, or renamed to ``h``) whose stats say ``'old'``; a
    second file is written after the re-add."""
    lake.create_table("t", "a bigint, g string")
    lake.insert("t", spark.createDataFrame([(1, "old")], "a bigint, g string"))
    if request.param == "drop":
        lake.drop_column("t", "g")
    else:
        lake.rename_column("t", "g", "h")
    lake.add_column("t", "g", "string", default="'dflt'")
    cols = [f.name for f in lake.table("t").schema.fields]
    row = {"a": 2, "g": "new", "h": "kept"}
    lake.insert(
        "t",
        spark.createDataFrame(
            [tuple(row[c] for c in cols)],
            ", ".join(f"{c} {'bigint' if c == 'a' else 'string'}" for c in cols),
        ),
    )
    return lake


def test_readd_column_scan(readd_table, tmp_path):
    for where, want in (("g = 'dflt'", [1]), ("g = 'old'", []), ("g = 'new'", [2])):
        assert _ids(readd_table.table("t").filter(where)) == want
        assert _ids(readd_table.scan("t", where)) == want
    frozen = str(tmp_path / "f.ducklake")
    readd_table.freeze(frozen)
    fl = type(readd_table).attach_frozen(readd_table.spark, frozen)
    assert _ids(fl.scan("t", "g = 'dflt'")) == [1]


def test_readd_column_delete_update(readd_table):
    assert readd_table.update("t", {"a": "a + 100"}, "g = 'dflt'") == 1
    assert _ids(readd_table.table("t")) == [2, 101]
    assert readd_table.delete("t", "g = 'dflt'") == 1
    assert _ids(readd_table.table("t")) == [2]


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_float_column_integer_literal(spark, lake, ansi):
    """An integer literal a float cannot hold: with ANSI off Spark rounds
    it to float (``f = 16777217`` is ``f = 16777216.0f``), with ANSI on
    it compares as a double. Pruning must agree with both."""
    lake.create_table("t", "a bigint, f float")
    lake.insert("t", spark.createDataFrame([(1, 16777216.0)], "a bigint, f float"))
    lake.insert("t", spark.createDataFrame([(2, 0.5)], "a bigint, f float"))
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        want = [1] if ansi == "false" else []
        for where in ("f = 16777217", "f >= 16777217", "f BETWEEN 16777217 AND 16777217"):
            assert _ids(lake.table("t").filter(where)) == want
            assert _ids(lake.scan("t", where)) == want
        assert lake.update("t", {"a": "a + 100"}, "f = 16777217") == len(want)
        assert lake.delete("t", "f = 16777217") == len(want)
        assert _ids(lake.table("t")) == ([2] if want else [1, 2])
        # An integer a float holds exactly still prunes.
        assert len(prune_files(lake._state("t"), "f = 2")) == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_partition_value_unescaped(spark, lake):
    """Hive paths escape partition values; pruning compares the value."""
    lake.create_table("t", "a int, s string", partition_by=["s"])
    lake.insert(
        "t", spark.createDataFrame([(1, "a/b"), (2, "c%d"), (3, "e")], "a int, s string")
    )
    assert _ids(lake.scan("t", "s = 'a/b'")) == [1]
    assert _ids(lake.scan("t", "s = 'c%d'")) == [2]
    assert _ids(lake.scan("t", "s != 'a/b'")) == [2, 3]
    # Copy-on-write: a DV names its data file by the scan's file URI,
    # which escapes these paths once more.
    assert lake.delete("t", "s = 'c%d'", mode="cow") == 1
    assert _ids(lake.table("t")) == [1, 3]


def _planned(lake, monkeypatch, fn):
    """Run ``fn`` in a job group; return its result, the rel lists
    ``_read_files`` was asked for and the task count of every stage."""
    planned = []
    orig = type(lake)._read_files

    def spy(self, name, state, schema, rels=None, keep_meta=False):
        planned.append(None if rels is None else sorted(rels))
        return orig(self, name, state, schema, rels=rels, keep_meta=keep_meta)

    monkeypatch.setattr(type(lake), "_read_files", spy)
    sc = lake.spark.sparkContext
    try:
        sc.setJobGroup("dml_prune", "pruned DML match scan")
        res = fn()
        jobs = sc.statusTracker().getJobIdsForGroup("dml_prune")
    finally:
        sc.setJobGroup(None, None)
        monkeypatch.setattr(type(lake), "_read_files", orig)
    tasks = [
        sc.statusTracker().getStageInfo(sid).numTasks
        for j in jobs
        for sid in sc.statusTracker().getJobInfo(j).stageIds
        if sc.statusTracker().getStageInfo(sid) is not None
    ]
    return res, planned, tasks


def test_between_dml_plans_one_file(spark, lake, monkeypatch):
    """On an 8-file range-partitioned table, a BETWEEN delete and update
    inside one file's key range read that file only."""
    lake.create_table("tp", "k bigint, v string")
    lake.insert(
        "tp",
        spark.range(0, 16000, 2)
        .select(F.col("id").alias("k"), F.lit("old").alias("v"))
        .repartitionByRange(8, "k"),
    )
    files = sorted(lake._state("tp").files.values(), key=lambda e: e.stats["k"]["min"])
    assert len(files) == 8
    e = files[2]
    lo, hi = e.stats["k"]["min"], e.stats["k"]["max"]
    where = f"k BETWEEN {lo} AND {lo + 10}"
    n, planned, tasks = _planned(lake, monkeypatch, lambda: lake.delete("tp", where))
    assert n == 6
    assert planned == [[e.path]]
    # Every stage has at most one task per planned file (a full-table
    # match scan ran 8 scan tasks).
    assert max(tasks) < 8, tasks
    where_u = f"k BETWEEN {hi - 10} AND {hi}"
    n, planned, tasks = _planned(
        lake, monkeypatch, lambda: lake.update("tp", {"v": "'new'"}, where_u)
    )
    assert n == 6
    # The match scan, then the rewrite's read of the same one file.
    assert planned == [[e.path], [e.path]]
    got = lake.table("tp")
    assert got.count() == 8000 - 6
    assert got.filter("v = 'new'").count() == 6
    assert got.filter(f"k BETWEEN {lo} AND {lo + 10}").count() == 0
