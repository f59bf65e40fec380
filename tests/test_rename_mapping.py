"""RENAME COLUMN is metadata-only (≙ ducklake_name_mapping,
src/pgducklake_freeze.cpp:52 table list): files, inline rows, change
files, and frozen exports written before the rename keep the old
physical name, and every read path must map the current column back to
its per-vintage physical name. Found by tools/fuzz_schema.py — a
renamed string column read NULL from pre-rename files."""

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def renamed_lake(lake, spark):
    lake.create_table(
        "t", "id bigint, g string, v bigint",
        options={"data_inlining_row_limit": 2},
    )
    lake.insert(
        "t",
        spark.createDataFrame(
            [(0, "red", 10), (1, "blue", 20)], "id bigint, g string, v bigint"
        ),
    )
    lake.insert_rows("t", [{"id": 2, "g": "plum", "v": 30}])
    lake.rename_column("t", "g", "color")
    lake.insert(
        "t",
        spark.createDataFrame(
            [(3, "cyan", 40)], "id bigint, color string, v bigint"
        ),
    )
    return lake


def test_scan_maps_renamed_column(renamed_lake):
    rows = sorted(tuple(r) for r in renamed_lake.table("t").collect())
    assert rows == [
        (0, "red", 10), (1, "blue", 20), (2, "plum", 30), (3, "cyan", 40)
    ]


def test_chained_rename_and_update(renamed_lake):
    renamed_lake.rename_column("t", "color", "hue")
    renamed_lake.update("t", {"v": "v + 1"}, "id = 0")
    rows = sorted(tuple(r) for r in renamed_lake.table("t").collect())
    assert renamed_lake.table("t").columns == ["id", "hue", "v"]
    assert (0, "red", 11) in rows and (2, "plum", 30) in rows


def test_time_travel_has_old_name_and_values(renamed_lake):
    df = renamed_lake.table("t", version=2)
    assert df.columns == ["id", "g", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "red", 10), (1, "blue", 20)
    ]


def test_filter_on_renamed_column_prunes_correctly(renamed_lake):
    got = renamed_lake.scan("t", "color = 'red'").collect()
    assert [tuple(r) for r in got] == [(0, "red", 10)]


def test_change_feed_spans_rename(renamed_lake):
    last = renamed_lake.current_snapshot("t")
    feed = renamed_lake.table_changes("t", 1, last)
    inserts = sorted(
        (r.id, r.color, r.v)
        for r in feed.collect()
        if r._change_type == "insert"
    )
    assert inserts == [
        (0, "red", 10), (1, "blue", 20), (2, "plum", 30), (3, "cyan", 40)
    ]


def test_freeze_round_trip_with_rename(renamed_lake, spark, tmp_path):
    from pg_ducklake_spark.freeze import FrozenLake

    renamed_lake.delete("t", "id = 1")
    out = os.path.join(str(tmp_path), "out.ducklake")
    renamed_lake.freeze(out)
    fro = FrozenLake(spark, out)
    df = fro.table("t")
    assert df.columns == ["id", "color", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [
        (0, "red", 10), (2, "plum", 30), (3, "cyan", 40)
    ]


def test_vacuum_rewrites_under_current_name(renamed_lake):
    renamed_lake.delete("t", "id = 0")
    renamed_lake.vacuum("t")
    rows = sorted(tuple(r) for r in renamed_lake.table("t").collect())
    assert rows == [(1, "blue", 20), (2, "plum", 30), (3, "cyan", 40)]
    # And the rename mapping still resolves after the rewrite.
    renamed_lake.rename_column("t", "color", "shade")
    assert sorted(
        tuple(r) for r in renamed_lake.table("t").collect()
    ) == rows


def test_partition_spec_follows_rename(lake, spark):
    lake.create_table("p", "k int, ts timestamp", partition_by=["k"])
    lake.insert("p", spark.sql("SELECT 1 k, TIMESTAMP '2024-01-01' ts"))
    lake.rename_column("p", "k", "kk")
    lake.insert("p", spark.sql("SELECT 2 kk, TIMESTAMP '2024-01-02' ts"))
    assert lake.get_partition("p") == ["kk"]
    assert sorted(r[0] for r in lake.table("p").collect()) == [1, 2]


def test_sort_spec_follows_rename(lake, spark):
    lake.create_table("s", "a int, b int", sorted_by=["a ASC"])
    lake.insert("s", spark.createDataFrame([(3, 1), (1, 2)], "a int, b int"))
    lake.rename_column("s", "a", "aa")
    assert lake.get_sort("s")[0]["expression"] == "aa"
    lake.vacuum("s")  # compaction applies the (renamed) sort key
    assert sorted(tuple(r) for r in lake.table("s").collect()) == [
        (1, 2), (3, 1)
    ]


def test_prune_files_uses_physical_name(lake, spark):
    from pg_ducklake_spark.operators.pruning import prune_files

    lake.create_table("pr", "a int, s string")
    for lo in (0, 100, 200):
        lake.insert(
            "pr",
            spark.range(lo, lo + 100)
            .select(F.col("id").cast("int").alias("a"), F.lit("x").alias("s"))
            .coalesce(1),
        )
    lake.rename_column("pr", "a", "b")
    state = lake._state("pr")
    # Old files' stats live under physical name 'a'; pruning on the
    # current name must still hit them.
    assert len(prune_files(state, "b >= 250")) == 1
    assert lake.scan("pr", "b >= 250").count() == 50


def test_drop_then_readd_does_not_leak_stale_bytes(lake, spark):
    lake.create_table("t2", "id bigint, g string, v bigint")
    lake.insert(
        "t2",
        spark.createDataFrame(
            [(0, "old0", 10), (1, "old1", 20)], "id bigint, g string, v bigint"
        ),
    )
    lake.drop_column("t2", "g")
    lake.add_column("t2", "g", "string")  # name reuse
    lake.insert(
        "t2",
        spark.createDataFrame([(2, 30, "new2")], "id bigint, v bigint, g string"),
    )
    rows = sorted(tuple(r) for r in lake.table("t2").collect())
    # Pre-re-add rows must read NULL, not the dropped column's bytes.
    assert rows == [(0, 10, None), (1, 20, None), (2, 30, "new2")]


def test_readd_with_default_backfills_all_older_files(lake, spark):
    lake.create_table("t3", "id bigint, g string")
    lake.insert(
        "t3", spark.createDataFrame([(0, "old")], "id bigint, g string")
    )
    lake.drop_column("t3", "g")
    lake.add_column("t3", "g", "string", default="'dflt'")
    [row] = lake.table("t3").collect()
    assert row["g"] == "dflt"


def test_rename_then_readd_same_name(lake, spark):
    lake.create_table("t4", "id bigint, g string")
    lake.insert(
        "t4", spark.createDataFrame([(0, "orig")], "id bigint, g string")
    )
    lake.rename_column("t4", "g", "h")
    lake.add_column("t4", "g", "string")
    lake.insert(
        "t4",
        spark.createDataFrame(
            [(1, "kept", "newg")], "id bigint, h string, g string"
        ),
    )
    rows = sorted(tuple(r) for r in lake.table("t4").collect())
    # The renamed column follows its physical name; the re-added g
    # cannot exist in the pre-rename file.
    assert rows == [(0, "orig", None), (1, "kept", "newg")]


def test_frozen_readd_matches_live(lake, spark, tmp_path):
    """A frozen lake reads a dropped-then-re-added column (and one
    re-added after a rename) like the live lake: files older than the
    re-add read NULL, never the old column's bytes."""
    from pg_ducklake_spark.freeze import FrozenLake

    lake.create_table("t", "a bigint, g string")
    lake.insert("t", spark.createDataFrame([(1, "old")], "a bigint, g string"))
    lake.drop_column("t", "g")
    lake.add_column("t", "g", "string")
    lake.create_table("r", "a bigint, g string")
    lake.insert("r", spark.createDataFrame([(1, "orig")], "a bigint, g string"))
    lake.rename_column("r", "g", "h")
    lake.add_column("r", "g", "string")
    out = os.path.join(str(tmp_path), "readd.ducklake")
    lake.freeze(out)
    fro = FrozenLake(spark, out)
    for name in ("t", "r"):
        live = sorted(tuple(r) for r in lake.table(name).collect())
        assert sorted(tuple(r) for r in fro.table(name).collect()) == live
    assert live == [(1, "orig", None)]
    assert fro.scan("t", "g = 'old'").count() == 0


def test_inline_update_preserves_initial_default(lake, spark):
    """Found by tools/fuzz_schema.py seed 99: updating an inline row
    that predates an ADD COLUMN DEFAULT must keep the default-filled
    view, not rewrite the row with NULLs."""
    lake.create_table(
        "t5", "id bigint, v bigint", options={"data_inlining_row_limit": 4}
    )
    lake.insert_rows("t5", [{"id": 0, "v": 7}])
    lake.add_column("t5", "c", "bigint", default="620")
    lake.update("t5", {"v": "v + 1"}, "id = 0")
    [row] = lake.table("t5").collect()
    assert (row["v"], row["c"]) == (8, 620)


def test_inline_predicate_sees_default_and_renamed(lake, spark):
    lake.create_table(
        "t6", "id bigint, g string", options={"data_inlining_row_limit": 4}
    )
    lake.insert_rows("t6", [{"id": 0, "g": "x"}])
    lake.rename_column("t6", "g", "h")
    lake.add_column("t6", "c", "bigint", default="5")
    # Predicates over the renamed column and the defaulted column must
    # match the buffered row exactly like a scan would.
    assert lake.delete("t6", "h = 'x' AND c = 5") == 1
    assert lake.table("t6").count() == 0


_VINTAGE_CASES = ["drop_readd", "add_default", "rename_readd"]


def _vintage_table(lake, spark, case):
    """Table ``v``: ids 0-19 in a file and 20-24 inline, written under
    ``(id, x)``; then one vintage case; then ids 30-39 in a file and
    40-44 inline under the new schema. Returns the rows every reader
    must give and the snapshot of the last insert."""
    lake.create_table(
        "v", "id bigint, x string", options={"data_inlining_row_limit": 16}
    )
    lake.insert(
        "v",
        spark.createDataFrame(
            [(i, f"old{i}") for i in range(20)], "id bigint, x string"
        ),
    )
    lake.insert_rows("v", [{"id": i, "x": f"old{i}"} for i in range(20, 25)])
    if case == "drop_readd":  # the re-added x must not read the old bytes
        lake.drop_column("v", "x")
        lake.add_column("v", "x", "string")
        old = lambda i: (i, None)  # noqa: E731
    elif case == "add_default":  # older rows read the initial default
        lake.add_column("v", "s", "int", default="7")
        old = lambda i: (i, f"old{i}", 7)  # noqa: E731
    else:  # rename_readd: y keeps x's bytes, the new x reads NULL
        lake.rename_column("v", "x", "y")
        lake.add_column("v", "x", "string")
        old = lambda i: (i, f"old{i}", None)  # noqa: E731
    schema = lake.table("v").schema
    new = [
        tuple(
            i if f.name == "id" else f"{f.name}{i}" if f.name != "s" else i % 5
            for f in schema.fields
        )
        for i in list(range(30, 40)) + list(range(40, 45))
    ]
    lake.insert("v", spark.createDataFrame(new[:10], schema))
    lake.insert_rows("v", [dict(zip(schema.names, r)) for r in new[10:]])
    return [old(i) for i in range(25)] + new, old


def _rows(rows, n=None):
    """``rows`` cut to their first ``n`` fields, in one order (by repr:
    the same id can hold a NULL in one row and a value in another)."""
    return sorted((tuple(r)[:n] for r in rows), key=repr)


@pytest.mark.parametrize("case", _VINTAGE_CASES)
def test_every_reader_applies_one_vintage_rule(lake, spark, tmp_path, case):
    """Live files and inline rows, a frozen export, change-feed inserts
    (files and inline rows), a DV delete's derived rows and an UPDATE's
    change rows all map a column to what data of its vintage holds:
    the name before later renames, NULL for a column added after it, or
    the column's initial_default."""
    from pg_ducklake_spark.freeze import FrozenLake

    want, old = _vintage_table(lake, spark, case)
    n = len(want[0])
    want = _rows(want)
    assert _rows(lake.table("v").collect()) == want
    out = os.path.join(str(tmp_path), "v.ducklake")
    lake.freeze(out)
    assert _rows(FrozenLake(spark, out).table("v").collect()) == want
    feed = lake.table_changes("v", 1, lake.current_snapshot("v"))
    assert _rows(feed.filter("_change_type = 'insert'").collect(), n) == want

    lake.delete("v", "id IN (1, 2, 21)")
    deleted = lake.table_deletions("v", lake.current_snapshot("v"))
    assert _rows(deleted.collect(), n) == _rows([old(1), old(2), old(21)])
    lake.update("v", {"id": "id + 1000"}, "id IN (10, 11, 22)")
    ch = lake.table_changes("v", lake.current_snapshot("v"))
    pre = ch.filter("_change_type = 'update_preimage'").collect()
    post = ch.filter("_change_type = 'update_postimage'").collect()
    assert _rows(pre, n) == _rows([old(10), old(11), old(22)])
    assert _rows(post, n) == _rows(
        (i + 1000,) + old(i)[1:] for i in (10, 11, 22)
    )


@pytest.mark.parametrize("case", _VINTAGE_CASES)
def test_cdc_stream_reader_applies_one_vintage_rule(lake, spark, case):
    """The lake_cdf stream reader, planned and read directly (no
    streaming query), gives the batch feed's rows for insert files,
    inline rows, DV deletes and UPDATE change files."""
    from pg_ducklake_spark.streaming.cdc_source import LakeCDFStreamReader

    want, old = _vintage_table(lake, spark, case)
    n = len(want[0])
    lake.delete("v", "id IN (1, 2, 21)")
    lake.update("v", {"id": "id + 1000"}, "id IN (10, 11, 22)")
    reader = LakeCDFStreamReader(lake.path, "v", 1)
    parts = reader.partitions({"version": 0}, reader.latestOffset())
    assert {p.kind for p in parts} >= {"insert_file", "inline", "dv_delete", "cdf_file"}
    got = [row for p in parts for row in reader.read(p)]
    assert _rows((r for r in got if r[n] == "insert"), n) == _rows(want)
    assert _rows((r for r in got if r[n] == "delete"), n) == _rows(
        [old(1), old(2), old(21)]
    )
    # Both feeds without _commit_timestamp, the last field.
    batch = lake.table_changes("v", 1).collect()
    assert _rows(r[:-1] for r in got) == _rows(tuple(r)[:-1] for r in batch)
