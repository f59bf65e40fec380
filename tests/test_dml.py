"""Mirrors dml_row_count.sql: INSERT/UPDATE/DELETE row counts; plus CoW
semantics, predicate NULL handling, and inline-buffer DML."""

import pytest
from pyspark.sql import functions as F

from pg_ducklake_spark.errors import LakeError


@pytest.fixture()
def t(spark, lake):
    lake.create_table("t", "a int, b string")
    df = spark.range(1, 11).select(
        F.col("id").cast("int").alias("a"),
        F.concat(F.lit("val"), F.col("id")).alias("b"),
    )
    lake.insert("t", df)
    return lake


def test_insert_row_count(spark, lake):
    lake.create_table("t", "a int")
    assert lake.insert("t", spark.createDataFrame([(1,), (2,), (3,)], "a int")) == 3


def test_update_row_count(t):
    assert t.update("t", {"b": "'x'"}, "a <= 4") == 4
    rows = {r.a: r.b for r in t.table("t").collect()}
    assert rows[1] == "x" and rows[5] == "val5"


def test_delete_row_count(t):
    assert t.delete("t", "a > 8") == 2
    assert t.table("t").count() == 8


def test_update_zero_rows_no_snapshot(t):
    v = t.current_snapshot("t")
    assert t.update("t", {"b": "'x'"}, "a > 100") == 0
    assert t.current_snapshot("t") == v


def test_delete_null_predicate_keeps_rows(spark, lake):
    lake.create_table("t", "a int, b string")
    lake.insert("t", spark.createDataFrame([(1, None), (2, "x")], "a int, b string"))
    # b = 'x' is NULL for the first row → only the true match is deleted
    assert lake.delete("t", "b = 'x'") == 1
    assert [r.a for r in lake.table("t").collect()] == [1]


def test_update_expression_references_columns(t):
    t.update("t", {"a": "a + 100"}, "a <= 2")
    assert sorted(r.a for r in t.table("t").collect())[-2:] == [101, 102]


def test_update_all_rows_default_where(t):
    assert t.update("t", {"b": "upper(b)"}) == 10
    assert all(r.b.startswith("VAL") for r in t.table("t").collect())


def test_dml_on_inline_rows(spark, lake):
    lake.create_table("t", "a int, b string", options={"data_inlining_row_limit": 100})
    lake.insert_rows("t", [{"a": i, "b": f"v{i}"} for i in range(5)])
    assert lake.table_info("t")["inlined_rows"] == 5
    assert lake.update("t", {"b": "'upd'"}, "a >= 3") == 2
    assert lake.delete("t", "a = 0") == 1
    rows = sorted((r.a, r.b) for r in lake.table("t").collect())
    assert rows == [(1, "v1"), (2, "v2"), (3, "upd"), (4, "upd")]


def test_mixed_inline_and_file_dml(spark, lake):
    lake.create_table("t", "a int", options={"data_inlining_row_limit": 10})
    lake.insert("t", spark.createDataFrame([(1,), (2,)], "a int"))  # parquet
    lake.insert_rows("t", [{"a": 3}, {"a": 4}])  # inline
    assert lake.delete("t", "a % 2 = 0") == 2  # one from each side
    assert sorted(r.a for r in lake.table("t").collect()) == [1, 3]


def test_require_commit_message_option_surfaced(t):
    t.set_option("require_commit_message", True, table="t")
    assert t.options("t")["require_commit_message"] is True


def test_state_held_across_commit_is_stable(spark, lake):
    """A replayed state never changes under its holder: the next latest
    replay advances a copy, so a DML op's base state (and the
    ``base_dvs`` fingerprint taken from it) stays what it read."""
    lake.create_table("t", "a int", options={"data_inlining_row_limit": 10})
    lake.insert("t", spark.createDataFrame([(1,), (2,)], "a int").coalesce(1))
    lake.insert_rows("t", [{"a": 3}])
    lake.delete("t", "a = 1")
    state = lake._state("t")
    before = (
        state.snapshot_id,
        dict(state.files),
        {k: dict(v) for k, v in state.dvs.items()},
        list(state.inline_rows),
    )
    assert before[2] and before[3]
    lake.delete("t", "a = 2")
    lake.insert_rows("t", [{"a": 4}])
    lake.insert("t", spark.createDataFrame([(5,)], "a int"))
    later = lake._state("t")
    assert later.snapshot_id == before[0] + 3
    assert later.dvs != before[2] and len(later.inline_rows) == 2
    assert (
        state.snapshot_id, state.files, state.dvs, state.inline_rows
    ) == before
