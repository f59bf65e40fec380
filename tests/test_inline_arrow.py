"""Driver-side rows on the lake read path (the inline buffer, inline
change rows, the rowid start map, empty scans) are Arrow-backed
``LocalRelation``s built by ``lake._local_df``: no Python-RDD scan, and
the same values ``createDataFrame(list)`` gives."""

import datetime as dt
import math
import os
import time
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_ducklake_spark.lake import _local_df

ALL_TYPES = T.StructType(
    [
        T.StructField("b", T.BooleanType()),
        T.StructField("i8", T.ByteType()),
        T.StructField("i16", T.ShortType()),
        T.StructField("i32", T.IntegerType()),
        T.StructField("i64", T.LongType()),
        T.StructField("f32", T.FloatType()),
        T.StructField("f64", T.DoubleType()),
        T.StructField("dec", T.DecimalType(12, 3)),
        T.StructField("hug", T.DecimalType(38, 0)),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("ntz", T.TimestampNTZType()),
        T.StructField("iv", T.DayTimeIntervalType()),
        T.StructField("t", T.TimeType(6)),
        T.StructField("ai", T.ArrayType(T.LongType())),
        T.StructField("af", T.ArrayType(T.DoubleType())),
        T.StructField("ats", T.ArrayType(T.TimestampType())),
        T.StructField("adec", T.ArrayType(T.DecimalType(5, 1))),
    ]
)

ROWS = [
    (
        True, 7, -300, 2**31 - 1, -(2**62), 1.5, 2.25,
        Decimal("12345.678"), Decimal(2**100), "héllo 世界", b"\x00\xffbytes",
        dt.date(2001, 2, 3),
        dt.datetime(2021, 3, 14, 2, 30, 0, 123456),  # a DST gap in LA
        dt.datetime(9999, 12, 31, 23, 59, 59, 999999),
        dt.timedelta(days=2, microseconds=5),
        dt.time(13, 1, 2, 999999),
        [1, None, 3], [0.5, float("nan")],
        [dt.datetime(2021, 11, 7, 1, 30), None],  # a DST overlap in LA
        [Decimal("1.25"), None],
    ),
    (None,) * len(ALL_TYPES.fields),
    (
        False, -128, 0, 0, 0, float("nan"), float("-inf"),
        Decimal("-0.0015"), Decimal(0), "", b"",
        dt.date(1, 1, 1), dt.datetime(1970, 1, 1), dt.datetime(1, 1, 1),
        dt.timedelta(days=-3), dt.time(0, 0), [], [], [], [],
    ),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _norm(rows):
    """Collected rows with NaN made comparable."""
    def fix(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return v

    return [tuple(fix(v) for v in r) for r in rows]


@pytest.fixture()
def la_time(spark):
    """Process TZ America/Los_Angeles and a non-UTC session time zone,
    restored afterwards."""
    old_tz = os.environ.get("TZ")
    old_session = spark.conf.get("spark.sql.session.timeZone")
    os.environ["TZ"] = "America/Los_Angeles"
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        yield
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", old_session)


def test_local_df_parity_all_types(spark, la_time):
    got = _local_df(spark, ROWS, ALL_TYPES)
    want = spark.createDataFrame(ROWS, ALL_TYPES)
    assert "LocalRelation" in _plan(got) and "LogicalRDD" not in _plan(got)
    assert got.schema == want.schema
    assert _norm(got.collect()) == _norm(want.collect())
    # Instants, not only their local renderings, agree.
    micros = [
        F.unix_micros("ts").alias("ts"),
        F.transform("ats", lambda x: F.unix_micros(x)).alias("ats"),
        F.col("ntz").cast("string").alias("ntz"),
    ]
    assert got.select(*micros).collect() == want.select(*micros).collect()
    assert _local_df(spark, [], ALL_TYPES).collect() == []


def test_local_df_rounds_decimals_like_the_list_path(spark):
    schema = T.StructType([T.StructField("d", T.DecimalType(5, 2))])
    rows = [(Decimal("1.005"),), (Decimal("-1.005"),), (Decimal("2.994999"),)]
    assert (
        _local_df(spark, rows, schema).collect()
        == spark.createDataFrame(rows, schema).collect()
    )


@pytest.fixture()
def inline_lake(spark, lake):
    lake.create_table(
        "t", "a bigint, s string, ts timestamp",
        options={"data_inlining_row_limit": 10},
    )
    lake.insert(
        "t", spark.createDataFrame(
            [(1, "file", dt.datetime(2020, 1, 1))], "a bigint, s string, ts timestamp"
        )
    )
    lake.insert_rows("t", [{"a": 2, "s": "x", "ts": dt.datetime(2021, 1, 1)}])
    lake.insert_rows("t", [{"a": 3, "s": None, "ts": None}])
    lake.update("t", {"s": "'y'"}, "a = 2")
    lake.delete("t", "a = 3")
    return lake


def test_inline_reads_have_no_python_rdd(inline_lake):
    lake = inline_lake
    latest = lake.current_snapshot("t")
    frames = {
        "table": lake.table("t"),
        "rowid": lake.table("t", with_rowid=True),
        "scan": lake.scan("t", "a >= 2"),
        "time_travel": lake.table("t", version=latest - 2),
        "changes": lake.table_changes("t", 1, latest),
    }
    for what, df in frames.items():
        assert "LogicalRDD" not in _plan(df), what
        df.collect()
    assert sorted((r.a, r.s) for r in frames["table"].collect()) == [
        (1, "file"), (2, "y")
    ]
    assert sorted(
        (r.a, r._change_type) for r in frames["changes"].collect()
    ) == [
        (1, "insert"), (2, "insert"), (2, "update_postimage"),
        (2, "update_preimage"), (3, "delete"), (3, "insert"),
    ]
    lake.create_table("empty", "a bigint")
    assert "LogicalRDD" not in _plan(lake.table("empty"))
    assert lake.table("empty").collect() == []


def test_frozen_reads_have_no_python_rdd(spark, inline_lake, tmp_path):
    lake = inline_lake
    lake.insert(
        "t", spark.createDataFrame([(4, "f2", None)], "a bigint, s string, ts timestamp")
    )
    assert lake.delete("t", "a = 4") == 1
    lake.create_table("empty", "a bigint")
    frozen = str(tmp_path / "f.ducklake")
    lake.freeze(frozen)
    fl = type(lake).attach_frozen(spark, frozen)
    for with_rowid in (False, True):
        df = fl.table("t", with_rowid=with_rowid)
        assert "LogicalRDD" not in _plan(df), with_rowid
        want = lake.table("t", with_rowid=with_rowid)
        assert sorted(map(repr, df.select(*want.columns).collect())) == sorted(
            map(repr, want.collect())
        )
    assert "LogicalRDD" not in _plan(fl.table("empty"))
    assert fl.table("empty").collect() == []


def test_inline_and_parquet_rows_read_back_equal(spark, lake, la_time):
    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in ALL_TYPES)
    lake.create_table("inl", ddl, options={"data_inlining_row_limit": 10})
    lake.create_table("pq", ddl)
    rows = [dict(zip(ALL_TYPES.names, r)) for r in ROWS]
    lake.insert_rows("inl", rows)
    assert lake.table_info("inl")["inlined_rows"] == len(ROWS)
    lake.insert("pq", spark.createDataFrame(ROWS, lake._state("pq").schema))

    def read(name):
        return sorted(_norm(lake.table(name).collect()), key=repr)

    assert read("inl") == read("pq")
