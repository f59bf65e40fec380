"""copy_from_database (r8): bulk-migrate a DuckDB database into the
lake — upstream DuckLake's COPY FROM DATABASE entry point; unsupported
in the reference too (docs/ducklake_feature_coverage.md:101), PARITY.md
divergence. Covers: the freeze round-trip (VERDICT r7 #5's done
criterion), plain-DuckDB sources with non-main schemas and NOT NULL,
DV'd tables materializing through FrozenLake, view migration, and the
CALL prompt route."""

import duckdb
import pytest

from pg_ducklake_spark import Lake
from pg_ducklake_spark.errors import LakeError


def _mklake(spark, tmp_path, name):
    return Lake(spark, str(tmp_path / name))


def test_freeze_roundtrip(spark, lake, tmp_path):
    """freeze → copy_from_database into a fresh lake → identical table
    contents, clean tables migrated as pure registration, history ≥ 1."""
    lake.create_table("t", "k bigint, v string")
    lake.insert(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
        ),
    )
    lake.create_table("u", "x int")
    lake.insert("u", spark.createDataFrame([(7,), (8,)], "x int"))
    out = str(tmp_path / "f.ducklake")
    lake.freeze(out)

    dst = _mklake(spark, tmp_path, "dst")
    report = dst.copy_from_database(out)
    assert set(report["tables"]) == {"t", "u"}
    # clean frozen tables land as metadata registration, not rewrite
    assert report["tables"]["t"]["mode"] == "register"
    assert report["tables"]["t"]["rows"] == 3
    got = sorted((r.k, r.v) for r in dst.table("t").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert sorted(r.x for r in dst.table("u").collect()) == [7, 8]
    assert dst.current_snapshot("t") >= 1  # history exists


def test_frozen_table_with_dv_materializes(spark, lake, tmp_path):
    """A frozen table carrying deletion vectors can't be registered
    file-for-file — it materializes through FrozenLake (which applies
    the DVs) and the migrated contents match the live view."""
    lake.create_table("t", "k int, v string")
    lake.insert(
        "t",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(6)], "k int, v string"
        ),
    )
    lake.delete("t", "k IN (2, 4)")
    out = str(tmp_path / "dv.ducklake")
    lake.freeze(out)
    dst = _mklake(spark, tmp_path, "dst")
    report = dst.copy_from_database(out)
    assert report["tables"]["t"]["mode"] == "insert"
    assert sorted(r.k for r in dst.table("t").collect()) == [0, 1, 3, 5]


@pytest.mark.parametrize("alter", ["drop_readd", "add_default"])
def test_frozen_table_with_older_vintage_materializes(spark, lake, tmp_path, alter):
    """A file that predates a re-added or defaulted column holds the
    wrong bytes (or none) for it: registered as it is, the migrated
    table would read the dropped column's values or NULL. Such a table
    materializes through FrozenLake, which maps the file's vintage."""
    lake.create_table("t", "k int, v string")
    lake.insert("t", spark.createDataFrame([(1, "old")], "k int, v string"))
    if alter == "drop_readd":
        lake.drop_column("t", "v")
        lake.add_column("t", "v", "string")
    else:
        lake.add_column("t", "s", "int", default="7")
    out = str(tmp_path / "vintage.ducklake")
    lake.freeze(out)
    dst = _mklake(spark, tmp_path, "dst")
    assert dst.copy_from_database(out)["tables"]["t"]["mode"] == "insert"
    want = [tuple(r) for r in lake.table("t").collect()]
    assert want in ([(1, None)], [(1, "old", 7)])
    assert [tuple(r) for r in dst.table("t").collect()] == want


def test_plain_duckdb_source(spark, tmp_path):
    """A regular DuckDB database: schemas become namespaces, NOT NULL
    survives, and data lands via the parquet interchange (register)."""
    db = str(tmp_path / "src.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE items(id BIGINT NOT NULL, name VARCHAR, price DOUBLE)")
    con.execute("INSERT INTO items VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    con.execute("CREATE SCHEMA analytics")
    con.execute("CREATE TABLE analytics.daily(d DATE, n BIGINT)")
    con.execute("INSERT INTO analytics.daily VALUES (DATE '2026-01-02', 10)")
    con.execute("CREATE TABLE empty_t(x INTEGER)")
    con.execute("CREATE VIEW v_items AS SELECT id, name FROM items WHERE id > 1")
    con.close()

    dst = _mklake(spark, tmp_path, "dst")
    report = dst.copy_from_database(db)
    assert report["tables"]["items"] == {"rows": 2, "mode": "register"}
    assert report["tables"]["analytics.daily"]["rows"] == 1
    assert report["tables"]["empty_t"] == {"rows": 0, "mode": "register"}
    assert sorted((r.id, r.name, r.price) for r in dst.table("items").collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]
    assert dst.table("analytics.daily").collect()[0].n == 10
    assert dst.table("empty_t").count() == 0
    # NOT NULL migrated: inserting a NULL id is rejected (the runtime
    # not-null guard raises inside the Spark write)
    with pytest.raises(Exception, match="not-null"):
        dst.insert(
            "items",
            spark.createDataFrame(
                [(None, "x", 0.0)], "id bigint, name string, price double"
            ),
        )
    # the portable view came across and evaluates
    assert "v_items" in report["views"]
    assert [r.name for r in dst.sql("SELECT name FROM v_items").collect()] == ["b"]


def test_exotic_duckdb_types_translate(spark, tmp_path):
    """DuckDB spellings Spark's parquet reader can't ingest directly
    translate at migration: nested LIST/STRUCT/MAP recurse into
    array<>/struct<>/map<>, ENUM/UUID/INTERVAL/BIT become strings
    (cast in the export COPY so the interchange parquet is readable),
    HUGEINT becomes DECIMAL(38,0) — all landing as registrations."""
    db = str(tmp_path / "src.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE t(a BIGINT[], b STRUCT(x INT, y VARCHAR),"
        " c MAP(VARCHAR, INT), d ENUM('p','q'), e UUID, f HUGEINT,"
        " g INTERVAL, h UUID[], u UNION(i INT, s VARCHAR),"
        " ts TIMESTAMP_NS)"
    )
    con.execute(
        "INSERT INTO t VALUES ([1,2], {'x': 3, 'y': 'z'}, MAP {'k': 7},"
        " 'q', '00000000-0000-0000-0000-00000000beef', 12345678901234567890,"
        " INTERVAL 3 DAYS,"
        " ['00000000-0000-0000-0000-000000000001'::UUID],"
        " 1::INT, '2026-01-01 01:02:03.123456789')"
    )
    con.close()
    dst = _mklake(spark, tmp_path, "dst")
    rep = dst.copy_from_database(db)
    assert rep["tables"]["t"]["rows"] == 1
    r = dst.table("t").collect()[0]
    assert r.a == [1, 2] and r.b.x == 3 and r.b.y == "z"
    assert r.c == {"k": 7} and r.d == "q"
    assert r.e == "00000000-0000-0000-0000-00000000beef"
    assert int(r.f) == 12345678901234567890
    assert "3 day" in r.g and r.h == ["00000000-0000-0000-0000-000000000001"]
    assert r.u == "1"  # UNION degrades to its varchar rendering
    assert r.ts.microsecond == 123456  # nanos truncate to micros


def test_existing_table_rejected(spark, lake, tmp_path):
    db = str(tmp_path / "src.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t(x INTEGER)")
    con.close()
    lake.create_table("t", "x int")
    with pytest.raises(LakeError, match="already exists"):
        lake.copy_from_database(db)


def test_call_copy_from_database_sql(spark, lake, tmp_path):
    db = str(tmp_path / "src.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE a(x INTEGER); CREATE TABLE b(y VARCHAR)")
    con.execute("INSERT INTO a VALUES (1); INSERT INTO b VALUES ('z')")
    con.close()
    n = lake.execute(f"CALL copy_from_database('{db}')")
    assert n == 2
    assert lake.table("a").collect()[0].x == 1
    assert lake.table("b").collect()[0].y == "z"


def test_quote_idents_doubled_quote_escape():
    """ADVICE r8: DuckDB stores "a""b" for an identifier containing a
    quote — the converter must unescape it, not emit a stray span."""
    from pg_ducklake_spark.migrate import _quote_idents

    assert _quote_idents('SELECT "a""b" FROM t') == 'SELECT `a"b` FROM t'
    assert _quote_idents('SELECT "x" FROM "s""chema".t') == "SELECT `x` FROM `s\"chema`.t"
    # single-quoted strings still pass through untouched
    assert _quote_idents("SELECT 'he said \"\"hi\"\"'") == "SELECT 'he said \"\"hi\"\"'"
    # unterminated identifier: emit the tail verbatim (old behavior)
    assert _quote_idents('SELECT "oops') == 'SELECT "oops'
