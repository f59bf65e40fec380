"""Data files whose paths need URI quoting.

Spark reports ``_metadata.file_path`` as a quoted ``file:`` URI: a space
becomes %20, the %XX of a Hive-escaped partition directory becomes
%25XX, non-ASCII stays as it is. Every map between the catalog's
table-relative paths and that URI (DV delete, DV-subtracted scan,
rowid, change feed, frozen read) has to quote the same way, or a
delete reports its rows and the rows still read back."""

import os

VALUES = ["c%d", "x y", "a#b", "é", "plain"]


def test_file_uri_matches_spark(spark, tmp_path):
    """Lake._file_uri against the URI Spark reports, over the directory
    names Spark's partition writer makes (Hive-escaped %, # and ?; raw
    space, +, non-ASCII, zero-width joiner and no-break space)."""
    from pg_ducklake_spark.lake import Lake

    root = str(tmp_path / "sp ace" / "t")
    vals = VALUES + ["a+b", "q?r", "zw\u200dj", "nb\u00a0sp", "pl@in;,&$=~!'()*"]
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "a long, s string"
    ).write.partitionBy("s").parquet(root)
    on_disk = {
        Lake._file_uri(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    }
    got = spark.read.parquet(root).select("_metadata.file_path").collect()
    assert {r.file_path for r in got} == on_disk
    assert len(on_disk) == len(vals)


def test_dv_delete_over_quoted_paths(spark, tmp_path):
    """A DV delete on partitions whose paths need quoting, under a lake
    root containing a space, removes its rows from the scan, keeps the
    survivors' rowids, shows in the change feed, and survives freeze.
    Table ``t`` has byte-identical files (the DV join resolves files by
    URI); ``u`` has files of distinct sizes (the DV join resolves them
    by size)."""
    from pg_ducklake_spark import Lake

    lake = Lake(spark, str(tmp_path / "sp ace"))
    for name, per_value in (("t", lambda i: 2), ("u", lambda i: i + 2)):
        lake.create_table(name, "a int, s string", partition_by=["s"])
        rows = [(j, v) for i, v in enumerate(VALUES) for j in range(per_value(i))]
        lake.insert(name, spark.createDataFrame(rows, "a int, s string"))
        v0 = lake.current_snapshot(name)

        def rowids():
            got = lake.table(name, with_rowid=True).collect()
            return {(r.a, r.s): r.rowid for r in got}

        before = rowids()
        assert lake.delete(name, "a = 0") == len(VALUES)
        survivors = sorted(r for r in rows if r[0])
        assert sorted(tuple(r) for r in lake.table(name).collect()) == survivors
        assert lake.scan(name, "s = 'c%d'").count() == 1
        assert rowids() == {r: before[r] for r in survivors}
        feed = lake.table_changes(name, v0 + 1, v0 + 1).collect()
        assert sorted((r.a, r.s, r._change_type) for r in feed) == sorted(
            (0, v, "delete") for v in VALUES
        )
        plan = lake.table(name)._jdf.queryExecution().optimizedPlan().toString()
        assert ("_dl_sz" in plan) == (name == "u")
    out = str(tmp_path / "frozen.ducklake")
    lake.freeze(out)
    frozen = Lake.attach_frozen(spark, out)
    for name in ("t", "u"):
        assert sorted(frozen.table(name).collect()) == sorted(lake.table(name).collect())
        assert sorted(frozen.table(name, with_rowid=True).collect()) == sorted(
            lake.table(name, with_rowid=True).collect()
        )
