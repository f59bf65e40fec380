"""COPY FROM DATABASE — bulk-migrate a DuckDB database into the lake.

Upstream DuckLake documents ``COPY FROM DATABASE`` as the migration
entry point; the reference does not support it either
(docs/ducklake_feature_coverage.md:101), so as with ``rowid`` and
``add_data_files`` this implements the UPSTREAM semantics and records
the divergence in PARITY.md. Two source flavors:

* a **plain DuckDB database**: every base table is exported to parquet
  by DuckDB itself (``COPY table TO ... (FORMAT PARQUET)``) and then
  **registered** into a freshly created lake table via
  ``add_data_files`` — the parquet file is the interchange format, so
  no row ever passes through a Python/JVM rewrite loop and the type
  mapping is exactly the engines' shared parquet semantics. Non-main
  schemas become lake schema namespaces.

* a **frozen .ducklake metadata database** (the output of
  ``Lake.freeze``): the live data files are already parquet on disk, so
  a clean table (no deletion vectors, no inlined rows, every file
  holding exactly the current columns under their current names)
  migrates as a pure metadata registration — ``create_table``
  from the frozen column defs + ``add_data_files`` on the referenced
  files, zero data movement beyond hard links. Other tables
  materialize through ``FrozenLake.table`` (the reader that applies
  DVs, renames and the vintage rule) and insert.

Scale note: per table the work is one DuckDB export (plain source) or
no data pass at all (frozen source); the lake-side commit cost is the
same bounded footer scan as any ``add_data_files`` call. Nothing here
loops over rows on the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import TYPE_CHECKING

import duckdb

from pg_ducklake_spark.errors import LakeError

if TYPE_CHECKING:  # pragma: no cover
    from pg_ducklake_spark.lake import Lake

_SYSTEM_SCHEMAS = ("information_schema", "pg_catalog", "system", "temp")


def copy_from_database(
    lake: "Lake",
    db_path: str,
    *,
    include_views: bool = True,
    message: str | None = None,
) -> dict:
    """Migrate every table (and portable view) of ``db_path`` into
    ``lake``. Returns a report dict::

        {"tables": {name: {"rows": n, "mode": "register"|"insert"}},
         "views": [name, ...], "skipped": {name: reason}}

    Existing lake tables with the same name raise (no silent merge) —
    migrate into a fresh lake or drop first.
    """
    if not os.path.exists(db_path):
        raise LakeError(f"copy_from_database: {db_path!r} does not exist")
    con = duckdb.connect(db_path, read_only=True)
    try:
        names = {
            r[0]
            for r in con.execute(
                "SELECT table_name FROM information_schema.tables"
                " WHERE table_schema = 'main'"
            ).fetchall()
        }
    finally:
        con.close()
    msg = message or f"copy_from_database({os.path.basename(db_path)})"
    if "ducklake_metadata" in names and "ducklake_table" in names:
        return _from_ducklake(lake, db_path, include_views, msg)
    return _from_plain(lake, db_path, include_views, msg)


def _ddl(cols: list[tuple]) -> str:
    """(name, type, nullable) triples → create_table column defs.
    Names that are not plain identifiers are backtick-quoted."""
    import re

    def q(c: str) -> str:
        return c if re.fullmatch(r"\w+", c) else f"`{c}`"

    return ", ".join(
        f"{q(c)} {ty}" + ("" if nullable else " NOT NULL")
        for c, ty, nullable in cols
    )


def _split_top(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "(<[":
            depth += 1
        elif ch in ")>]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _xlate_type(ty: str) -> tuple[str, str, bool]:
    """DuckDB type spelling → (spark type, duckdb cast target, changed).

    Nested spellings (``BIGINT[]``, ``STRUCT(..)``, ``MAP(k, v)``)
    translate recursively to Spark's ``array<>/struct<>/map<>``; types
    Spark's parquet reader cannot ingest (UUID, INTERVAL, ENUM, BIT)
    map to strings, and HUGEINT/UBIGINT to exact decimals — when any
    component changed, the export COPY casts the column to the returned
    DuckDB target so the parquet interchange file is directly readable."""
    t = ty.strip()
    if t.endswith("[]"):
        s, d, ch = _xlate_type(t[:-2])
        return f"array<{s}>", f"{d}[]", ch
    up = t.upper()
    if up.startswith("STRUCT(") and t.endswith(")"):
        ss, ds, ch = [], [], False
        for part in _split_top(t[t.index("(") + 1 : -1]):
            part = part.strip()
            if part.startswith('"'):
                name = part[1 : part.index('"', 1)]
                rest = part[part.index('"', 1) + 1 :].strip()
            else:
                name, rest = part.split(" ", 1)
            s, d, c = _xlate_type(rest)
            ss.append(f"`{name}`: {s}")
            ds.append(f'"{name}" {d}')
            ch |= c
        return f"struct<{', '.join(ss)}>", f"STRUCT({', '.join(ds)})", ch
    if up.startswith("MAP(") and t.endswith(")"):
        k, v = _split_top(t[t.index("(") + 1 : -1])
        ks, kd, kc = _xlate_type(k)
        vs, vd, vc = _xlate_type(v)
        return f"map<{ks}, {vs}>", f"MAP({kd}, {vd})", kc or vc
    if (
        up.startswith("ENUM(")
        or up.startswith("UNION(")
        or up in ("UUID", "INTERVAL", "BIT", "TIME WITH TIME ZONE")
    ):
        return "string", "VARCHAR", True
    if up == "TIMESTAMP_NS":
        # Spark's vectorized reader rejects parquet TIMESTAMP(NANOS);
        # cast to micros at export (same truncation DuckDB applies on
        # a nanos→micros read).
        return "timestamp", "TIMESTAMP", True
    if up in ("HUGEINT", "UHUGEINT"):
        # Spark has no int128; DECIMAL(38,0) is exact for |x| < 10^38
        # (covers realistic counts/ids). A value beyond that fails the
        # migration loudly with DuckDB's conversion error rather than
        # rounding silently.
        return "decimal(38,0)", "DECIMAL(38,0)", True
    if up == "UBIGINT":
        return "decimal(20,0)", "DECIMAL(20,0)", True
    return t, t, False


def _from_plain(
    lake: "Lake", db_path: str, include_views: bool, msg: str
) -> dict:
    report: dict = {"tables": {}, "views": [], "skipped": {}}
    con = duckdb.connect(db_path, read_only=True)
    tmpdir = tempfile.mkdtemp(prefix="pg_ducklake_copydb_")
    try:
        tables = con.execute(
            "SELECT table_schema, table_name FROM information_schema.tables"
            " WHERE table_type = 'BASE TABLE'"
            f" AND table_schema NOT IN {_SYSTEM_SCHEMAS!r}"
            " ORDER BY table_schema, table_name"
        ).fetchall()
        # Two phases: create EVERY table first (cheap; any unsupported
        # type or name clash fails here, before a single row has
        # landed), then load data — so a mid-migration failure cannot
        # leave some tables populated and others not yet created.
        selects: dict[tuple[str, str], str] = {}
        for sch, tbl in tables:
            cols, sel = [], []
            for c, ty, nl in con.execute(
                "SELECT column_name, data_type, is_nullable"
                " FROM information_schema.columns"
                " WHERE table_schema = ? AND table_name = ?"
                " ORDER BY ordinal_position",
                [sch, tbl],
            ).fetchall():
                s, dcast, changed = _xlate_type(ty)
                cols.append((c, s, nl == "YES"))
                sel.append(
                    f'CAST("{c}" AS {dcast}) AS "{c}"' if changed else f'"{c}"'
                )
            selects[(sch, tbl)] = ", ".join(sel)
            if sch != "main":
                lake.create_schema(sch, if_not_exists=True)
            lake.create_table(
                tbl if sch == "main" else f"{sch}.{tbl}", _ddl(cols)
            )
        for sch, tbl in tables:
            target = tbl if sch == "main" else f"{sch}.{tbl}"
            nrows = con.execute(
                f'SELECT count(*) FROM "{sch}"."{tbl}"'
            ).fetchone()[0]
            if nrows == 0:
                report["tables"][target] = {"rows": 0, "mode": "register"}
                continue
            out = os.path.join(tmpdir, f"{sch}__{tbl}.parquet")
            con.execute(
                f'COPY (SELECT {selects[(sch, tbl)]} FROM "{sch}"."{tbl}")'
                f" TO '{out}' (FORMAT PARQUET)"
            )
            report["tables"][target] = _land(lake, target, [out], msg)
    finally:
        con.close()
        shutil.rmtree(tmpdir, ignore_errors=True)
    if include_views:
        _migrate_views_plain(lake, db_path, report)
    return report


def _from_ducklake(
    lake: "Lake", db_path: str, include_views: bool, msg: str
) -> dict:
    from pg_ducklake_spark.freeze import FrozenLake

    report: dict = {"tables": {}, "views": [], "skipped": {}}
    frozen = FrozenLake(lake.spark, db_path)
    for name in frozen.list_tables():  # create-all first (see _from_plain)
        schema = frozen._table(name)["state"].schema
        sch, _, _bare = name.rpartition(".")
        if sch:
            lake.create_schema(sch, if_not_exists=True)
        lake.create_table(
            name,
            _ddl([(f.name, f.dataType.simpleString(), f.nullable) for f in schema]),
        )
    for name in frozen.list_tables():
        t = frozen._table(name)
        state = t["state"]
        # Files that hold exactly the current columns, under their
        # current names, register as they are.
        clean = (
            not state.dvs
            and not state.inline_rows
            and all(
                state.vintage(state.schema, fe.begin_snapshot)
                == (tuple(state.schema.names), ())
                for fe in state.files.values()
            )
        )
        if clean:
            if not state.files:
                report["tables"][name] = {"rows": 0, "mode": "register"}
                continue
            table_dir = os.path.join(frozen.data_root, t["relpath"])
            paths = [os.path.join(table_dir, rel) for rel in state.files]
            report["tables"][name] = _land(lake, name, paths, msg)
        else:
            n = lake.insert(name, frozen.table(name), message=msg)
            report["tables"][name] = {"rows": n, "mode": "insert"}
    if include_views:
        for vname, v in frozen._views.items():
            try:
                lake.create_view(vname, v["sql"])
                report["views"].append(vname)
            except Exception as exc:  # non-portable SQL: record, don't fail
                report["skipped"][vname] = f"view: {exc}"
    return report


def _land(lake: "Lake", target: str, paths: list[str], msg: str) -> dict:
    """Register parquet into ``target``; on a footer/type mismatch fall
    back to a cast-and-insert rewrite so exotic source types still
    migrate (the report says which path each table took)."""
    try:
        n = lake.add_data_files(target, paths, message=msg)
        return {"rows": n, "mode": "register"}
    except LakeError:
        from pyspark.sql import functions as F

        df = lake.spark.read.parquet(*paths)
        schema = lake._state(target).schema
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )
        n = lake.insert(target, df, message=msg)
        return {"rows": n, "mode": "insert"}


def _quote_idents(sql: str) -> str:
    """DuckDB stores view SQL with double-quoted identifiers; Spark's
    default parser reads ``"name"`` as a STRING literal. Convert
    double-quoted spans to backticks (single-quoted strings pass
    through untouched; DuckDB never stores string literals in double
    quotes)."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "'" and not (j + 1 < n and sql[j + 1] == "'"):
                    break
                j += 2 if sql[j] == "'" else 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif c == '"':
            # DuckDB escapes a quote inside a quoted identifier as ""
            # (ADVICE r8) — unescape it, then backtick-escape for Spark.
            j = i + 1
            buf = []
            closed = False
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        buf.append('"')
                        j += 2
                        continue
                    closed = True
                    break
                buf.append(sql[j])
                j += 1
            if not closed:
                out.append(sql[i:])
                break
            out.append("`" + "".join(buf).replace("`", "``") + "`")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _migrate_views_plain(lake: "Lake", db_path: str, report: dict) -> None:
    con = duckdb.connect(db_path, read_only=True)
    try:
        views = con.execute(
            "SELECT schema_name, view_name, sql FROM duckdb_views()"
            f" WHERE NOT internal AND schema_name NOT IN {_SYSTEM_SCHEMAS!r}"
        ).fetchall()
    finally:
        con.close()
    for sch, vname, vdef in views:
        target = vname if sch == "main" else f"{sch}.{vname}"
        if vdef is None:
            report["skipped"][target] = "view: no stored definition"
            continue
        sql = _quote_idents(vdef.strip().rstrip(";"))
        low = sql.lower()
        if low.startswith("create"):  # strip CREATE VIEW ... AS prefix
            as_i = low.find(" as ")
            if as_i < 0:
                report["skipped"][target] = "view: unparseable definition"
                continue
            sql = sql[as_i + 4 :].strip()
        try:
            lake.create_view(target, sql)
            report["views"].append(target)
        except Exception as exc:  # non-portable SQL: record, don't fail
            report["skipped"][target] = f"view: {exc}"
