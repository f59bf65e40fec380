"""Freeze/attach interop (A23-A24).

``freeze_lake`` exports the whole catalog into a single standalone
DuckDB database file shaped like the reference's frozen ``.ducklake``
(reference: src/pgducklake_freeze.cpp:81-115 copies the ducklake_*
metadata tables into a DuckDB file any client can attach). We write
every table name of the reference's 28-entry metadata_tables list
(src/pgducklake_freeze.cpp:32-61) — including the change-set history
(ducklake_snapshot_changes), schema-version log, column-mapping
registry, per-file variant stats, the partition/sort expression side
tables, and the two in-flight tables the reference freezes EMPTY
(ducklake_files_scheduled_for_deletion, ducklake_inlined_data_tables)
— with data-file paths kept relative to a recorded data root, so the
frozen file is portable and the data stays where it is. Two extra
tables (ducklake_dv_rows, ducklake_inlined_data) carry the embedded
delete positions and inline rows our static-hosting round trip needs.

``FrozenLake`` is the read-only consumer (frozen FDW analog,
src/pgducklake_fdw.cpp:14-16): it reads table + file lists straight
from the frozen DuckDB file and serves Spark DataFrames; all writes are
rejected.
"""

from __future__ import annotations

import json
import os
import re
import tempfile
import urllib.request
import uuid
from typing import TYPE_CHECKING

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pg_ducklake_spark.errors import LakeError, ReadOnlyError, TableNotFoundError

if TYPE_CHECKING:
    from pg_ducklake_spark.lake import Lake


def freeze_lake(lake: "Lake", out_path: str) -> None:
    if os.path.exists(out_path):
        raise LakeError(f"freeze target {out_path} already exists")
    con = duckdb.connect(out_path)
    con.execute(
        """
        CREATE TABLE ducklake_metadata(key VARCHAR, value VARCHAR);
        CREATE TABLE ducklake_snapshot(
            table_name VARCHAR, snapshot_id BIGINT, snapshot_time VARCHAR,
            schema_version BIGINT, operation VARCHAR, author VARCHAR,
            commit_message VARCHAR, commit_extra_info VARCHAR);
        CREATE TABLE ducklake_schema(
            schema_id BIGINT, schema_name VARCHAR, path VARCHAR,
            path_is_relative BOOLEAN);
        CREATE TABLE ducklake_table(
            table_id BIGINT, table_name VARCHAR, path VARCHAR,
            path_is_relative BOOLEAN, current_snapshot BIGINT,
            schema_id BIGINT);
        CREATE TABLE ducklake_column(
            table_id BIGINT, column_order BIGINT, column_name VARCHAR,
            column_type VARCHAR, nulls_allowed BOOLEAN,
            begin_snapshot BIGINT, initial_default VARCHAR,
            default_value VARCHAR);
        CREATE TABLE ducklake_name_mapping(
            table_id BIGINT, snapshot_id BIGINT, old_name VARCHAR,
            new_name VARCHAR);
        CREATE TABLE ducklake_data_file(
            table_id BIGINT, path VARCHAR, rows BIGINT, bytes BIGINT,
            begin_snapshot BIGINT, partition_values VARCHAR, stats VARCHAR,
            row_id_start BIGINT);
        CREATE TABLE ducklake_file_column_stats(
            table_id BIGINT, data_file_path VARCHAR, column_name VARCHAR,
            null_count BIGINT, min_value VARCHAR, max_value VARCHAR);
        CREATE TABLE ducklake_file_partition_value(
            table_id BIGINT, data_file_path VARCHAR,
            partition_key_index BIGINT, partition_key VARCHAR,
            partition_value VARCHAR);
        CREATE TABLE ducklake_delete_file(
            table_id BIGINT, data_file_path VARCHAR, delete_file_path VARCHAR,
            deleted BIGINT);
        CREATE TABLE ducklake_dv_rows(
            table_id BIGINT, data_file_path VARCHAR, row_index BIGINT);
        CREATE TABLE ducklake_partition_info(
            table_id BIGINT, partition_key_index BIGINT, expression VARCHAR);
        CREATE TABLE ducklake_sort_info(
            table_id BIGINT, sort_key_index BIGINT, expression VARCHAR,
            sort_direction VARCHAR, null_order VARCHAR);
        CREATE TABLE ducklake_inlined_data(
            table_id BIGINT, row_id BIGINT, values_json VARCHAR);
        CREATE TABLE ducklake_table_stats(
            table_id BIGINT, snapshot_id BIGINT, row_count BIGINT);
        CREATE TABLE ducklake_table_column_stats(
            table_id BIGINT, column_name VARCHAR, null_count BIGINT,
            ndv BIGINT, min_value VARCHAR, max_value VARCHAR);
        CREATE TABLE ducklake_tag(
            table_id BIGINT, key VARCHAR, value VARCHAR);
        CREATE TABLE ducklake_column_tag(
            table_id BIGINT, column_name VARCHAR, key VARCHAR, value VARCHAR);
        CREATE TABLE ducklake_view(
            view_id BIGINT, view_name VARCHAR, sql VARCHAR, columns VARCHAR);
        CREATE TABLE ducklake_macro(macro_id BIGINT, macro_name VARCHAR);
        CREATE TABLE ducklake_macro_impl(
            macro_id BIGINT, body VARCHAR, macro_type VARCHAR);
        CREATE TABLE ducklake_macro_parameters(
            macro_id BIGINT, parameter_index BIGINT, parameter_name VARCHAR);
        CREATE TABLE ducklake_snapshot_changes(
            snapshot_id BIGINT, changes_made VARCHAR, author VARCHAR,
            commit_message VARCHAR, commit_extra_info VARCHAR);
        CREATE TABLE ducklake_schema_versions(
            begin_snapshot BIGINT, schema_version BIGINT, table_id BIGINT);
        CREATE TABLE ducklake_column_mapping(
            mapping_id BIGINT, table_id BIGINT, type VARCHAR);
        CREATE TABLE ducklake_file_variant_stats(
            table_id BIGINT, data_file_path VARCHAR, column_name VARCHAR,
            stats VARCHAR);
        CREATE TABLE ducklake_files_scheduled_for_deletion(
            table_id BIGINT, path VARCHAR, path_is_relative BOOLEAN,
            schedule_start VARCHAR);
        CREATE TABLE ducklake_inlined_data_tables(
            table_id BIGINT, table_name VARCHAR, schema_id BIGINT);
        CREATE TABLE ducklake_partition_column(
            partition_id BIGINT, table_id BIGINT, partition_key_index BIGINT,
            column_id BIGINT);
        CREATE TABLE ducklake_sort_expression(
            sort_id BIGINT, table_id BIGINT, sort_key_index BIGINT,
            expression VARCHAR, sort_direction VARCHAR, null_order VARCHAR);
        """
    )
    con.execute(
        "INSERT INTO ducklake_metadata VALUES ('data_root', ?), ('format', ?)",
        [lake.path, "pg_ducklake_spark/frozen-v1"],
    )
    # r8: settings travel with the export the way upstream DuckLake
    # keeps its instance settings in ducklake_metadata — one
    # 'setting:<name>' row per effective lake-scope setting
    # (ducklake_feature_coverage.md:80; Lake.settings()).
    for row in lake.settings().collect():
        if row.scope in ("lake", "default"):
            con.execute(
                "INSERT INTO ducklake_metadata VALUES (?, ?)",
                [f"setting:{row.name}", row.value],
            )
    # schema namespaces (ducklake_schema is one of the 28 frozen tables,
    # src/pgducklake_freeze.cpp:35); 'main' is schema_id 0 at the root.
    schema_ids = {}
    for sid, sname in enumerate(lake.list_schemas()):
        schema_ids[sname] = sid
        con.execute(
            "INSERT INTO ducklake_schema VALUES (?, ?, ?, true)",
            [sid, sname, "" if sname == "main" else sname],
        )
    for tid, name in enumerate(lake.list_tables(), start=1):
        state = lake._state(name)
        schema_name, bare = lake._split_name(name)
        relpath = lake._table_relpath(name)
        con.execute(
            "INSERT INTO ducklake_table VALUES (?, ?, ?, true, ?, ?)",
            [tid, bare, relpath, state.snapshot_id, schema_ids[schema_name]],
        )
        for order, f in enumerate(state.schema.fields):
            meta = f.metadata or {}
            # begin_snapshot = the logical column's ADD (TableState.added_at):
            # files written before it never hold this column's bytes.
            con.execute(
                "INSERT INTO ducklake_column VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
                [tid, order, f.name, f.dataType.simpleString(), f.nullable,
                 state.added_at(f.name),
                 meta.get("initial_default"), meta.get("default_value")],
            )
        prev_schema_version = None
        for s in state.history:
            con.execute(
                "INSERT INTO ducklake_snapshot VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
                [name, s.snapshot_id, s.timestamp, s.schema_version, s.operation,
                 s.author, s.commit_message, s.commit_extra_info],
            )
            # ≙ ducklake_snapshot_changes (upstream shape: snapshot_id,
            # changes_made, author, commit_message, commit_extra_info —
            # src/pgducklake_metadata_manager.cpp:734-737). changes_made
            # is "<operation>:<table_id>" plus the snapshot's metrics as
            # k=v pairs, so a raw-duckdb client can replay the change-set
            # history of a DML sequence without the Spark runtime.
            metrics = ",".join(
                f"{k}={v}" for k, v in sorted((s.metrics or {}).items())
            )
            changes = f"{s.operation}:{tid}" + (f"({metrics})" if metrics else "")
            con.execute(
                "INSERT INTO ducklake_snapshot_changes VALUES (?, ?, ?, ?, ?)",
                [s.snapshot_id, changes, s.author, s.commit_message,
                 s.commit_extra_info],
            )
            # ≙ ducklake_schema_versions: one row per snapshot that
            # changed the schema version (begin_snapshot keyed, like
            # upstream; table_id qualifies it since our versions are
            # per-table).
            if s.schema_version != prev_schema_version:
                con.execute(
                    "INSERT INTO ducklake_schema_versions VALUES (?, ?, ?)",
                    [s.snapshot_id, s.schema_version, tid],
                )
                prev_schema_version = s.schema_version
        if state.renames:
            # ≙ ducklake_column_mapping: registry row tying this table's
            # name-mapping entries to a mapping mode (upstream keeps the
            # per-column rows in ducklake_name_mapping, as we do).
            con.execute(
                "INSERT INTO ducklake_column_mapping VALUES (?, ?, ?)",
                [tid, tid, "map_by_name"],
            )
        for sid, old, new in state.renames:
            con.execute(
                "INSERT INTO ducklake_name_mapping VALUES (?, ?, ?, ?)",
                [tid, sid, old, new],
            )
        for fe in state.files.values():
            fpath = os.path.join(relpath, fe.path)
            # row_id_start rides along (upstream DuckLake keeps rowid
            # lineage in ducklake_data_file), so a frozen reader can
            # reconstruct rowid = row_id_start + row_index.
            con.execute(
                "INSERT INTO ducklake_data_file VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
                [tid, fpath, fe.rows, fe.bytes,
                 fe.begin_snapshot, json.dumps(fe.partition_values),
                 json.dumps(fe.stats), fe.row_id_start],
            )
            # Per-file pruning stats, normalized like the reference
            # freezes ducklake_file_column_stats and
            # ducklake_file_partition_value (src/pgducklake_freeze.cpp:42,48)
            # so an external frozen reader can file-prune. min/max are
            # JSON-encoded to keep numeric comparisons typed.
            for cname, cs in fe.stats.items():
                con.execute(
                    "INSERT INTO ducklake_file_column_stats"
                    " VALUES (?, ?, ?, ?, ?, ?)",
                    [tid, fpath, cname, cs.get("nulls"),
                     json.dumps(cs.get("min")), json.dumps(cs.get("max"))],
                )
            for i, (pk, pv) in enumerate(sorted(fe.partition_values.items())):
                con.execute(
                    "INSERT INTO ducklake_file_partition_value"
                    " VALUES (?, ?, ?, ?, ?)",
                    [tid, fpath, i, pk, pv],
                )
            # ≙ ducklake_file_variant_stats: per-file stats rows for
            # VARIANT-typed columns (the no-inline tier stores shredded
            # stats only when the writer produced them).
            for f in state.schema.fields:
                if f.dataType.simpleString() == "variant" and f.name in fe.stats:
                    con.execute(
                        "INSERT INTO ducklake_file_variant_stats"
                        " VALUES (?, ?, ?, ?)",
                        [tid, fpath, f.name, json.dumps(fe.stats[f.name])],
                    )
        for f, d in state.dvs.items():
            con.execute(
                "INSERT INTO ducklake_delete_file VALUES (?, ?, ?, ?)",
                [tid, f, os.path.join(relpath, d["path"]), d["deleted"]],
            )
        # Deleted positions are also embedded verbatim: a frozen file is
        # then self-contained metadata + plain data files, attachable
        # from static http hosting (delete "files" are Spark-written
        # parquet DIRECTORIES, which a static host cannot serve).
        for p in sorted({d["path"] for d in state.dvs.values()}):
            files_for_p = sorted(
                f for f, d in state.dvs.items() if d["path"] == p
            )
            con.execute(
                "INSERT INTO ducklake_dv_rows"
                " SELECT ?, file, row_index FROM read_parquet(?)"
                " WHERE file IN (SELECT unnest(CAST(? AS VARCHAR[])))",
                [tid, os.path.join(lake.path, relpath, p, "*.parquet"),
                 files_for_p],
            )
        if state.dvs:
            # Fail loudly if the glob/filter above matched fewer rows
            # than the snapshot says are deleted — a silent shortfall
            # would resurface deleted rows in the frozen lake.
            embedded = con.execute(
                "SELECT count(*) FROM ducklake_dv_rows WHERE table_id = ?",
                [tid],
            ).fetchone()[0]
            expected = sum(d["deleted"] for d in state.dvs.values())
            if embedded != expected:
                con.close()
                raise LakeError(
                    f"freeze: embedded {embedded} deleted positions for "
                    f"table {name!r} but the snapshot records {expected}"
                )
        col_order = {f.name: i for i, f in enumerate(state.schema.fields)}
        for i, expr in enumerate(state.partition_spec):
            con.execute(
                "INSERT INTO ducklake_partition_info VALUES (?, ?, ?)",
                [tid, i, expr],
            )
            # ≙ ducklake_partition_column (pg_ducklake--0.1.0.sql:226
            # joins partition_info → partition_column → column): one
            # live spec per table, so partition_id = table_id;
            # column_id resolves the base column of identity and
            # year/month/day/hour transforms, NULL for other exprs.
            m = re.match(r"^(?:year|month|day|hour)\((\w+)\)$", expr)
            base = m.group(1) if m else expr
            con.execute(
                "INSERT INTO ducklake_partition_column VALUES (?, ?, ?, ?)",
                [tid, tid, i, col_order.get(base)],
            )
        for i, s in enumerate(state.sort_spec):
            con.execute(
                "INSERT INTO ducklake_sort_info VALUES (?, ?, ?, ?, ?)",
                [tid, i, s["expression"], s["direction"], s["null_order"]],
            )
            # ≙ ducklake_sort_expression (pg_ducklake--0.1.0.sql:267
            # joins sort_info → sort_expression): sort_id = table_id.
            con.execute(
                "INSERT INTO ducklake_sort_expression"
                " VALUES (?, ?, ?, ?, ?, ?)",
                [tid, tid, i, s["expression"], s["direction"],
                 s["null_order"]],
            )
        # Frozen lakes empty the in-flight tables — the reference
        # creates ducklake_files_scheduled_for_deletion and
        # ducklake_inlined_data_tables but leaves them EMPTY
        # (src/pgducklake_freeze.cpp:100-105); both exist above with
        # zero rows. Inlined *rows* must still survive the round trip,
        # so they are exported as JSON rows in ducklake_inlined_data.
        for r in state.inline_rows:
            # Materialize renames at freeze time: inline values are
            # keyed by their insert-time names; re-key them to the
            # current schema so the frozen reader needs no mapping.
            bs = r.get("begin_snapshot", 0)
            vals = {
                f.name: r["values"].get(state.physical_name(f.name, bs))
                for f in state.schema.fields
            }
            con.execute(
                "INSERT INTO ducklake_inlined_data VALUES (?, ?, ?)",
                [tid, r["row_id"], json.dumps(vals)],
            )
        # tags / COMMENT metadata (≙ ducklake_tag / ducklake_column_tag,
        # src/pgducklake_freeze.cpp:38-39)
        for tk, tv in sorted(state.tags.items()):
            con.execute(
                "INSERT INTO ducklake_tag VALUES (?, ?, ?)", [tid, tk, tv]
            )
        for col, ctags in sorted(state.column_tags.items()):
            for tk, tv in sorted(ctags.items()):
                con.execute(
                    "INSERT INTO ducklake_column_tag VALUES (?, ?, ?, ?)",
                    [tid, col, tk, tv],
                )
        if state.table_stats:
            ts = state.table_stats
            con.execute(
                "INSERT INTO ducklake_table_stats VALUES (?, ?, ?)",
                [tid, ts["snapshot_id"], ts["row_count"]],
            )
            for cname, cs in ts["columns"].items():
                con.execute(
                    "INSERT INTO ducklake_table_column_stats VALUES (?, ?, ?, ?, ?, ?)",
                    [tid, cname, cs["nulls"], cs["ndv"], cs["min"], cs["max"]],
                )
    # views + macros (≙ ducklake_view / ducklake_macro* —
    # src/pgducklake_freeze.cpp table list)
    for vid, (vname, vdef) in enumerate(sorted(lake.views().items()), start=1):
        con.execute(
            "INSERT INTO ducklake_view VALUES (?, ?, ?, ?)",
            [vid, vname, vdef["sql"], json.dumps(vdef["columns"])],
        )
    for mid, (mname, mdef) in enumerate(sorted(lake.macros().items()), start=1):
        con.execute("INSERT INTO ducklake_macro VALUES (?, ?)", [mid, mname])
        con.execute(
            "INSERT INTO ducklake_macro_impl VALUES (?, ?, ?)",
            [mid, mdef["body"], mdef.get("kind", "scalar")],
        )
        for i, p in enumerate(mdef["parameters"]):
            con.execute(
                "INSERT INTO ducklake_macro_parameters VALUES (?, ?, ?)",
                [mid, i, p],
            )
    con.close()


def _is_url(path: str) -> bool:
    return path.startswith(("http://", "https://"))


class FrozenLake:
    """Read-only lake served from a frozen DuckDB metadata file.

    ``frozen_path`` may be a local path or an http(s) URL (reference:
    ``frozen_url`` server option, src/pgducklake_fdw.cpp:14-16,84-88;
    test/regression/sql/frozen_fdw.sql). For a URL, the .ducklake file
    is spooled once driver-side, and data files resolve against
    ``dirname(url)`` — the serving host keeps the snapshot next to its
    data, like the reference's static-hosting layout. Referenced data
    files are mirrored locally on first table access (Spark's parquet
    reader is filesystem-based, same spool pattern as the https CSV
    source, sources/csv.py); executors then scan the local mirror, so
    the one-shot download is driver-side but every scan after it is
    fully distributed.
    """

    def __init__(self, spark: SparkSession, frozen_path: str, data_root: str | None = None):
        self._http_root: str | None = None
        if _is_url(frozen_path):
            url = frozen_path
            self._http_root = data_root or url.rsplit("/", 1)[0]
            if not _is_url(self._http_root):
                raise LakeError(
                    "data_root for an http(s) frozen lake must be http(s) too"
                )
            self._spool_root = tempfile.mkdtemp(prefix="pg_ducklake_frozen_")
            frozen_path = os.path.join(self._spool_root, os.path.basename(url))
            self._download(url, frozen_path)
            data_root = self._spool_root
        if not os.path.exists(frozen_path):
            raise LakeError(f"frozen file {frozen_path} does not exist")
        self.spark = spark
        self.frozen_path = frozen_path
        con = duckdb.connect(frozen_path, read_only=True)
        meta = dict(con.execute("SELECT key, value FROM ducklake_metadata").fetchall())
        self.data_root = data_root or meta.get("data_root", os.path.dirname(frozen_path))
        self._tables: dict[str, dict] = {}
        try:
            rows = con.execute(
                "SELECT t.table_id,"
                " CASE WHEN s.schema_name = 'main' THEN t.table_name"
                " ELSE s.schema_name || '.' || t.table_name END"
                " FROM ducklake_table t"
                " JOIN ducklake_schema s USING (schema_id)"
            ).fetchall()
        except (duckdb.BinderException, duckdb.CatalogException):
            # pre-namespace frozen files: flat table list
            rows = con.execute(
                "SELECT table_id, table_name FROM ducklake_table"
            ).fetchall()
        for tid, name in rows:
            try:
                cols = con.execute(
                    "SELECT column_name, column_type, nulls_allowed,"
                    " begin_snapshot, initial_default FROM ducklake_column"
                    " WHERE table_id = ? ORDER BY column_order",
                    [tid],
                ).fetchall()
            except duckdb.BinderException:  # older frozen files
                cols = [
                    (c, ty, nl, 0, None)
                    for c, ty, nl in con.execute(
                        "SELECT column_name, column_type, nulls_allowed"
                        " FROM ducklake_column WHERE table_id = ?"
                        " ORDER BY column_order",
                        [tid],
                    ).fetchall()
                ]
            files = con.execute(
                "SELECT path, begin_snapshot FROM ducklake_data_file"
                " WHERE table_id = ?", [tid]
            ).fetchall()
            try:
                rid_starts = dict(
                    con.execute(
                        "SELECT path, row_id_start FROM ducklake_data_file"
                        " WHERE table_id = ?", [tid]
                    ).fetchall()
                )
            except duckdb.BinderException:  # pre-rowid frozen files
                rid_starts = {}
            inline = con.execute(
                "SELECT values_json, row_id FROM ducklake_inlined_data"
                " WHERE table_id = ? ORDER BY row_id",
                [tid],
            ).fetchall()
            try:
                dvs = con.execute(
                    "SELECT data_file_path, delete_file_path FROM"
                    " ducklake_delete_file WHERE table_id = ?",
                    [tid],
                ).fetchall()
            except duckdb.CatalogException:  # older frozen files
                dvs = []
            try:
                dv_rows = con.execute(
                    "SELECT data_file_path, row_index FROM ducklake_dv_rows"
                    " WHERE table_id = ?",
                    [tid],
                ).fetchall()
            except duckdb.CatalogException:  # pre-embedding frozen files
                dv_rows = None
            try:
                renames = con.execute(
                    "SELECT snapshot_id, old_name, new_name FROM"
                    " ducklake_name_mapping WHERE table_id = ?"
                    " ORDER BY snapshot_id",
                    [tid],
                ).fetchall()
            except duckdb.CatalogException:  # pre-mapping frozen files
                renames = []
            try:
                fstats: dict = {}
                for fp, cname, nulls, mnj, mxj in con.execute(
                    "SELECT data_file_path, column_name, null_count,"
                    " min_value, max_value FROM ducklake_file_column_stats"
                    " WHERE table_id = ?",
                    [tid],
                ).fetchall():
                    fstats.setdefault(fp, {})[cname] = {
                        "min": json.loads(mnj), "max": json.loads(mxj),
                        "nulls": nulls,
                    }
                fpvals: dict = {}
                for fp, _i, pk, pv in con.execute(
                    "SELECT data_file_path, partition_key_index,"
                    " partition_key, partition_value"
                    " FROM ducklake_file_partition_value WHERE table_id = ?",
                    [tid],
                ).fetchall():
                    fpvals.setdefault(fp, {})[pk] = pv
            except duckdb.CatalogException:  # pre-stats frozen files
                fstats, fpvals = {}, {}
            self._tables[name] = {"file_stats": fstats, "file_pvals": fpvals,
                                  "cols": cols, "files": files,
                                  "rid_starts": rid_starts,
                                  "inline": [json.loads(r[0]) for r in inline],
                                  "inline_rids": [r[1] for r in inline],
                                  "dvs": dvs, "dv_rows": dv_rows,
                                  "renames": renames,
                                  "name": name}
        self._views: dict[str, dict] = {}
        self._macros: dict[str, dict] = {}
        try:
            for vname, sql, cols_json in con.execute(
                "SELECT view_name, sql, columns FROM ducklake_view ORDER BY view_id"
            ).fetchall():
                self._views[vname] = {"sql": sql, "columns": json.loads(cols_json)}
            try:
                macro_rows = con.execute(
                    "SELECT m.macro_id, m.macro_name, i.body,"
                    " coalesce(i.macro_type, 'scalar') FROM ducklake_macro m"
                    " JOIN ducklake_macro_impl i USING (macro_id)"
                    " ORDER BY m.macro_id"
                ).fetchall()
            except duckdb.Error:  # pre-r12 frozen file: no macro_type col
                macro_rows = [
                    (mid, mname, body, "scalar")
                    for mid, mname, body in con.execute(
                        "SELECT m.macro_id, m.macro_name, i.body"
                        " FROM ducklake_macro m JOIN ducklake_macro_impl i"
                        " USING (macro_id) ORDER BY m.macro_id"
                    ).fetchall()
                ]
            for mid, mname, body, mkind in macro_rows:
                params = [
                    r[0]
                    for r in con.execute(
                        "SELECT parameter_name FROM ducklake_macro_parameters"
                        " WHERE macro_id = ? ORDER BY parameter_index",
                        [mid],
                    ).fetchall()
                ]
                self._macros[mname] = {
                    "parameters": params, "body": body, "kind": mkind,
                }
        except duckdb.CatalogException:  # older frozen files
            pass
        con.close()

    @staticmethod
    def _download(url: str, dest: str) -> None:
        # Download to a temp name and rename into place: an interrupted
        # transfer must never leave a truncated file where a later
        # _ensure_local would treat it as a complete mirror.
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        tmp = f"{dest}.tmp-{uuid.uuid4().hex}"
        try:
            with urllib.request.urlopen(url) as resp, open(tmp, "wb") as f:
                while True:
                    chunk = resp.read(1 << 20)
                    if not chunk:
                        break
                    f.write(chunk)
            os.rename(tmp, dest)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    def _ensure_local(self, rel: str) -> None:
        """Mirror one referenced file from the http root, once."""
        if self._http_root is None:
            return
        dest = os.path.join(self.data_root, rel)
        if not os.path.exists(dest):
            self._download(f"{self._http_root}/{rel}", dest)

    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def _schema(self, name: str) -> T.StructType:
        return T.StructType(
            [
                T.StructField(c, T._parse_datatype_string(ty), nulls)
                for c, ty, nulls, _bs, _d in self._tables[name]["cols"]
            ]
        )

    def prune_files(self, name: str, where: str) -> list[str]:
        """File paths that may match ``where``, pruned with the frozen
        ducklake_file_column_stats / ducklake_file_partition_value
        tables (the reference freezes the same stats so external
        readers can skip files, src/pgducklake_freeze.cpp:42,48)."""
        from pg_ducklake_spark.catalog import FileEntry
        from pg_ducklake_spark.operators.pruning import prune_files as _prune

        if name not in self._tables:
            raise TableNotFoundError(f"table {name!r} not in frozen lake")
        info = self._tables[name]
        renames = info.get("renames") or []
        cols = self._schema(name)

        class _Shim:
            schema = cols
            files = {
                p: FileEntry(
                    path=p,
                    rows=0,
                    bytes=0,
                    stats=info.get("file_stats", {}).get(p, {}),
                    partition_values=info.get("file_pvals", {}).get(p, {}),
                    begin_snapshot=bs,
                )
                for p, bs in info["files"]
            }

            @staticmethod
            def physical_name(col: str, file_bs: int) -> str:
                for _sid, old_n, new_n in reversed(renames):
                    if _sid > file_bs and col == new_n:
                        col = old_n
                return col

            @staticmethod
            def added_at(col: str) -> int:
                return adds.get(col, 0)

        adds = {c: bs for c, _ty, _nl, bs, _d in info["cols"]}
        return _prune(_Shim(), where)

    def scan(
        self, name: str, where: str | None = None, with_rowid: bool = False
    ) -> DataFrame:
        """Filtered read with metadata file-skipping, mirroring
        Lake.scan: only files whose frozen stats may match are planned;
        the full predicate is always re-applied."""
        if not where:
            return self.table(name, with_rowid=with_rowid)
        keep = set(self.prune_files(name, where))
        return self.table(name, _rels=keep, with_rowid=with_rowid).filter(where)

    def table(
        self, name: str, _rels: set | None = None, with_rowid: bool = False
    ) -> DataFrame:
        from pyspark.sql import functions as F

        from pg_ducklake_spark.lake import Lake, _local_df

        if name not in self._tables:
            raise TableNotFoundError(f"table {name!r} not in frozen lake")
        info = self._tables[name]
        if with_rowid:
            if info["files"] and not info.get("rid_starts"):
                raise LakeError(
                    "frozen file predates rowid lineage (no row_id_start in "
                    "ducklake_data_file); re-freeze the source lake"
                )
            if any(c == "rowid" for c, *_ in info["cols"]):
                raise LakeError(
                    "with_rowid=True clashes with an existing 'rowid' column"
                )
        if _rels is not None:
            info = dict(
                info,
                files=[(p, bs) for p, bs in info["files"] if p in _rels],
            )
        schema = self._schema(name)
        # Initial defaults: files older than a defaulted column read the
        # default, not NULL (same per-file-age grouping as Lake).
        fills = {
            c: (bs, d) for c, _ty, _nl, bs, d in info["cols"] if d is not None
        }
        if self._http_root is not None:
            for path, _bs in info["files"]:
                self._ensure_local(path)
            if info.get("dvs") and info.get("dv_rows") is None:
                raise LakeError(
                    "frozen file predates embedded delete positions "
                    "(ducklake_dv_rows); re-freeze it to attach over http"
                )
        renames = info.get("renames") or []

        def physical_name(col: str, file_bs: int) -> str:
            # Same walk as TableState.physical_name: undo every rename
            # committed after the file was written.
            for _sid, old, new in reversed(renames):
                if _sid > file_bs and col == new:
                    col = old
            return col

        current_names = tuple(f.name for f in schema.fields)
        adds = {c: bs for c, _ty, _nl, bs, _d in info["cols"]}
        groups: dict[tuple, list[str]] = {}
        for path, file_bs in info["files"]:
            missing = tuple(
                c for c, (add_bs, _d) in fills.items() if file_bs < add_bs
            )
            # A column added after the file maps to None: the file may
            # hold a dropped column of the same name (as in Lake._read_files).
            phys = tuple(
                physical_name(c, file_bs) if adds[c] <= file_bs else None
                for c in current_names
            )
            groups.setdefault((missing, phys), []).append(path)
        has_dvs = bool(info.get("dvs"))
        need_meta = has_dvs or with_rowid
        parts = []
        for (missing, phys), group_paths in sorted(groups.items(), key=lambda kv: repr(kv[0])):
            paths = [os.path.join(self.data_root, p) for p in group_paths]
            if phys == current_names:
                g = self.spark.read.schema(schema).parquet(*paths)
                if need_meta:
                    # _metadata must be captured per scan, pre-union
                    g = g.select(
                        "*",
                        F.col("_metadata.file_path").alias("_fp"),
                        F.col("_metadata.row_index").alias("_ri"),
                    )
            else:
                # Files predating a rename store the old column name:
                # read under physical names, alias back (same dup-guard
                # as Lake._read_files — a clashing re-added column
                # cannot exist in these older files).
                from pyspark.sql import types as T2

                claimed = {
                    p for c, p in zip(current_names, phys)
                    if p is not None and p != c
                }
                read_fields, aliases = [], []
                for f, p in zip(schema.fields, phys):
                    if p is None or (p == f.name and p in claimed):
                        aliases.append((None, f))
                        continue
                    read_fields.append(T2.StructField(p, f.dataType, True))
                    aliases.append((p, f))
                g = self.spark.read.schema(
                    T2.StructType(read_fields)
                ).parquet(*paths)
                proj = [
                    (
                        F.col(p).alias(f.name)
                        if p is not None
                        else F.lit(None).cast(f.dataType).alias(f.name)
                    )
                    for p, f in aliases
                ]
                if need_meta:
                    proj += [
                        F.col("_metadata.file_path").alias("_fp"),
                        F.col("_metadata.row_index").alias("_ri"),
                    ]
                g = g.select(*proj)
            for c in missing:
                dtype = next(
                    T._parse_datatype_string(ty)
                    for cc, ty, _nl, _bs, _d in info["cols"] if cc == c
                )
                g = g.withColumn(c, F.expr(fills[c][1]).cast(dtype))
            parts.append(g)
        if parts:
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = _local_df(self.spark, [], schema)
            if need_meta:
                df = df.withColumn(
                    "_fp", F.lit(None).cast("string")
                ).withColumn("_ri", F.lit(None).cast("long"))
        if info.get("dvs"):
            from pyspark.sql import functions as F
            from pyspark.sql import types as T2

            dv_schema = T2.StructType(
                [
                    T2.StructField("file", T2.StringType()),
                    T2.StructField("row_index", T2.LongType()),
                ]
            )
            if info.get("dv_rows") is not None:
                # Positions embedded in the frozen file (self-contained
                # static layout; the DV set is delete-ratio bounded, so
                # it broadcasts). An EMPTY embedded set alongside
                # recorded delete files means the freeze-time embed
                # missed — erroring beats silently resurrecting rows.
                if not info["dv_rows"]:
                    raise LakeError(
                        f"frozen table {name!r} records delete files but "
                        "embeds no deleted positions; the frozen file is "
                        "inconsistent (re-freeze the source lake)"
                    )
                dv = _local_df(
                    self.spark,
                    [(f, int(ri)) for f, ri in info["dv_rows"]],
                    dv_schema,
                )
            else:  # pre-embedding frozen files: read the DV parquet
                dv_paths = sorted(
                    {os.path.join(self.data_root, p) for _f, p in info["dvs"]}
                )
                dv = (
                    self.spark.read.schema(dv_schema)
                    .parquet(*dv_paths)
                    .filter(F.col("file").isin([f for f, _p in info["dvs"]]))
                )
            dv = dv.select(
                Lake._uri_col(
                    f"{self.data_root}/{name}", [f for f, _p in info["dvs"]], "file"
                ).alias("_fp"),
                F.col("row_index").alias("_ri"),
            )
            df = df.join(F.broadcast(dv), ["_fp", "_ri"], "left_anti")  # bcast-ok: per-file delete vector, bounded by max file rows
        if with_rowid:
            # rowid = frozen row_id_start + parquet row_index (the same
            # metadata-sized broadcast map Lake._attach_rowid uses).
            starts = [
                (Lake._file_uri(f"{self.data_root}/{p}"), info["rid_starts"].get(p))
                for p, _bs in info["files"]
            ]
            sdf = _local_df(
                self.spark, starts,
                T.StructType([
                    T.StructField("_fp", T.StringType()),
                    T.StructField("_dl_start", T.LongType()),
                ]),
            )
            df = (
                df.join(F.broadcast(sdf), "_fp", "left")  # bcast-ok: one row per data file (metadata-sized)
                .withColumn("rowid", F.col("_dl_start") + F.col("_ri"))
                .drop("_dl_start")
            )
        if need_meta:
            df = df.drop("_fp", "_ri")
        if info["inline"]:
            from pg_ducklake_spark.catalog import from_json_value

            data = [
                tuple(
                    from_json_value(vals.get(f.name), f.dataType)
                    for f in schema.fields
                )
                + ((rid,) if with_rowid else ())
                for vals, rid in zip(info["inline"], info["inline_rids"])
            ]
            inline_schema = schema
            if with_rowid:
                from pyspark.sql import types as T3

                inline_schema = T3.StructType(
                    list(schema.fields)
                    + [T3.StructField("rowid", T3.LongType())]
                )
            df = df.unionByName(_local_df(self.spark, data, inline_schema))
        return df

    def views(self) -> dict:
        return dict(self._views)

    def macros(self) -> dict:
        return dict(self._macros)

    def sql(self, query: str) -> DataFrame:
        from pg_ducklake_spark.functions.compat import DUCKDB_COMPAT_MACROS
        from pg_ducklake_spark.views import expand_macros

        for tbl in self.list_tables():
            self.table(tbl).createOrReplaceTempView(tbl)
        macros = {**DUCKDB_COMPAT_MACROS, **self._macros}
        for vname, vdef in self._views.items():
            body = expand_macros(vdef["sql"], macros)
            self.spark.sql(body).select(*vdef["columns"]).createOrReplaceTempView(
                vname
            )
        return self.spark.sql(expand_macros(query, macros))

    def __getattr__(self, item):
        if item in {
            "insert", "insert_rows", "append_batch", "delete", "update",
            "create_table", "create_table_as", "drop_table", "vacuum",
            "set_option", "set_partition", "set_sort", "flush_inlined_data",
            "create_view", "drop_view", "create_macro", "drop_macro",
        }:
            def rejected(*_a, **_k):
                raise ReadOnlyError(
                    f"{item} rejected: frozen lakes are read-only "
                    "(reference src/pgducklake_fdw.cpp:277-304)"
                )

            return rejected
        raise AttributeError(item)
