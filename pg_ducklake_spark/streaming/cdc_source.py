"""Incremental CDC streaming source over the lake snapshot log.

The reference's change feed is a batch table function
(``table_changes`` between two snapshots — sql/pg_ducklake--0.1.0.sql:
344-449). Here the same feed is ALSO a first-class Structured
Streaming source via PySpark 4's Python DataSource API: offsets are
snapshot ids, each micro-batch is exactly the snapshot range committed
since the last batch, and every data/change file in the range becomes
one input partition read executor-side with pyarrow.

Scale notes: the driver touches only the snapshot JSON (never row
data); per-batch work is proportional to the *delta*, not the table —
the property that makes CDC tailing viable on a 100 TB table. File
reads fan out across executors (one partition per file), and a
restarted query resumes from its checkpointed snapshot offset.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

# DML snapshots carry explicit change files; their added data files are
# rewrites already represented there (same rule as changefeed.py).
_SKIP_OPS = {"OPTIMIZE", "FLUSH_INLINED_DATA", "CREATE OPTIONS", "SET OPTION"}
_DML_OPS = {"DELETE", "UPDATE", "MERGE"}


@dataclass
class _CdfPartition(InputPartition):
    """One unit of executor-side work for a micro-batch."""

    kind: str  # "insert_file" | "cdf_file" | "inline" | "dv_delete"
    path: str | None
    version: int
    timestamp: str | None
    field_names: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)  # inline only
    # dv_delete only (r11 — DV-mode DELETE writes positions, not change
    # rows; the executor reconstructs deleted rows from the delta
    # positions): per-file physical column names aligned with
    # field_names (None = column absent from this file's vintage),
    # the cumulative DV file, the prior DV file if any, the data
    # file's rel key inside the DV parquet, and evaluated
    # initial-default constants for absent columns.
    phys_names: list = field(default_factory=list)
    dv_path: str | None = None
    prior_dv_path: str | None = None
    data_rel: str | None = None
    fill_values: dict = field(default_factory=dict)


def _changes_meta_fields() -> list[T.StructField]:
    return [
        T.StructField("_change_type", T.StringType(), False),
        T.StructField("_commit_version", T.LongType(), False),
        T.StructField("_commit_timestamp", T.TimestampType(), True),
    ]


class LakeCDFStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        lake_root: str,
        table: str,
        starting_version: int,
        schema: T.StructType | None = None,
    ):
        self.table_dir = os.path.join(lake_root, table)
        self.starting_version = starting_version
        if schema is None:
            from pg_ducklake_spark.catalog import SnapshotLog

            state = SnapshotLog(self.table_dir).replay()
            schema = T.StructType(
                list(state.schema.fields) + _changes_meta_fields()
            )
        meta = {f.name for f in _changes_meta_fields()}
        # The stream's output schema is FIXED at creation; every
        # batch's rows — whatever vintage their files carry — must be
        # projected to these fields (r11: per-version field lists made
        # the source emit the wrong arity after any mid-history schema
        # evolution).
        self.data_fields: list[T.StructField] = [
            f for f in schema.fields if f.name not in meta
        ]

    def _log(self):
        from pg_ducklake_spark.catalog import SnapshotLog

        return SnapshotLog(self.table_dir)

    # -- offsets: {"version": n} == consumed through snapshot n ----------

    def initialOffset(self) -> dict:
        return {"version": self.starting_version - 1}

    def latestOffset(self) -> dict:
        return {"version": self._log().latest_version()}

    def commit(self, end: dict) -> None:
        pass  # the snapshot log is immutable; nothing to release

    # -- planning (driver-side, metadata only) ---------------------------

    def partitions(self, start: dict, end: dict) -> list[_CdfPartition]:
        log = self._log()
        if start["version"] + 1 < log.min_version():
            from pg_ducklake_spark.errors import SnapshotNotFoundError

            raise SnapshotNotFoundError(
                f"CDC stream offset {start['version'] + 1} has been "
                f"expired (oldest readable snapshot is {log.min_version()}); "
                "restart the stream with a fresh checkpoint / startingVersion"
            )
        parts: list[_CdfPartition] = []
        end_state = log.replay(end["version"])
        names = [f.name for f in self.data_fields]
        live = {f.name for f in end_state.schema.fields}
        missing_now = [c for c in names if c not in live]
        if missing_now:
            from pg_ducklake_spark.errors import LakeError

            raise LakeError(
                f"CDC stream schema columns {missing_now} were renamed or "
                "dropped after the stream started; restart the stream to "
                "pick up the new schema"
            )
        for v in range(start["version"] + 1, end["version"] + 1):
            snap = log.read_snapshot(v)
            op = snap.get("operation", "WRITE")
            if op in _SKIP_OPS:
                continue
            ts = snap.get("timestamp")
            # Data committed at v carries THAT vintage's column names —
            # map each fixed-schema column back through later renames
            # (identical walk to changefeed.read_mapped); a column the
            # vintage lacks reads as NULL, matching the batch feed.
            raw = [end_state.physical_name(c, v) for c in names]
            claimed = {p for c, p in zip(names, raw) if p != c}
            phys = [
                None if (p == c and p in claimed) else p
                for c, p in zip(names, raw)
            ]
            if op not in _DML_OPS:
                for d in snap.get("add", []):
                    parts.append(
                        _CdfPartition(
                            kind="insert_file",
                            path=os.path.join(self.table_dir, d["path"]),
                            version=v, timestamp=ts, field_names=names,
                            phys_names=phys,
                        )
                    )
            if snap.get("cdf_path"):
                parts.append(
                    _CdfPartition(
                        kind="cdf_file",
                        path=os.path.join(self.table_dir, snap["cdf_path"]),
                        version=v, timestamp=ts, field_names=names,
                        phys_names=phys,
                    )
                )
            if op == "DELETE" and snap.get("dv") and not snap.get("cdf_path"):
                # r11: DV-mode DELETE carries positions only (the
                # delete file IS the change record, the reference's
                # ducklake_delete_file design) — one partition per
                # touched data file; the executor set-differences the
                # delta positions and take()s them from the data file.
                # Vintage mapping (renames, later-added columns,
                # initial-default fills) is resolved HERE, driver-side,
                # with the same schema-log walk Lake._read_files uses,
                # so the executor needs no catalog access.
                parts.extend(
                    self._dv_delete_partitions(log, end_state, snap, v, ts)
                )
            inline = [
                ("insert", r["values"])
                for r in snap.get("inline_add", [])
                if op == "INSERT"
            ] + [
                (c["change_type"], c["values"])
                for c in snap.get("inline_changes", [])
            ]
            if inline:
                from pg_ducklake_spark.catalog import from_json_value

                rows = [
                    tuple(
                        from_json_value(
                            vals.get(end_state.physical_name(f.name, v)),
                            f.dataType,
                        )
                        for f in self.data_fields
                    )
                    + (ctype,)
                    for ctype, vals in inline
                ]
                parts.append(
                    _CdfPartition(
                        kind="inline", path=None, version=v, timestamp=ts,
                        field_names=names, rows=rows,
                    )
                )
        return parts

    def _dv_delete_partitions(self, log, end_state, snap, v, ts):
        """Per-file partitions for a DV-mode DELETE snapshot."""
        from pyspark.sql import SparkSession

        state = end_state
        prior = log.replay(v - 1)
        schema_v = T.StructType(self.data_fields)
        names = [f.name for f in schema_v.fields]

        add_snaps = {f.name: state.added_at(f.name) for f in schema_v.fields}
        # getActiveSession is thread-local and the micro-batch planner
        # runs on the streaming thread — getOrCreate returns the
        # existing session from any thread.
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        # initial_default lives in the CATALOG schema's field metadata —
        # the fixed stream schema Spark hands back to streamReader()
        # has been through DDL serialization, which strips metadata.
        end_meta = {
            f.name: (f.metadata or {}) for f in end_state.schema.fields
        }
        fills = {}
        for f in schema_v.fields:
            d = end_meta.get(f.name, {}).get("initial_default")
            if d is not None and spark is not None:
                fills[f.name] = spark.sql(
                    f"SELECT CAST(({d}) AS {f.dataType.simpleString()})"
                ).first()[0]
        parts = []
        for d in snap["dv"]:
            rel = d["file"]
            fe = prior.files.get(rel)
            if fe is None:
                continue
            bs = fe.begin_snapshot
            phys: list[str | None] = []
            for f in schema_v.fields:
                phys.append(
                    state.physical_name(f.name, bs)
                    if add_snaps[f.name] <= bs
                    else None
                )
            # Name-reuse guard (same rule as Lake._read_files): a
            # physical name claimed by a DIFFERENT column's rename walk
            # cannot belong to this one in these files.
            claimed = {
                p for f2, p in zip(schema_v.fields, phys)
                if p is not None and p != f2.name
            }
            phys = [
                None if (p is not None and p == f2.name and p in claimed)
                else p
                for f2, p in zip(schema_v.fields, phys)
            ]
            prior_dv = prior.dvs.get(rel)
            parts.append(
                _CdfPartition(
                    kind="dv_delete",
                    path=os.path.join(self.table_dir, rel),
                    version=v, timestamp=ts, field_names=names,
                    phys_names=phys,
                    dv_path=os.path.join(self.table_dir, d["path"]),
                    prior_dv_path=(
                        os.path.join(self.table_dir, prior_dv["path"])
                        if prior_dv
                        else None
                    ),
                    data_rel=rel,
                    fill_values={
                        k: val for k, val in fills.items()
                        if add_snaps[k] > bs
                    },
                )
            )
        return parts

    # -- execution (executor-side; pyarrow, no Spark) --------------------

    def read(self, partition: _CdfPartition):
        commit_ts = (
            dt.datetime.fromisoformat(partition.timestamp).replace(tzinfo=None)
            if partition.timestamp
            else None
        )
        tail = (partition.version, commit_ts)
        if partition.kind == "inline":
            for row in partition.rows:
                yield row[:-1] + (row[-1],) + tail
            return
        import pyarrow.dataset as ds

        if partition.kind == "dv_delete":
            import pyarrow.compute as pc

            newdv = ds.dataset(partition.dv_path, format="parquet").to_table(
                filter=pc.field("file") == partition.data_rel,
                columns=["row_index"],
            )
            positions = set(newdv["row_index"].to_pylist())
            if partition.prior_dv_path:
                olddv = ds.dataset(
                    partition.prior_dv_path, format="parquet"
                ).to_table(
                    filter=pc.field("file") == partition.data_rel,
                    columns=["row_index"],
                )
                positions -= set(olddv["row_index"].to_pylist())
            dataset = ds.dataset(partition.path, format="parquet")
            want = [
                p for p in partition.phys_names
                if p is not None and p in dataset.schema.names
            ]
            tbl = dataset.take(sorted(positions), columns=want)
            for rec in tbl.to_pylist():
                vals = tuple(
                    rec[p] if (p is not None and p in rec)
                    else partition.fill_values.get(nm)
                    for nm, p in zip(partition.field_names, partition.phys_names)
                )
                yield vals + ("delete",) + tail
            return

        dataset = ds.dataset(partition.path, format="parquet")
        phys = partition.phys_names or list(partition.field_names)
        want = [p for p in phys if p is not None] + (
            ["_change_type"] if partition.kind == "cdf_file" else []
        )
        cols = [c for c in want if c in dataset.schema.names]
        for batch in dataset.to_table(columns=cols).to_batches():
            data = batch.to_pylist()
            for rec in data:
                base = tuple(
                    rec.get(p) if p is not None else None for p in phys
                )
                if partition.kind == "cdf_file":
                    yield base + (rec.get("_change_type"),) + tail
                else:
                    yield base + ("insert",) + tail


class LakeCDFDataSource(DataSource):
    """``spark.readStream.format("lake_cdf")`` — options:
    ``lake_root`` (lake directory), ``table``, ``startingVersion``
    (default 1: replay the whole history, like Delta CDF's
    startingVersion=0)."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self):
        from pg_ducklake_spark.catalog import SnapshotLog

        table_dir = os.path.join(self.options["lake_root"], self.options["table"])
        state = SnapshotLog(table_dir).replay()
        return T.StructType(list(state.schema.fields) + _changes_meta_fields())

    def streamReader(self, schema) -> LakeCDFStreamReader:
        return LakeCDFStreamReader(
            self.options["lake_root"],
            self.options["table"],
            int(self.options.get("startingversion", 1)),
            schema=schema,
        )
