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
    """One unit of executor-side work for a micro-batch. The vintage
    mapping is resolved driver-side, so the executor needs no catalog:
    ``phys_names`` aligns with ``field_names`` (None = the column is
    absent from the data's vintage), and ``fill_values`` holds the
    evaluated initial defaults of the absent columns that have one."""

    kind: str  # "insert_file" | "cdf_file" | "inline" | "dv_delete"
    path: str | None
    version: int
    timestamp: str | None
    field_names: list[str] = field(default_factory=list)
    phys_names: list = field(default_factory=list)
    fill_values: dict = field(default_factory=dict)
    # inline only: (values keyed by physical name, change type)
    rows: list[tuple] = field(default_factory=list)
    # dv_delete only (r11 — DV-mode DELETE writes positions, not change
    # rows; the executor reconstructs deleted rows from the delta
    # positions): the cumulative DV file, the prior DV file if any, and
    # the data file's rel key inside the DV parquet.
    dv_path: str | None = None
    prior_dv_path: str | None = None
    data_rel: str | None = None


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
        self._constants: dict[tuple[str, str], object] = {}  # evaluated defaults

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
        # The catalog's fields: initial_default lives in their metadata,
        # which the stream schema lost to DDL serialization.
        schema = T.StructType([end_state.schema[c] for c in names])
        for v in range(start["version"] + 1, end["version"] + 1):
            snap = log.read_snapshot(v)
            op = snap.get("operation", "WRITE")
            if op in _SKIP_OPS:
                continue
            ts = snap.get("timestamp")
            # Data committed at v is of vintage v.
            phys, fills = self._vintage(end_state, schema, v)
            common = dict(
                version=v, timestamp=ts, field_names=names,
                phys_names=phys, fill_values=fills,
            )
            if op not in _DML_OPS:
                for d in snap.get("add", []):
                    parts.append(_CdfPartition(
                        kind="insert_file",
                        path=os.path.join(self.table_dir, d["path"]), **common,
                    ))
            if snap.get("cdf_path"):
                parts.append(_CdfPartition(
                    kind="cdf_file",
                    path=os.path.join(self.table_dir, snap["cdf_path"]),
                    **common,
                ))
            if op == "DELETE" and snap.get("dv") and not snap.get("cdf_path"):
                # r11: DV-mode DELETE carries positions only (the
                # delete file IS the change record, the reference's
                # ducklake_delete_file design) — one partition per
                # touched data file, at that file's own vintage; the
                # executor set-differences the delta positions and
                # take()s them from the data file.
                parts.extend(
                    self._dv_delete_partitions(log, end_state, schema, snap, v, ts)
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
                from pg_ducklake_spark.lake import inline_values

                rows = [
                    (
                        {
                            p: x
                            for p, x in zip(phys, inline_values(vals, schema, phys))
                            if p is not None
                        },
                        ctype,
                    )
                    for ctype, vals in inline
                ]
                parts.append(
                    _CdfPartition(kind="inline", path=None, rows=rows, **common)
                )
        return parts

    def _vintage(self, state, schema: T.StructType, bs: int):
        """``state.vintage`` with its fills evaluated to constants."""
        phys, fills = state.vintage(schema, bs)
        return list(phys), {
            c: self._constant(expr, schema[c].dataType) for c, expr in fills
        }

    def _constant(self, expr: str, dtype: T.DataType):
        from pyspark.sql import SparkSession

        key = (expr, dtype.simpleString())
        if key not in self._constants:
            # getActiveSession is thread-local and the micro-batch
            # planner runs on the streaming thread — getOrCreate returns
            # the existing session from any thread.
            spark = (
                SparkSession.getActiveSession()
                or SparkSession.builder.getOrCreate()
            )
            self._constants[key] = spark.sql(
                f"SELECT CAST(({expr}) AS {key[1]})"
            ).first()[0]
        return self._constants[key]

    def _dv_delete_partitions(self, log, end_state, schema, snap, v, ts):
        """Per-file partitions for a DV-mode DELETE snapshot."""
        prior = log.replay(v - 1)
        parts = []
        for d in snap["dv"]:
            rel = d["file"]
            fe = prior.files.get(rel)
            if fe is None:
                continue
            phys, fills = self._vintage(end_state, schema, fe.begin_snapshot)
            prior_dv = prior.dvs.get(rel)
            parts.append(
                _CdfPartition(
                    kind="dv_delete",
                    path=os.path.join(self.table_dir, rel),
                    version=v, timestamp=ts, field_names=schema.names,
                    phys_names=phys, fill_values=fills,
                    dv_path=os.path.join(self.table_dir, d["path"]),
                    prior_dv_path=(
                        os.path.join(self.table_dir, prior_dv["path"])
                        if prior_dv
                        else None
                    ),
                    data_rel=rel,
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

        def row(rec: dict, change_type: str) -> tuple:
            return tuple(
                rec.get(p) if p is not None else partition.fill_values.get(nm)
                for nm, p in zip(partition.field_names, partition.phys_names)
            ) + (change_type,) + tail

        if partition.kind == "inline":
            for rec, change_type in partition.rows:
                yield row(rec, change_type)
            return
        import pyarrow.dataset as ds

        dataset = ds.dataset(partition.path, format="parquet")
        want = [
            p for p in partition.phys_names
            if p is not None and p in dataset.schema.names
        ]
        if partition.kind == "dv_delete":
            import pyarrow.compute as pc

            def positions(dv_path: str) -> set:
                return set(
                    ds.dataset(dv_path, format="parquet").to_table(
                        filter=pc.field("file") == partition.data_rel,
                        columns=["row_index"],
                    )["row_index"].to_pylist()
                )

            delta = positions(partition.dv_path)
            if partition.prior_dv_path:
                delta -= positions(partition.prior_dv_path)
            for rec in dataset.take(sorted(delta), columns=want).to_pylist():
                yield row(rec, "delete")
            return
        if partition.kind == "cdf_file":
            want.append("_change_type")
        for batch in dataset.to_table(columns=want).to_batches():
            for rec in batch.to_pylist():
                yield row(rec, rec.get("_change_type", "insert"))


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
