"""DuckLake-shaped snapshot-log catalog over plain files.

The reference keeps 28 ``ducklake_*`` metadata tables in Postgres
(reference: src/pgducklake_freeze.cpp:32-61) with every entity
temporally versioned by begin/end snapshot. This module re-expresses
that contract the way a Spark-native lakehouse does it (Delta-log
style): each table directory holds an append-only log of numbered JSON
snapshot files; table state at version N is the replay of snapshots
1..N.

Commit protocol = optimistic concurrency, mirroring the reference's
subtransaction commit-retry (src/pgducklake_metadata_manager.cpp:294-404):
a writer serializes its snapshot to a temp file and hard-links it to
``<next_id>.json`` — link fails atomically if another writer won the
id, in which case the writer revalidates against the new state and
retries (appends always retry; conflicting file removals raise).

Scale notes (100 TB): the log is O(#snapshots) small JSON files; state
replay caches incrementally per process, and data-file *stats* stay in
the log (min/max per column, from parquet footers at commit time) so
file pruning never touches data. A checkpoint (parquet rollup of the
log) is the standard growth valve and slots in behind ``replay``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import types as T

from pg_ducklake_spark.errors import (
    ConcurrentModificationError,
    SnapshotNotFoundError,
)

LOG_DIR = "_ducklake_log"
DATA_DIR = "data"
CDF_DIR = "_change_data"
TXN_DIR = "_txn"
#: A multi-table transaction must flip its commit marker within this
#: window of writing its per-table pending snapshots. After it, the
#: pending snapshots are permanently aborted (checkpoints may roll past
#: them) and the marker write refuses — bounding the two-phase limbo.
TXN_MARKER_TIMEOUT_S = 600.0

# Catalog options and their defaults (reference: docs/settings.md).
DEFAULT_OPTIONS: dict[str, Any] = {
    "data_inlining_row_limit": 0,  # 0 = inlining off (reference default)
    "target_file_size": 64 * 1024 * 1024,
    "parquet_compression": "snappy",
    "parquet_row_group_size": 122880,
    "parquet_row_group_size_bytes": None,
    "parquet_version": None,
    "per_thread_output": True,
    "hive_file_pattern": True,
    "rewrite_delete_threshold": 0.1,
    "require_commit_message": False,
    "delete_older_than": None,
    "expire_older_than": None,
    # Optimistic-commit retry policy (upstream DuckLake's extension
    # settings, ducklake_feature_coverage.md:80-83). Lake-scope only:
    # the policy guards the metadata log itself, so narrower scopes
    # would be read through the very mechanism they configure.
    "max_retry_count": 20,
    "retry_wait_ms": 10,
    "retry_backoff": 1.2,
}


def utcnow_iso() -> str:
    return dt.datetime.now(dt.timezone.utc).isoformat(timespec="microseconds")


# --------------------------------------------------------------------------
# Inline-data value serialization (reference stores inlined rows in catalog
# tables with text conversion for non-native types,
# src/pgducklake_direct_insert.cpp:848-888; same tiering here).


# TIME exists from Spark 4.0 (behind spark.sql.timeType.enabled);
# guard so the module still imports on older runtimes.
_TIME_TYPE = getattr(T, "TimeType", None)


def to_json_value(v: Any, dtype: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(dtype, T.DateType):
        return v.isoformat()
    if _TIME_TYPE is not None and isinstance(dtype, _TIME_TYPE):
        return v.isoformat()
    if isinstance(dtype, T.DayTimeIntervalType):
        # total microseconds (the reference inlines INTERVAL as
        # '%d months %d days %lld microseconds' text,
        # src/pgducklake_direct_insert.cpp:848-888; a day-time interval
        # has no month component, so one integer is lossless)
        return (v.days * 86_400_000_000 + v.seconds * 1_000_000
                + v.microseconds)
    if isinstance(dtype, T.BinaryType):
        return bytes(v).hex()
    if isinstance(dtype, T.DecimalType):
        return str(v)
    if isinstance(dtype, T.ArrayType):
        return [to_json_value(x, dtype.elementType) for x in v]
    if isinstance(dtype, (T.StructType, T.MapType)) or (
        dtype.simpleString() == "variant"
    ):
        raise ValueError(
            f"data inlining unsupported for type {dtype.simpleString()}"
            " (no-inline tier, as reference docs/data_types.md:52-61;"
            " variant is explicitly no-inline)"
        )
    return v


def from_json_value(v: Any, dtype: T.DataType) -> Any:
    if v is None:
        return None
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return dt.datetime.fromisoformat(v)
    if isinstance(dtype, T.DateType):
        return dt.date.fromisoformat(v)
    if _TIME_TYPE is not None and isinstance(dtype, _TIME_TYPE):
        return dt.time.fromisoformat(v)
    if isinstance(dtype, T.DayTimeIntervalType):
        return dt.timedelta(microseconds=int(v))
    if isinstance(dtype, T.BinaryType):
        return bytes.fromhex(v)
    if isinstance(dtype, T.DecimalType):
        import decimal

        return decimal.Decimal(v)
    if isinstance(dtype, T.ArrayType):
        return [from_json_value(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.FloatType):
        return float(v)
    if isinstance(dtype, T.DoubleType):
        return float(v)
    return v


# --------------------------------------------------------------------------


@dataclass
class FileEntry:
    path: str  # relative to table root
    rows: int
    bytes: int
    stats: dict[str, dict[str, Any]] = field(default_factory=dict)
    partition_values: dict[str, str] = field(default_factory=dict)
    begin_snapshot: int = 0
    # rowid lineage (upstream DuckLake's ducklake_data_file.row_id_start;
    # the reference lists rowid as unsupported,
    # docs/ducklake_feature_coverage.md:54): the table-scoped row id of
    # this file's first row — rowid = row_id_start + row_index. NOT
    # logged by writers: replay assigns it deterministically from the
    # per-table counter (so old logs gain it for free); checkpoints
    # persist it so bounded replay stays consistent.
    row_id_start: int | None = None

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "rows": self.rows,
            "bytes": self.bytes,
            "stats": self.stats,
            "partition_values": self.partition_values,
        }
        if self.row_id_start is not None:
            out["row_id_start"] = self.row_id_start
        return out

    @staticmethod
    def from_json(d: dict, begin_snapshot: int) -> "FileEntry":
        return FileEntry(
            path=d["path"],
            rows=d.get("rows", 0),
            bytes=d.get("bytes", 0),
            stats=d.get("stats", {}),
            partition_values=d.get("partition_values", {}),
            begin_snapshot=begin_snapshot,
            row_id_start=d.get("row_id_start"),
        )


@dataclass
class SnapshotInfo:
    snapshot_id: int
    timestamp: str
    operation: str
    schema_version: int
    metrics: dict[str, int]
    commit_message: str | None = None
    cdf_path: str | None = None
    # ≙ ducklake_snapshot_changes (author, commit_message,
    # commit_extra_info), src/pgducklake_metadata_manager.cpp:735
    author: str | None = None
    commit_extra_info: str | None = None


@dataclass
class TableState:
    """Replayed table state at a snapshot."""

    snapshot_id: int = 0
    schema: T.StructType | None = None
    schema_version: int = 0
    files: dict[str, FileEntry] = field(default_factory=dict)
    # positional delete files (≙ ducklake_delete_file): data-file rel path →
    # {"path": dv parquet rel path, "deleted": cumulative deleted rows}
    dvs: dict[str, dict] = field(default_factory=dict)
    inline_rows: list[dict] = field(default_factory=list)  # {row_id, begin_snapshot, values}
    next_row_id: int = 0
    partition_spec: list[str] = field(default_factory=list)
    sort_spec: list[dict] = field(default_factory=list)
    options: dict[str, Any] = field(default_factory=dict)
    table_stats: dict | None = None
    # COMMENT / tags metadata (≙ ducklake_tag / ducklake_column_tag,
    # src/pgducklake_freeze.cpp:38-39): table-level key->value, and
    # per-column key->value keyed by the CURRENT column name (re-keyed
    # on rename replay).
    tags: dict[str, str] = field(default_factory=dict)
    column_tags: dict[str, dict] = field(default_factory=dict)
    # catalog-level views / macros (≙ ducklake_view, ducklake_macro*):
    # name -> definition dict; only populated on the lake's catalog log
    views: dict[str, dict] = field(default_factory=dict)
    macros: dict[str, dict] = field(default_factory=dict)
    history: list[SnapshotInfo] = field(default_factory=list)
    # per-snapshot schema versions: snapshot_id -> schema json (only changes)
    schema_log: list[tuple[int, dict]] = field(default_factory=list)
    # column renames (≙ ducklake_name_mapping): [snapshot_id, old, new]
    # in commit order — lets the scan map a current column back to the
    # physical name it carries inside files written before the rename.
    renames: list[list] = field(default_factory=list)

    @property
    def total_rows(self) -> int:
        deleted = sum(d["deleted"] for d in self.dvs.values())
        return sum(f.rows for f in self.files.values()) - deleted + len(self.inline_rows)

    def physical_name(self, col: str, begin_snapshot: int) -> str:
        """The column name physically stored in files written at
        ``begin_snapshot`` for current-schema column ``col``: walk the
        rename log backwards, undoing every rename that happened after
        the file was written."""
        for sid, old, new in reversed(self.renames):
            if sid > begin_snapshot and col == new:
                col = old
        return col

    def added_at(self, col: str) -> int:
        """First snapshot at which current-schema column ``col`` appeared:
        walk the schema log newest→oldest, following the column through
        renames (its physical name at each log vintage); the oldest
        contiguous entry containing it is its add. A DROP-then-re-ADDed
        name is dated by its own add, not by the column that carried it
        before, so files older than that read it as NULL or its
        initial_default, never as the dropped column's bytes."""
        added = 0
        for sid, sj in reversed(self.schema_log):
            pname = self.physical_name(col, sid)
            if any(fd["name"] == pname for fd in sj["fields"]):
                added = sid
            else:
                break
        return added

    def schema_at(self, snapshot_id: int) -> T.StructType:
        cur = None
        for sid, sj in self.schema_log:
            if sid <= snapshot_id:
                cur = sj
        if cur is None:
            raise SnapshotNotFoundError(f"no schema at snapshot {snapshot_id}")
        return T.StructType.fromJson(cur)


def _fork(state: TableState) -> TableState:
    """A copy of ``state`` whose containers ``SnapshotLog._apply`` may
    mutate without touching ``state``. The values it only replaces
    (FileEntry, SnapshotInfo, DV and inline-row dicts) are shared."""
    return dataclasses.replace(
        state,
        files=dict(state.files),
        dvs=dict(state.dvs),
        inline_rows=list(state.inline_rows),
        options=dict(state.options),
        tags=dict(state.tags),
        column_tags={k: dict(v) for k, v in state.column_tags.items()},
        views=dict(state.views),
        macros=dict(state.macros),
        history=list(state.history),
        schema_log=list(state.schema_log),
        renames=list(state.renames),
    )


CHECKPOINT_EVERY = 32


def state_to_json(state: TableState) -> dict:
    return {
        "snapshot_id": state.snapshot_id,
        "schema_version": state.schema_version,
        "files": [
            dict(f.to_json(), begin_snapshot=f.begin_snapshot)
            for f in state.files.values()
        ],
        "dvs": state.dvs,
        "inline_rows": state.inline_rows,
        "next_row_id": state.next_row_id,
        "partition_spec": state.partition_spec,
        "sort_spec": state.sort_spec,
        "options": state.options,
        "table_stats": state.table_stats,
        "tags": state.tags,
        "column_tags": state.column_tags,
        "views": state.views,
        "macros": state.macros,
        "schema_log": [[sid, sj] for sid, sj in state.schema_log],
        "renames": [list(r) for r in state.renames],
        "history": [
            {
                "snapshot_id": s.snapshot_id,
                "timestamp": s.timestamp,
                "operation": s.operation,
                "schema_version": s.schema_version,
                "metrics": s.metrics,
                "commit_message": s.commit_message,
                "cdf_path": s.cdf_path,
                "author": s.author,
                "commit_extra_info": s.commit_extra_info,
            }
            for s in state.history
        ],
    }


def state_from_json(d: dict) -> TableState:
    state = TableState(
        snapshot_id=d["snapshot_id"],
        schema_version=d["schema_version"],
        files={
            f["path"]: FileEntry.from_json(f, f.get("begin_snapshot", 0))
            for f in d["files"]
        },
        dvs=dict(d.get("dvs", {})),
        inline_rows=list(d.get("inline_rows", [])),
        next_row_id=d.get("next_row_id", 0),
        partition_spec=list(d.get("partition_spec", [])),
        sort_spec=list(d.get("sort_spec", [])),
        options=dict(d.get("options", {})),
        table_stats=d.get("table_stats"),
        tags=dict(d.get("tags", {})),
        column_tags={k: dict(v) for k, v in d.get("column_tags", {}).items()},
        views=dict(d.get("views", {})),
        macros=dict(d.get("macros", {})),
        schema_log=[(sid, sj) for sid, sj in d.get("schema_log", [])],
        renames=[list(r) for r in d.get("renames", [])],
        history=[SnapshotInfo(**h) for h in d.get("history", [])],
    )
    if state.schema_log:
        state.schema = T.StructType.fromJson(state.schema_log[-1][1])
    # Checkpoints written before rowid lineage lack row_id_start:
    # assign in file order (the checkpoint list preserves insertion
    # order, which is replay order) so the invariant "every FileEntry
    # has a row_id_start" holds everywhere downstream.
    for fe in state.files.values():
        if fe.row_id_start is None:
            fe.row_id_start = state.next_row_id
        state.next_row_id = max(state.next_row_id, fe.row_id_start + fe.rows)
    return state


class SnapshotLog:
    """Append-only JSON snapshot log for one table directory.

    Every CHECKPOINT_EVERY commits, the full replayed state is rolled up
    into a ``<id>.ckpt.json`` alongside the log, so cold-start replay is
    O(CHECKPOINT_EVERY) snapshot reads regardless of table age — the
    standard Delta-checkpoint growth valve (SURVEY.md scale notes)."""

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        self.log_dir = os.path.join(table_dir, LOG_DIR)
        # Session commit metadata stamped onto every snapshot (≙ the
        # author / commit_extra_info columns of ducklake_snapshot_changes,
        # src/pgducklake_metadata_manager.cpp:735). Refreshed by the
        # owning Lake before each commit.
        self.session_meta: dict[str, Any] = {}
        # Optional zero-arg callable returning (max_retry_count,
        # retry_wait_ms, retry_backoff) — wired by the owning Lake so
        # the optimistic-commit loop honors the user-configured policy
        # (upstream extension settings); standalone logs keep the
        # built-in defaults.
        self.retry_policy: Callable[[], tuple[int, float, float]] | None = None
        self._cache: TableState | None = None
        self._cache_version = 0
        # (version, txn_id, timestamp) skipped by the current replay /
        # cached state because their commit marker was absent.
        self._replay_unresolved: list[tuple[int, str, str]] = []
        self._cache_unresolved: list[tuple[int, str, str]] = []
        # Bumped on every event that can change the replayed state of
        # an EXISTING snapshot id in place (a pending-txn marker
        # landing, checkpoint rollback): (snapshot_id, epoch) is a
        # sound cache key for derived state where snapshot_id alone is
        # not. Consumers: Lake._table_df_cache / _dv_key_cache.
        self.epoch = 0

    # -- log primitives ----------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.log_dir)

    def versions(self) -> list[int]:
        if not self.exists():
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json") and not name.startswith("."):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    def read_snapshot(self, version: int) -> dict:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as f:
            return json.load(f)

    # -- state replay -------------------------------------------------------

    def _txn_marker(self, txn_id: str) -> str:
        return os.path.join(
            os.path.dirname(self.table_dir), TXN_DIR, f"{txn_id}.commit"
        )

    def _txn_abort_marker(self, txn_id: str) -> str:
        return os.path.join(
            os.path.dirname(self.table_dir), TXN_DIR, f"{txn_id}.abort"
        )

    def _apply(self, state: TableState, snap: dict) -> None:
        sid = snap["snapshot_id"]
        txn = snap.get("txn_pending")
        if txn is not None and not os.path.exists(self._txn_marker(txn)):
            state.snapshot_id = sid
            # Reserve the pending snapshot's persisted rowid ranges even
            # while its effects are invisible: a later writer stamps its
            # row_id_start from this replayed state, and without the
            # reservation it would overlap the pending ranges the moment
            # the marker lands. An aborted txn leaves a gap — rowids are
            # stable, not dense.
            for d in snap.get("add", []):
                rs = d.get("row_id_start")
                if rs is not None:
                    state.next_row_id = max(
                        state.next_row_id, rs + d.get("rows", 0)
                    )
            if os.path.exists(self._txn_abort_marker(txn)):
                # Phase 1 failed (or the marker window lapsed): the txn
                # is permanently aborted — skip with no deferral and no
                # cache-invalidation tracking.
                return
            # Two-phase multi-table commit: the per-table snapshot is
            # invisible until the lake-level marker flips. Advance the
            # version counter but apply no effects; remember it so a
            # cached state is invalidated if the marker lands later.
            self._replay_unresolved.append(
                (sid, txn, snap.get("timestamp", ""))
            )
            return
        state.snapshot_id = sid
        if "schema" in snap and snap["schema"] is not None:
            state.schema = T.StructType.fromJson(snap["schema"])
            state.schema_version = snap.get("schema_version", state.schema_version + 1)
            state.schema_log.append((sid, snap["schema"]))
            rn = snap.get("rename")
            if rn is None:
                # Logs written before the structured field: recover the
                # mapping from the (self-generated) operation string.
                op = snap.get("operation", "")
                if op.startswith("ALTER TABLE RENAME COLUMN "):
                    parts = op[len("ALTER TABLE RENAME COLUMN "):].split(" TO ")
                    if len(parts) == 2:
                        rn = {"old": parts[0], "new": parts[1]}
            if rn is not None:
                state.renames.append([sid, rn["old"], rn["new"]])
                if rn["old"] in state.column_tags:
                    state.column_tags[rn["new"]] = state.column_tags.pop(
                        rn["old"]
                    )
        for d in snap.get("add", []):
            fe = FileEntry.from_json(d, sid)
            # rowid assignment: files and inline rows draw from the same
            # per-table counter, in replay order — deterministic across
            # restarts because the log (and each snapshot's add list) is
            # ordered. A rewritten file (vacuum/CoW) gets fresh ids.
            if fe.row_id_start is None:
                fe.row_id_start = state.next_row_id
            state.next_row_id = max(
                state.next_row_id, fe.row_id_start + fe.rows
            )
            state.files[fe.path] = fe
        for path in snap.get("remove", []):
            state.files.pop(path, None)
            state.dvs.pop(path, None)  # a rewritten file sheds its deletes
        for d in snap.get("dv", []):
            state.dvs[d["file"]] = {"path": d["path"], "deleted": d["deleted"]}
        for row in snap.get("inline_add", []):
            state.inline_rows.append(
                {"row_id": row["row_id"], "begin_snapshot": sid, "values": row["values"]}
            )
            state.next_row_id = max(state.next_row_id, row["row_id"] + 1)
        removed = set(snap.get("inline_remove", []))
        if removed:
            state.inline_rows = [
                r for r in state.inline_rows if r["row_id"] not in removed
            ]
        if snap.get("inline_clear"):
            state.inline_rows = []
        for key, val in snap.get("set", {}).items():
            if key == "partition_spec":
                state.partition_spec = val
            elif key == "sort_spec":
                state.sort_spec = val
            elif key == "options":
                state.options.update(val)
            elif key == "table_stats":
                state.table_stats = val
            elif key == "tags":
                for tk, tv in val.items():
                    if tv is None:
                        state.tags.pop(tk, None)
                    else:
                        state.tags[tk] = tv
            elif key == "column_tags":
                for col, ctags in val.items():
                    if ctags is None:
                        state.column_tags.pop(col, None)
                        continue
                    cur = state.column_tags.setdefault(col, {})
                    for tk, tv in ctags.items():
                        if tv is None:
                            cur.pop(tk, None)
                        else:
                            cur[tk] = tv
                    if not cur:
                        state.column_tags.pop(col, None)
            elif key == "views":
                # merge; a None value drops the view (DROP VIEW)
                for vname, vdef in val.items():
                    if vdef is None:
                        state.views.pop(vname, None)
                    else:
                        state.views[vname] = vdef
            elif key == "macros":
                for mname, mdef in val.items():
                    if mdef is None:
                        state.macros.pop(mname, None)
                    else:
                        state.macros[mname] = mdef
        state.history.append(
            SnapshotInfo(
                snapshot_id=sid,
                timestamp=snap.get("timestamp", ""),
                operation=snap.get("operation", "WRITE"),
                schema_version=state.schema_version,
                metrics=snap.get("metrics", {}),
                commit_message=snap.get("commit_message"),
                cdf_path=snap.get("cdf_path"),
                author=snap.get("author"),
                commit_extra_info=snap.get("commit_extra_info"),
            )
        )

    def replay(self, version: int | None = None) -> TableState:
        """State at ``version`` (default: latest). Latest-state replays are
        cached and advanced incrementally."""
        latest = self.latest_version()
        if latest == 0:
            raise SnapshotNotFoundError(f"no snapshots in {self.log_dir}")
        if version is not None and (version > latest or version < 1):
            raise SnapshotNotFoundError(
                f"snapshot {version} does not exist (latest is {latest})"
            )
        if version is not None and version < self.min_version():
            raise SnapshotNotFoundError(
                f"snapshot {version} has been expired "
                f"(oldest readable is {self.min_version()})"
            )
        # A cached state that skipped pending txn snapshots goes stale
        # the moment one of their markers lands — rebuild from scratch.
        # The marker probe alone is NOT sufficient: gc_txn_markers
        # (another process) folds the outcome INTO the snapshot file
        # and unlinks the marker, so a replayer that cached before the
        # fold would miss the landing forever (its _cache_unresolved
        # entry sticking permanently, serving stale state and keeping
        # downstream (table, snapshot_id, epoch)-keyed caches disabled
        # via has_unresolved). So also re-read each skipped snapshot:
        # a folded commit sheds its txn_pending tag, a folded abort
        # becomes a ROLLBACK record — either way the entry is resolved
        # and the cache must rebuild under a new epoch.
        if self._cache is not None and self._cache_unresolved:
            def _resolved(v: int, txn: str) -> bool:
                if os.path.exists(self._txn_marker(txn)):
                    return True
                try:
                    return self.read_snapshot(v).get("txn_pending") != txn
                except (OSError, ValueError, KeyError):
                    return False
            if any(_resolved(v, txn) for v, txn, _ts in self._cache_unresolved):
                self._cache = None
                self.epoch += 1  # same snapshot ids now replay differently
        if version is None or version == latest:
            if self._cache is None:
                self._replay_unresolved = []
                state, start = self._from_checkpoint(latest)
                for v in self.versions():
                    if start < v <= latest:
                        self._apply(state, self.read_snapshot(v))
                self._cache, self._cache_version = state, latest
                self._cache_unresolved = list(self._replay_unresolved)
            else:
                self._replay_unresolved = []
                state = self._cache
                if self._cache_version < latest:
                    # Advance a copy: a state handed out earlier (a DML
                    # op's base, its base_dvs fingerprint) must not move
                    # under its holder.
                    state = _fork(state)
                    for v in range(self._cache_version + 1, latest + 1):
                        self._apply(state, self.read_snapshot(v))
                    self._cache = state
                self._cache_version = latest
                self._cache_unresolved.extend(self._replay_unresolved)
            return state
        self._replay_unresolved = []
        state, start = self._from_checkpoint(version)
        for v in self.versions():
            if v > version:
                break
            if v > start:
                self._apply(state, self.read_snapshot(v))
        return state

    def has_unresolved(self) -> bool:
        """True if the most recently replayed state skipped any pending
        multi-table txn snapshot whose marker may still land. Such a
        state is NOT uniquely identified by its snapshot_id (the marker
        resolving changes the state without a new snapshot), so callers
        must not cache anything keyed on (table, snapshot_id) while
        this holds."""
        return bool(self._cache_unresolved or self._replay_unresolved)

    def _checkpoints(self) -> list[int]:
        if not self.exists():
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".ckpt.json"):
                try:
                    out.append(int(name[: -len(".ckpt.json")]))
                except ValueError:
                    continue
        return sorted(out)

    def _from_checkpoint(self, target: int) -> tuple[TableState, int]:
        """Latest checkpoint at-or-before ``target`` (or a blank state)."""
        for cv in reversed(self._checkpoints()):
            if cv <= target:
                try:
                    with open(
                        os.path.join(self.log_dir, f"{cv:020d}.ckpt.json")
                    ) as f:
                        return state_from_json(json.load(f)), cv
                except (OSError, ValueError, KeyError):
                    continue  # corrupt/partial checkpoint → older or full replay
        return TableState(), 0

    def maybe_checkpoint(self, version: int) -> None:
        """Roll up state into a checkpoint file (best-effort, atomic).

        Deferred while the roll-up range contains a pending multi-table
        txn snapshot younger than TXN_MARKER_TIMEOUT_S: rolling past it
        would bake its exclusion into the checkpoint while its marker
        may still legitimately arrive. Past the timeout the txn is
        permanently aborted (the marker write refuses too), so the
        exclusion is final and checkpointing may proceed.
        """
        if version % CHECKPOINT_EVERY != 0:
            return
        state = self.replay(version)
        now = dt.datetime.now(dt.timezone.utc)
        unresolved = {
            u
            for u in self._cache_unresolved + self._replay_unresolved
            if u[0] <= version
            and not os.path.exists(self._txn_marker(u[1]))
            and not os.path.exists(self._txn_abort_marker(u[1]))
        }
        for _v, _txn, ts in unresolved:
            try:
                age = (now - dt.datetime.fromisoformat(ts)).total_seconds()
            except ValueError:
                age = TXN_MARKER_TIMEOUT_S + 1
            if age < TXN_MARKER_TIMEOUT_S:
                return  # young in-flight txn: defer this checkpoint
        tmp = os.path.join(self.log_dir, f".tmp-ckpt-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(state_to_json(state), f)
        final = os.path.join(self.log_dir, f"{version:020d}.ckpt.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass
        finally:
            os.unlink(tmp)
        # Close the clock-skew race with the marker writer: this
        # checkpoint baked in the EXCLUSION of the timed-out pending
        # snapshots, but a writer on a skewed clock may have flipped a
        # commit marker between our age check and the link above. If any
        # marker exists now, discard the checkpoint — it is a derived
        # cache, and a full-log replay (which sees the marker) stays the
        # source of truth. The writer independently sweeps checkpoints
        # after flipping its marker, so either side closes the window.
        if unresolved and any(
            os.path.exists(self._txn_marker(txn)) for _v, txn, _ts in unresolved
        ):
            try:
                os.unlink(final)
            except OSError:
                pass

    def resolve_txn_snapshot(self, version: int, committed: bool) -> None:
        """Fold a txn marker's outcome into snapshot ``version`` itself
        (atomic rewrite), so the marker file is no longer load-bearing:
        committed → drop the ``txn_pending`` tag; aborted → replace the
        snapshot with an effect-free ROLLBACK record. After every
        referencing snapshot is resolved, the marker can be GC'd without
        changing the visibility of ANY replay, including time travel."""
        snap = self.read_snapshot(version)
        if "txn_pending" not in snap:
            return
        if committed:
            snap.pop("txn_pending")
        else:
            snap = {
                "snapshot_id": version,
                "timestamp": snap.get("timestamp", ""),
                "operation": "ROLLBACK",
                "metrics": {},
            }
        tmp = os.path.join(self.log_dir, f".tmp-rs-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
        os.replace(tmp, os.path.join(self.log_dir, f"{version:020d}.json"))
        self._cache = None

    def drop_checkpoints_at_or_after(self, version: int) -> None:
        """Remove checkpoint files at ``version`` or later (they may have
        baked in the exclusion of a txn whose marker just flipped).
        Checkpoints are derived caches — dropping them is always safe."""
        if not self.exists():
            return
        for fname in os.listdir(self.log_dir):
            if not fname.endswith(".ckpt.json"):
                continue
            try:
                v = int(fname.split(".")[0])
            except ValueError:
                continue
            if v >= version:
                try:
                    os.unlink(os.path.join(self.log_dir, fname))
                except OSError:
                    pass
        self._cache = None  # cached state may predate the marker flip
        self.epoch += 1  # same snapshot ids may now replay differently

    def min_version(self) -> int:
        """Oldest still-readable snapshot (1 unless history was expired)."""
        vs = self.versions()
        return vs[0] if vs else 0

    def expire_before(self, cutoff: int) -> int:
        """Expire snapshots older than ``cutoff`` (≙ DuckLake's
        ducklake_expire_snapshots): the state at ``cutoff`` is rolled up
        into a checkpoint whose history is trimmed to the surviving
        range, older snapshot JSONs / checkpoints / change-data files
        are deleted, and time travel below ``cutoff`` raises. The
        schema log is kept whole (it is tiny and per-file default
        semantics need original add-snapshot ids). This is the metadata
        growth valve: a 100 TB table with years of commits keeps a
        bounded log without losing the live snapshot window."""
        latest = self.latest_version()
        cutoff = min(cutoff, latest)
        if cutoff <= self.min_version():
            return 0
        # Collect expired snapshots' change-data paths before deleting.
        expired = [v for v in self.versions() if v < cutoff]
        cdf_dirs = []
        for v in expired:
            snap = self.read_snapshot(v)
            if snap.get("cdf_path"):
                cdf_dirs.append(os.path.join(self.table_dir, snap["cdf_path"]))
        state = self.replay(cutoff)
        state.history = [h for h in state.history if h.snapshot_id >= cutoff]
        tmp = os.path.join(self.log_dir, f".tmp-ckpt-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(state_to_json(state), f)
        final = os.path.join(self.log_dir, f"{cutoff:020d}.ckpt.json")
        os.replace(tmp, final)
        for v in expired:
            try:
                os.unlink(os.path.join(self.log_dir, f"{v:020d}.json"))
            except FileNotFoundError:
                pass
        for cv in self._checkpoints():
            if cv < cutoff:
                try:
                    os.unlink(os.path.join(self.log_dir, f"{cv:020d}.ckpt.json"))
                except FileNotFoundError:
                    pass
        import shutil as _shutil

        for d in cdf_dirs:
            _shutil.rmtree(d, ignore_errors=True)
        self._cache = None  # cached history includes trimmed entries
        return len(expired)

    def version_at_timestamp(self, ts: dt.datetime | str) -> int:
        if isinstance(ts, str):
            ts = dt.datetime.fromisoformat(ts)
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=dt.timezone.utc)
        best = None
        for v in self.versions():
            snap_ts = dt.datetime.fromisoformat(self.read_snapshot(v)["timestamp"])
            if snap_ts <= ts:
                best = v
        if best is None:
            raise SnapshotNotFoundError(f"no snapshot at or before {ts.isoformat()}")
        return best

    # -- commit -------------------------------------------------------------

    def _stamp_row_ids(self, snapshot: dict) -> None:
        """Persist rowid lineage at commit time (ADVICE r7): each add
        entry gets its ``row_id_start`` stamped from the replayed state
        — where upstream DuckLake stores it in ``ducklake_data_file`` —
        so full-log replay, checkpoint replay, and pending-txn
        resolution all agree on ids. ``_apply``'s replay-order
        assignment remains the back-compat fallback for pre-r8 logs.
        Called once per commit attempt: a retry after a concurrent
        append re-stamps against the advanced log (the ``os.link``
        collision is what detects the race), and unresolved pending
        snapshots' persisted ranges are reserved by ``_apply``, so a
        racing two-phase transaction cannot overlap either."""
        try:
            nxt = self.replay().next_row_id
        except SnapshotNotFoundError:
            nxt = 0
        for d in snapshot["add"]:
            d["row_id_start"] = nxt
            nxt += d.get("rows", 0)

    def commit(
        self,
        snapshot: dict,
        validate: Callable[[TableState], None] | None = None,
        base_version: int | None = None,
        max_retries: int | None = None,
    ) -> int:
        """Atomically append ``snapshot`` as the next version.

        ``base_version`` is the snapshot the writer's work was computed
        against. Whenever the log has advanced past it — detected either
        up front or via an ``os.link`` id collision — ``validate(state)``
        re-checks the commit against the fresh state; it raises
        ConcurrentModificationError for true conflicts (e.g. files this
        commit removes were already removed) and returns for benign
        interleavings (concurrent appends), mirroring the reference's
        retryable-vs-fatal split in its commit path
        (src/pgducklake_metadata_manager.cpp:294-404).
        """
        os.makedirs(self.log_dir, exist_ok=True)
        for k, v in self.session_meta.items():
            if v is not None and snapshot.get(k) is None:
                snapshot[k] = v
        wait_ms, backoff = 10.0, 1.2
        policy_retries = None
        if self.retry_policy is not None:
            policy_retries, wait_ms, backoff = self.retry_policy()
        # An explicit caller limit wins over the wired policy (ADVICE
        # r8: the parameter was silently dead once a policy existed).
        if max_retries is None:
            max_retries = policy_retries if policy_retries is not None else 20
        for attempt in range(max_retries):
            latest = self.latest_version()
            if (
                validate is not None
                and base_version is not None
                and latest != base_version
            ):
                validate(self.replay())  # raises on true conflict
                base_version = latest
            if snapshot.get("add"):
                self._stamp_row_ids(snapshot)
            next_id = latest + 1
            snapshot["snapshot_id"] = next_id
            snapshot["timestamp"] = utcnow_iso()
            tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex}.json")
            with open(tmp, "w") as f:
                json.dump(snapshot, f)
            final = os.path.join(self.log_dir, f"{next_id:020d}.json")
            try:
                os.link(tmp, final)
                os.unlink(tmp)
                self.maybe_checkpoint(next_id)
                return next_id
            except FileExistsError:
                os.unlink(tmp)
                if validate is not None:
                    validate(self.replay())
                    if base_version is not None:
                        base_version = self.latest_version()
                time.sleep(wait_ms / 1000.0 * backoff**attempt)
        raise ConcurrentModificationError(
            f"commit failed after {max_retries} retries in {self.log_dir}"
        )


# --------------------------------------------------------------------------
# Parquet footer stats (per-commit, driver-side; only the files just
# written — bounded work per commit regardless of table size).


def _stat_to_json(v: Any) -> Any:
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, float) or isinstance(v, int) or isinstance(v, str):
        return v
    return str(v)


def collect_file_entries(
    table_dir: str,
    commit_rel_dir: str,
    begin_snapshot: int,
    fallback_counter: Callable[[str], int] | None = None,
) -> list[FileEntry]:
    """Scan a freshly written commit directory: one FileEntry per parquet
    file with row count, size, per-column min/max/null stats (footers
    only), and partition values parsed from hive-style path segments.

    ``fallback_counter`` supplies row counts for files whose footers
    pyarrow cannot parse (e.g. Spark VARIANT logical type)."""
    import pyarrow.parquet as pq

    entries: list[FileEntry] = []
    base = os.path.join(table_dir, commit_rel_dir)
    for root, _dirs, names in os.walk(base):
        for name in sorted(names):
            if not name.endswith(".parquet") or name.startswith((".", "_")):
                continue
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table_dir)
            try:
                pf = pq.ParquetFile(full)
                md = pf.metadata
            except Exception:
                if fallback_counter is None:
                    raise
                pvals = {}
                for seg in os.path.relpath(root, base).split(os.sep):
                    if "=" in seg:
                        k, _, val = seg.partition("=")
                        pvals[k] = val
                entries.append(
                    FileEntry(
                        path=rel,
                        rows=fallback_counter(full),
                        bytes=os.path.getsize(full),
                        stats={},
                        partition_values=pvals,
                        begin_snapshot=begin_snapshot,
                    )
                )
                continue
            stats: dict[str, dict[str, Any]] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    cname = col.path_in_schema
                    if "." in cname:  # nested leaves: skip, prune on top-level only
                        continue
                    try:
                        mn, mx = _stat_to_json(st.min), _stat_to_json(st.max)
                    except Exception:
                        continue  # footer stats unreadable for this type
                    cur = stats.setdefault(
                        cname, {"min": None, "max": None, "nulls": 0}
                    )
                    if cur["min"] is None or mn < cur["min"]:
                        cur["min"] = mn
                    if cur["max"] is None or mx > cur["max"]:
                        cur["max"] = mx
                    cur["nulls"] += st.null_count or 0
            pvals: dict[str, str] = {}
            for seg in os.path.relpath(root, base).split(os.sep):
                if "=" in seg:
                    k, _, val = seg.partition("=")
                    pvals[k] = val
            entries.append(
                FileEntry(
                    path=rel,
                    rows=md.num_rows,
                    bytes=os.path.getsize(full),
                    stats=stats,
                    partition_values=pvals,
                    begin_snapshot=begin_snapshot,
                )
            )
    return entries
