"""Mirrors freeze.sql / fdw.sql / frozen_fdw.sql: freeze round trip,
attach (read-only FDW analog), hybrid joins across lakes, write
rejection; transaction batching; concurrency commit-retry
(isolation specs)."""

import threading

import duckdb
import pytest
from pyspark.sql import functions as F

from pg_ducklake_spark import Lake
from pg_ducklake_spark.errors import (
    ConcurrentModificationError,
    LakeError,
    ReadOnlyError,
)


@pytest.fixture()
def filled(spark, lake):
    lake.create_table("t", "a int, b string", options={"data_inlining_row_limit": 5})
    lake.insert(
        "t", spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], "a int, b string")
    )
    lake.insert_rows("t", [{"a": 4, "b": "inline"}])
    return lake


def test_freeze_round_trip(spark, filled, tmp_path):
    """freeze.sql:12-27 — export, reopen standalone, same rows."""
    out = str(tmp_path / "meta.ducklake")
    filled.freeze(out)
    frozen = Lake.attach_frozen(spark, out)
    assert frozen.list_tables() == ["t"]
    got = sorted((r.a, r.b) for r in frozen.table("t").collect())
    assert got == [(1, "x"), (2, "y"), (3, "z"), (4, "inline")]
    # frozen file is a plain DuckDB database any client can open
    con = duckdb.connect(out, read_only=True)
    tables = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    assert {"ducklake_snapshot", "ducklake_table", "ducklake_column",
            "ducklake_data_file", "ducklake_metadata"} <= tables
    n = con.execute("SELECT COUNT(*) FROM ducklake_snapshot").fetchone()[0]
    assert n == filled.current_snapshot("t")


def test_frozen_rejects_writes(spark, filled, tmp_path):
    out = str(tmp_path / "meta.ducklake")
    filled.freeze(out)
    frozen = Lake.attach_frozen(spark, out)
    with pytest.raises(ReadOnlyError):
        frozen.delete("t", "a = 1")
    with pytest.raises(ReadOnlyError):
        frozen.create_table("x", "a int")


def test_freeze_existing_target_fails(filled, tmp_path):
    out = str(tmp_path / "meta.ducklake")
    filled.freeze(out)
    with pytest.raises(LakeError):
        filled.freeze(out)


def test_attach_read_only(spark, filled):
    """fdw.sql — attach an existing lake; reads work, DML blocked."""
    other = Lake.attach(spark, filled.path, read_only=True)
    assert other.list_tables() == ["t"]
    assert other.table("t").count() == 4
    with pytest.raises(ReadOnlyError):
        other.insert("t", spark.createDataFrame([(9, "n")], "a int, b string"))
    with pytest.raises(ReadOnlyError):
        other.update("t", {"b": "'n'"}, "a = 1")


def test_hybrid_join_across_lakes(spark, filled, tmp_path):
    """fdw.sql:34-49 — join managed × foreign tables."""
    lake2 = Lake(spark, str(tmp_path / "lake2"))
    lake2.create_table("dim", "a int, label string")
    lake2.insert(
        "dim", spark.createDataFrame([(1, "one"), (3, "three")], "a int, label string")
    )
    joined = (
        filled.table("t")
        .join(F.broadcast(lake2.table("dim")), "a")
        .select("a", "b", "label")
    )
    assert sorted((r.a, r.label) for r in joined.collect()) == [(1, "one"), (3, "three")]


def test_transaction_batches_one_snapshot(spark, filled):
    """transaction.sql — BEGIN..COMMIT maps to one commit per table."""
    v = filled.current_snapshot("t")
    with filled.transaction():
        filled.insert("t", spark.createDataFrame([(10, "a")], "a int, b string"))
        filled.insert("t", spark.createDataFrame([(11, "b")], "a int, b string"))
    assert filled.current_snapshot("t") == v + 1
    assert filled.table("t").count() == 6


def test_transaction_rollback_invisible(spark, filled):
    """transaction.sql rollback: nothing staged becomes visible."""
    v = filled.current_snapshot("t")
    with pytest.raises(RuntimeError):
        with filled.transaction():
            filled.insert("t", spark.createDataFrame([(10, "a")], "a int, b string"))
            raise RuntimeError("abort")
    assert filled.current_snapshot("t") == v
    assert filled.table("t").count() == 4
    # staged orphan files are GC-able
    assert filled.cleanup_old_files("t") >= 1
    assert filled.table("t").count() == 4


def test_concurrent_appends_retry(spark, tmp_path):
    """concurrent_writes.spec — both commits land, with retried
    snapshot ids; no lost updates."""
    root = str(tmp_path / "lake")
    lake1 = Lake(spark, root)
    lake1.create_table("t", "a int", options={"data_inlining_row_limit": 1000})
    lake2 = Lake.attach(spark, root, read_only=False)
    errs = []

    def writer(lk, base):
        try:
            for i in range(10):
                lk.insert_rows("t", [{"a": base + i}])
        except Exception as e:  # pragma: no cover
            errs.append(e)

    th1 = threading.Thread(target=writer, args=(lake1, 0))
    th2 = threading.Thread(target=writer, args=(lake2, 100))
    th1.start(); th2.start(); th1.join(); th2.join()
    assert not errs
    vals = sorted(r.a for r in lake1.table("t").collect())
    assert vals == sorted(list(range(10)) + list(range(100, 110)))
    assert lake1.current_snapshot("t") == 21  # 1 create + 20 inserts, dense ids


def test_conflicting_rewrites_raise(spark, tmp_path):
    """A true write-write conflict (two rewrites of the same files) must
    raise, not silently drop one side (concurrent_cross_table_writes.spec:
    no duplicate/lost rows). Orchestrated deterministically: writer 2
    computes its rewrite against a stale state, then lake1's DELETE lands
    first — writer 2's commit must detect its base moved and abort."""
    root = str(tmp_path / "lake")
    lake1 = Lake(spark, root)
    lake1.create_table("t", "a int")
    lake1.insert("t", spark.createDataFrame([(i,) for i in range(10)], "a int"))
    lake2 = Lake.attach(spark, root, read_only=False)
    stale = lake2._state("t")
    stale_files = sorted(stale.files)
    stale_version = stale.snapshot_id
    assert lake1.delete("t", "a < 3") == 3  # rewrites all files
    with pytest.raises(ConcurrentModificationError):
        lake2._commit_dml(
            "t",
            stale,
            operation="DELETE",
            add=[],
            remove=stale_files,
            inline_remove=[],
            inline_changes=[],
            metrics={"num_deleted": 5},
            cdf_path=None,
            message=None,
        )
    del stale_version
    # and the appends-after case still works: a fresh delete sees the new
    # state and succeeds
    assert lake2.delete("t", "a < 5") == 2


def _hammer_inline_inserts(args):
    """Child-process worker: the inline insert path is Spark-free, so
    real OS processes exercise the hard-link commit protocol."""
    lake_path, worker, n = args
    import sys

    sys.path.insert(0, "/root/repo")
    from pg_ducklake_spark import Lake

    lake = Lake.__new__(Lake)  # no SparkSession needed on this path
    import os as _os

    lake.spark = None
    lake.path = lake_path
    lake.read_only = False
    lake.as_of_timestamp = None
    lake.author = f"worker-{worker}"
    lake.commit_extra_info = None
    lake._logs = {}
    lake._txn = None
    for i in range(n):
        lake.insert_rows("t", [{"a": worker * 1000 + i}])
    return worker


def test_concurrent_writers_across_processes(spark, tmp_path):
    """8 real processes × 10 commits each race on one table: every row
    lands exactly once and the snapshot log is contiguous — the
    isolation contract of concurrent_writes.spec, but cross-process
    (os.link atomicity, not thread luck)."""
    import multiprocessing as mp

    from pg_ducklake_spark import Lake

    lake = Lake(spark, str(tmp_path / "lake"))
    lake.create_table("t", "a int", options={"data_inlining_row_limit": 100})
    with mp.get_context("spawn").Pool(8) as pool:
        pool.map(_hammer_inline_inserts, [(lake.path, w, 10) for w in range(8)])
    state = lake._state("t")
    vals = sorted(r["values"]["a"] for r in state.inline_rows)
    assert len(vals) == 80 and len(set(vals)) == 80
    # contiguous versions: create + 80 commits, none lost or skipped
    assert state.snapshot_id == 81
    assert lake._log("t").versions() == list(range(1, 82))


def test_frozen_lake_over_http(spark, filled, tmp_path):
    """frozen_fdw.sql + src/pgducklake_fdw.cpp:14-16,84-88 — a frozen
    lake attaches from an http(s) URL: the .ducklake spools once, data
    files mirror locally on first table access, rows match the source
    lake exactly (including DV-deleted rows staying deleted)."""
    import functools
    import http.server
    import socketserver

    filled.delete("t", "a = 2")  # leave a delete file in the snapshot
    root = filled.path
    filled.freeze(f"{root}/frozen.ducklake")

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(root)
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        th = threading.Thread(target=httpd.serve_forever, daemon=True)
        th.start()
        try:
            frozen = Lake.attach_frozen(
                spark, f"http://127.0.0.1:{port}/frozen.ducklake"
            )
            assert frozen.list_tables() == ["t"]
            got = sorted((r.a, r.b) for r in frozen.table("t").collect())
            assert got == [(1, "x"), (3, "z"), (4, "inline")]
            with pytest.raises(ReadOnlyError):
                frozen.delete("t", "a = 1")
        finally:
            httpd.shutdown()


def test_frozen_http_requires_http_data_root(spark):
    from pg_ducklake_spark.freeze import FrozenLake

    with pytest.raises(LakeError, match="http"):
        FrozenLake(spark, "http://127.0.0.1:1/x.ducklake", data_root="/local/path")


def _two_tables(spark, lake):
    for n in ("ta", "tb"):
        lake.create_table(n, "a int")
        lake.insert(n, spark.createDataFrame([(1,)], "a int"))
    return lake


def test_multi_table_txn_atomic_commit(spark, lake):
    """explicit_transaction_commit.spec — a BEGIN..COMMIT touching two
    tables becomes visible all-at-once via one marker flip."""
    import os as _os

    from pg_ducklake_spark.catalog import TXN_DIR

    _two_tables(spark, lake)
    with lake.transaction():
        lake.insert("ta", spark.createDataFrame([(2,)], "a int"))
        lake.insert("tb", spark.createDataFrame([(3,)], "a int"))
    assert lake.table("ta").count() == 2
    assert lake.table("tb").count() == 2
    markers = _os.listdir(_os.path.join(lake.path, TXN_DIR))
    assert len(markers) == 1 and markers[0].endswith(".commit")
    # a fresh attach (cold replay, separate log objects) agrees
    fresh = Lake.attach(spark, lake.path)
    assert fresh.table("ta").count() == 2
    assert fresh.table("tb").count() == 2


def test_multi_table_txn_crash_is_all_or_nothing(spark, lake, monkeypatch):
    """Crash injected between the two phase-1 commits: NEITHER table's
    rows are visible (the pending snapshot has no marker), matching the
    spec's neither-or-both contract."""
    from pg_ducklake_spark.catalog import SnapshotLog

    _two_tables(spark, lake)
    real_commit = SnapshotLog.commit
    calls = {"n": 0}

    def crashing_commit(self, snapshot, **kw):
        if snapshot.get("txn_pending") is not None:
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash between table commits")
        return real_commit(self, snapshot, **kw)

    monkeypatch.setattr(SnapshotLog, "commit", crashing_commit)
    with pytest.raises(OSError, match="injected"):
        with lake.transaction():
            lake.insert("ta", spark.createDataFrame([(2,)], "a int"))
            lake.insert("tb", spark.createDataFrame([(3,)], "a int"))
    monkeypatch.undo()
    # same session AND a cold fresh attach: no partial visibility
    assert lake.table("ta").count() == 1
    assert lake.table("tb").count() == 1
    fresh = Lake.attach(spark, lake.path)
    assert fresh.table("ta").count() == 1
    assert fresh.table("tb").count() == 1
    # and the lake keeps working: a new clean txn commits both
    with lake.transaction():
        lake.insert("ta", spark.createDataFrame([(4,)], "a int"))
        lake.insert("tb", spark.createDataFrame([(5,)], "a int"))
    assert lake.table("ta").count() == 2
    assert lake.table("tb").count() == 2


def test_pending_txn_resolves_in_cached_reader(spark, lake):
    """A reader that replayed past an unresolved pending snapshot picks
    the data up as soon as the marker lands (cache invalidation)."""
    import os as _os
    import uuid as _uuid

    from pg_ducklake_spark.catalog import TXN_DIR

    _two_tables(spark, lake)
    txn_id = _uuid.uuid4().hex
    log = lake._log("ta")
    entries = [
        e.to_json()
        for e in lake._write_data(
            lake._table_dir("ta"),
            spark.createDataFrame([(9,)], "a int"),
            [],
            schema=lake._state("ta").schema,
            options=lake.options("ta"),
        )
    ]
    log.commit({"operation": "INSERT", "add": entries,
                "metrics": {}, "txn_pending": txn_id})
    assert lake.table("ta").count() == 1  # pending: invisible, cached
    marker_dir = _os.path.join(lake.path, TXN_DIR)
    _os.makedirs(marker_dir, exist_ok=True)
    open(_os.path.join(marker_dir, f"{txn_id}.commit"), "w").close()
    assert lake.table("ta").count() == 2  # marker landed: visible


def test_pending_txn_fold_resolves_in_cached_reader(spark, lake):
    """ADVICE r11: replay's invalidation probe checked only the marker
    FILE — but gc_txn_markers (in another process) folds the outcome
    into the snapshot json and unlinks the marker, so a reader that
    cached before the fold would miss the landing forever (stale state
    + its _cache_unresolved entry permanently disabling the df/dv
    caches). Replay must also re-read the skipped snapshot: a folded
    commit sheds its txn_pending tag."""
    import os as _os
    import uuid as _uuid

    from pg_ducklake_spark.catalog import TXN_DIR

    _two_tables(spark, lake)
    txn_id = _uuid.uuid4().hex
    log = lake._log("ta")
    entries = [
        e.to_json()
        for e in lake._write_data(
            lake._table_dir("ta"),
            spark.createDataFrame([(9,)], "a int"),
            [],
            schema=lake._state("ta").schema,
            options=lake.options("ta"),
        )
    ]
    log.commit({"operation": "INSERT", "add": entries,
                "metrics": {}, "txn_pending": txn_id})
    assert lake.table("ta").count() == 1  # pending: invisible, cached
    assert lake._log("ta").has_unresolved()
    # "another process": the marker lands AND is gc-folded (marker file
    # unlinked, outcome baked into the snapshot) before our next read
    marker_dir = _os.path.join(lake.path, TXN_DIR)
    _os.makedirs(marker_dir, exist_ok=True)
    open(_os.path.join(marker_dir, f"{txn_id}.commit"), "w").close()
    other = Lake.attach(spark, lake.path)
    assert other.gc_txn_markers() == 1
    assert not _os.listdir(marker_dir)
    # cached reader: no marker file exists anymore, but the folded
    # snapshot must still be detected and the committed row served
    assert lake.table("ta").count() == 2
    assert not lake._log("ta").has_unresolved()  # caching re-enabled


def test_aborted_txn_fold_clears_cached_reader_unresolved(spark, lake):
    """Abort-side twin of the fold test: a folded abort rewrites the
    skipped snapshot as an effect-free ROLLBACK — the cached reader's
    visibility is already correct, but its unresolved entry must clear
    so (table, snapshot, epoch)-keyed caches re-enable."""
    import os as _os
    import uuid as _uuid

    from pg_ducklake_spark.catalog import TXN_DIR

    _two_tables(spark, lake)
    txn_id = _uuid.uuid4().hex
    log = lake._log("ta")
    entries = [
        e.to_json()
        for e in lake._write_data(
            lake._table_dir("ta"),
            spark.createDataFrame([(9,)], "a int"),
            [],
            schema=lake._state("ta").schema,
            options=lake.options("ta"),
        )
    ]
    pend_v = log.commit({"operation": "INSERT", "add": entries,
                         "metrics": {}, "txn_pending": txn_id})
    assert lake.table("ta").count() == 1
    assert lake._log("ta").has_unresolved()
    marker_dir = _os.path.join(lake.path, TXN_DIR)
    _os.makedirs(marker_dir, exist_ok=True)
    open(_os.path.join(marker_dir, f"{txn_id}.abort"), "w").close()
    other = Lake.attach(spark, lake.path)
    assert other.gc_txn_markers() == 1
    assert lake.table("ta").count() == 1  # still invisible (aborted)
    assert not lake._log("ta").has_unresolved()
    snap = lake._log("ta").read_snapshot(pend_v)
    assert snap.get("operation") == "ROLLBACK"


def test_frozen_http_partitioned_table(spark, lake, tmp_path):
    """Partitioned tables freeze into nested data paths; the http mirror
    must recreate the layout (URL path joining + makedirs per level)."""
    import functools
    import http.server
    import socketserver

    lake.create_table("pt", "k int, cat string", partition_by=["cat"])
    lake.insert(
        "pt",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a"), (4, "c")], "k int, cat string"
        ),
    )
    lake.freeze(f"{lake.path}/pfrozen.ducklake")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(lake.path)
    )
    with socketserver.TCPServer(("127.0.0.1", 0), handler) as httpd:
        port = httpd.server_address[1]
        threading.Thread(target=httpd.serve_forever, daemon=True).start()
        try:
            frozen = Lake.attach_frozen(
                spark, f"http://127.0.0.1:{port}/pfrozen.ducklake"
            )
            got = sorted((r.k, r.cat) for r in frozen.table("pt").collect())
            assert got == [(1, "a"), (2, "b"), (3, "a"), (4, "c")]
        finally:
            httpd.shutdown()


def test_snapshot_author_and_extra_info(spark, tmp_path):
    """Snapshot provenance parity (ducklake_snapshot_changes author /
    commit_message / commit_extra_info,
    src/pgducklake_metadata_manager.cpp:735): stamped on commits,
    surfaced by snapshots(), exported by freeze."""
    lake = Lake(spark, str(tmp_path / "prov"), author="etl_bot")
    lake.create_table("t", "a int")
    lake.commit_extra_info = '{"job": 17}'
    lake.insert(
        "t", spark.createDataFrame([(1,)], "a int"), message="load batch"
    )
    snaps = {r.snapshot_id: r for r in lake.snapshots("t").collect()}
    last = snaps[lake.current_snapshot("t")]
    assert last.author == "etl_bot"
    assert last.commit_message == "load batch"
    assert last.commit_extra_info == '{"job": 17}'
    # SET/SHOW GUC surface
    lake.execute("SET ducklake.author = 'alice'")
    lake.execute("INSERT INTO t VALUES (2)")
    rows = lake.snapshots("t").collect()
    assert rows[-1].author == "alice"
    assert lake.execute("SHOW ducklake.author").collect()[0][0] == "alice"
    # freeze carries all three columns
    out = str(tmp_path / "prov.ducklake")
    lake.freeze(out)
    con = duckdb.connect(out, read_only=True)
    got = con.execute(
        "SELECT author, commit_message, commit_extra_info FROM"
        " ducklake_snapshot WHERE commit_message = 'load batch'"
    ).fetchone()
    assert got == ("etl_bot", "load batch", '{"job": 17}')


def test_phase1_failure_writes_abort_marker(spark, lake, monkeypatch):
    """A phase-1 crash leaves a durable .abort record so checkpoints
    are not deferred for the whole marker window and replays skip the
    orphaned pending snapshots immediately."""
    import os as _os

    from pg_ducklake_spark.catalog import TXN_DIR, SnapshotLog

    _two_tables(spark, lake)
    real_commit = SnapshotLog.commit
    calls = {"n": 0}

    def crashing_commit(self, snapshot, **kw):
        if snapshot.get("txn_pending") is not None:
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash")
        return real_commit(self, snapshot, **kw)

    monkeypatch.setattr(SnapshotLog, "commit", crashing_commit)
    with pytest.raises(OSError):
        with lake.transaction():
            lake.insert("ta", spark.createDataFrame([(2,)], "a int"))
            lake.insert("tb", spark.createDataFrame([(3,)], "a int"))
    monkeypatch.undo()
    markers = _os.listdir(_os.path.join(lake.path, TXN_DIR))
    assert any(m.endswith(".abort") for m in markers)
    assert lake.table("ta").count() == 1


def test_txn_marker_gc_preserves_visibility(spark, lake):
    """vacuum GC folds marker outcomes into the snapshots and removes
    the marker files; visibility (including cold replay and time
    travel) is unchanged."""
    import os as _os

    from pg_ducklake_spark.catalog import TXN_DIR

    _two_tables(spark, lake)
    with lake.transaction():
        lake.insert("ta", spark.createDataFrame([(2,)], "a int"))
        lake.insert("tb", spark.createDataFrame([(3,)], "a int"))
    pre_version = lake.current_snapshot("ta")
    txn_dir = _os.path.join(lake.path, TXN_DIR)
    assert any(m.endswith(".commit") for m in _os.listdir(txn_dir))
    removed = lake.gc_txn_markers()
    assert removed == 1
    assert not _os.listdir(txn_dir)
    # visibility unchanged, cold replay agrees, time travel still works
    assert lake.table("ta").count() == 2
    fresh = Lake.attach(spark, lake.path)
    assert fresh.table("ta").count() == 2
    assert fresh.table("tb").count() == 2
    assert fresh.time_travel("ta", pre_version).count() == 2
    assert fresh.time_travel("ta", pre_version - 1).count() == 1


def test_committed_marker_drops_stale_checkpoints(spark, lake):
    """If a checkpoint rolled past a pending snapshot before its commit
    marker flipped (clock-skew race), the writer's post-marker sweep
    removes it so no replay can resurrect the exclusion."""
    import os as _os

    _two_tables(spark, lake)
    with lake.transaction():
        lake.insert("ta", spark.createDataFrame([(2,)], "a int"))
        lake.insert("tb", spark.createDataFrame([(3,)], "a int"))
    v = lake.current_snapshot("ta")
    log = lake._log("ta")
    # forge a stale checkpoint at the txn's version, as if a skewed
    # checkpointer had rolled past it pre-marker (excluding the txn)
    stale = lake._state("ta", v - 1)
    import json as _json

    from pg_ducklake_spark.catalog import state_to_json

    sj = state_to_json(stale)
    sj["snapshot_id"] = v
    with open(_os.path.join(log.log_dir, f"{v:020d}.ckpt.json"), "w") as f:
        _json.dump(sj, f)
    log._cache = None
    assert lake.table("ta").count() == 1  # poisoned by the stale ckpt
    log.drop_checkpoints_at_or_after(v)
    assert lake.table("ta").count() == 2  # full replay sees the marker


def test_frozen_scan_prunes_files(spark, lake, tmp_path):
    """The frozen export carries per-file column stats and partition
    values (ducklake_file_column_stats / ducklake_file_partition_value,
    src/pgducklake_freeze.cpp:42,48), so a filtered frozen read plans
    only the files whose min/max may match."""
    from pyspark.sql import functions as F

    from pg_ducklake_spark.freeze import FrozenLake, freeze_lake

    lake.create_table("t", "a int, s string")
    for lo in (0, 100, 200):
        lake.insert(
            "t",
            spark.range(lo, lo + 100)
            .select(
                F.col("id").cast("int").alias("a"),
                F.col("id").cast("string").alias("s"),
            )
            .coalesce(1),
        )
    out = str(tmp_path / "m.ducklake")
    freeze_lake(lake, out)
    frozen = FrozenLake(spark, out)
    assert len(frozen._table("t")["state"].files) == 3
    # metadata pruning: only one file may hold a >= 250
    assert len(frozen.prune_files("t", "a >= 250")) == 1
    assert len(frozen.prune_files("t", "a = 150")) == 1
    assert len(frozen.prune_files("t", "a < 1000")) == 3
    df = frozen.scan("t", "a >= 250")
    assert df.count() == 50
    assert len(df.inputFiles()) == 1, "pruned frozen scan still plans all files"
    # correctness unchanged vs the unpruned read
    full = frozen.table("t").filter("a >= 250").count()
    assert full == 50


def test_frozen_full_28_table_layout(spark, lake, tmp_path):
    """r7: the frozen file carries EVERY name of the reference's
    28-entry metadata_tables list (src/pgducklake_freeze.cpp:32-61),
    with the two in-flight tables frozen empty like the reference, and
    the change-set history of a DML sequence reconstructable from
    ducklake_snapshot_changes by a raw DuckDB client."""
    lake.create_table("ft", "k int, v string")
    lake.set_partition("ft", "k")
    lake.set_sort("ft", "v DESC")
    lake.insert(
        "ft",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ),
    )
    lake.update("ft", {"v": "'B'"}, "k = 2")
    lake.delete("ft", "k = 3")
    lake.rename_column("ft", "v", "val")
    out = str(tmp_path / "full.ducklake")
    lake.freeze(out)
    con = duckdb.connect(out, read_only=True)
    tables = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    reference_28 = {
        "ducklake_metadata", "ducklake_snapshot", "ducklake_snapshot_changes",
        "ducklake_schema", "ducklake_table", "ducklake_view", "ducklake_tag",
        "ducklake_column_tag", "ducklake_data_file",
        "ducklake_file_column_stats", "ducklake_delete_file",
        "ducklake_column", "ducklake_table_stats",
        "ducklake_table_column_stats", "ducklake_partition_info",
        "ducklake_partition_column", "ducklake_file_partition_value",
        "ducklake_files_scheduled_for_deletion",
        "ducklake_inlined_data_tables", "ducklake_column_mapping",
        "ducklake_name_mapping", "ducklake_schema_versions",
        "ducklake_macro", "ducklake_macro_impl", "ducklake_macro_parameters",
        "ducklake_sort_info", "ducklake_sort_expression",
        "ducklake_file_variant_stats",
    }
    assert len(reference_28) == 28
    assert reference_28 <= tables, sorted(reference_28 - tables)
    # in-flight tables frozen EMPTY (pgducklake_freeze.cpp:100-105)
    for t in ("ducklake_files_scheduled_for_deletion",
              "ducklake_inlined_data_tables"):
        assert con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] == 0
    # the DML sequence replays from ducklake_snapshot_changes alone
    ops = [
        r[0].split(":")[0]
        for r in con.execute(
            "SELECT changes_made FROM ducklake_snapshot_changes"
            " ORDER BY snapshot_id"
        ).fetchall()
    ]
    hist_ops = [r.operation for r in lake.snapshots("ft").orderBy("snapshot_id").collect()]
    assert ops == hist_ops and len(ops) >= 5
    # metrics ride along in changes_made: the insert row records rows=3
    ins = con.execute(
        "SELECT changes_made FROM ducklake_snapshot_changes"
        " WHERE changes_made ILIKE 'insert%'"
    ).fetchall()
    assert any("num_inserted=3" in r[0] for r in ins)
    # partition/sort expression side tables join like the reference's
    # SQL views (pg_ducklake--0.1.0.sql:226,267)
    pc = con.execute(
        "SELECT pc.column_id FROM ducklake_partition_info pi"
        " JOIN ducklake_partition_column pc ON pi.table_id = pc.table_id"
        " AND pi.partition_key_index = pc.partition_key_index"
    ).fetchall()
    assert pc == [(0,)]  # identity partition on column order 0 (k)
    se = con.execute(
        "SELECT expression, sort_direction FROM ducklake_sort_expression"
    ).fetchall()
    assert se and se[0][1].upper().startswith("DESC")
    # schema-version log: the rename bumped the version
    sv = con.execute(
        "SELECT count(DISTINCT schema_version) FROM ducklake_schema_versions"
    ).fetchone()[0]
    assert sv >= 2
    # column-mapping registry row for the renamed table
    cm = con.execute(
        "SELECT type FROM ducklake_column_mapping"
    ).fetchall()
    assert cm == [("map_by_name",)]
    con.close()
