"""SparkSession helper tuned for this engine.

Scale notes (100 TB design): these settings are the local-mode analog of
what a 1000-executor deployment would set cluster-wide — AQE on (runtime
shuffle-partition coalescing + skew-join splitting), modest
shuffle-partition default for local runs, Arrow enabled so any Pandas-UDF
path is batched, and timestamps kept NTZ so parquet round-trips are
timezone-stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fast_scratch_dir(sub: str) -> str | None:
    """A tmpfs-backed scratch dir when the host has one, else None.

    Shuffle files and Python-channel unix sockets live in
    ``spark.local.dir`` / the UDS dir; on this sandbox the default
    /tmp sits on a virtio disk whose open/mmap syscalls dominate
    small-job latency (thread dumps showed executor tasks pinned in
    FileOutputStream.open0/FileChannelImpl.map0 — guide §7.3). tmpfs
    removes that. Production clusters point spark.local.dir at fast
    local disks for the same reason; honor an explicit override first.
    """
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None  # standard env override wins
    if os.environ.get("PG_DUCKLAKE_TMPFS_SCRATCH", "auto").lower() in ("off", "0", "false"):
        return None  # explicit opt-out (ADVICE r12)
    base = "/dev/shm"
    if not (os.path.isdir(base) and os.access(base, os.W_OK)):
        return None
    # tmpfs is RAM-backed: require real headroom so big shuffles/spills
    # don't fill it and OOM-pressure the host (ADVICE r12). Production
    # deployments should set SPARK_LOCAL_DIRS to fast local disks.
    try:
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize < 8 * 1024**3:
            return None
    except OSError:
        return None
    # per-user path: a second user on a shared host must not collide
    # with (and be locked out by) the first user's directory.
    uid = os.getuid() if hasattr(os, "getuid") else 0
    path = os.path.join(base, f"{sub}_{uid}")
    try:
        os.makedirs(path, exist_ok=True)
        if not os.access(path, os.W_OK):
            return None
    except OSError:
        return None
    return path


def get_spark(app_name: str = "pg_ducklake_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a local SparkSession with sane analytic defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Python workers (Pandas UDFs, Python data sources) must be able to
    # import this package; propagate the repo root before the JVM forks.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    shuffle = max(4, min(64, cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Disable Python-side call-site capture (upstream conf,
        # SPARK-44100 family): with it on, EVERY DataFrame/Column API
        # call does ~8 extra py4j RPCs (resolve PySparkCurrentOrigin,
        # conf.get the stack depth, set + clear) purely to enrich error
        # messages with the user line number. Measured here: F.col went
        # 13 -> 3 RPCs, whole query builds roughly halved their RPC
        # count. Diagnostic metadata only — plans and results are
        # identical.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Python data plane over unix domain sockets (Spark 4.1,
        # spark.python.unix.domain.socket.enabled): collect /
        # createDataFrame / accumulator / Python-worker channels skip
        # the TCP loopback stack entirely — on this sandbox a loopback
        # TCP segment costs ~0.5-6 ms (userspace-proxied), so every
        # collect() paid a multi-segment handshake tax. UDS also
        # removes the per-connection auth-secret round trip cost from
        # the hot path. Semantics unchanged (upstream-supported conf).
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local-mode split sizing. Parquet splits are assigned whole row
        # groups (by row-group midpoint), and the sf fixtures hold ONE row
        # group per file, so 4 MB splits do not spread their scans: sf0.1
        # lineitem (~10 MB) plans 3 partitions and one of them reads all
        # 600,000 rows while the other two read nothing. The split only
        # parallelises files written with many row groups. (On a real
        # cluster with properly sized files, keep the default.)
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
        # Generated-class cache (a Guava LRU keyed by the generated
        # source; default 100 entries). The plan library's working set is
        # ~2.1k distinct classes at sf0.001 (olap_sweep alone: ~220), so
        # at 100 every class was evicted before its next use and each
        # warm pass recompiled it: 2.7k compiles per library pass, ~200
        # per olap_sweep pass. Guava splits the bound over its 4 segments,
        # so 4096 leaves ~2x headroom per segment (2048 still evicted half
        # the classes); warm library passes then compile 1-2% of the first,
        # all from queries whose generated source changes per build, and
        # olap_sweep compiles none. Static conf: it must be set here.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # TIME columns (types.sql native tier) need the 4.x feature flag
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    local_dir = _fast_scratch_dir("pg_ducklake_spark_local")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    uds_dir = _fast_scratch_dir("pg_ducklake_spark_uds")
    if uds_dir:
        builder = builder.config("spark.python.unix.domain.socket.dir", uds_dir)
    return builder.getOrCreate()
