"""Query-plan library: the engine's analytic surface, oracle-paired.

Every public query is registered here as ``name -> fn(spark, sf_dir) ->
DataFrame`` together with (where SQL-expressible) a DuckDB oracle SQL
string computing the same result on the same parquet tables. The driver
(and ``tools/check_correctness.py``) runs both sides and compares
row-count + schema + order-insensitive value hashes, so every query is
written to produce *identical* values and column names on both engines
(explicit aliases, explicit casts, rounding of float aggregates).

Modules register via the ``@query`` decorator at import time.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pg_ducklake_spark.operators import persist_scope

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def query(name: str, oracle: str | None = None):
    """Register a query plan and (optionally) its DuckDB oracle SQL."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            with persist_scope(name, sf_dir):
                return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic test table (see TESTDATA.md).

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; read it as raw nanos (legacy conf) and rebuild a
    TIMESTAMP_NTZ via integer microsecond arithmetic — timezone-free and
    truncating exactly like DuckDB's nanos→micros read.

    The returned DataFrame is memoized per (session, sf_dir, name):
    DataFrames are immutable lazy plans, so sharing one object across
    queries only skips the repeated parquet-footer schema inference —
    scans still re-read the files at execution.
    """
    key = (id(spark), sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, sf_dir, name)
    # Probe tag for rebalance(): scan partition count depends only on
    # the file set and the split confs, so probes of (projections of)
    # this frame can be memoized per (session, table, split conf).
    df._graft_probe = (sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, CAST(ts DIV 1000 AS BIGINT),"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return spark.read.parquet(path)


_PROBE_CACHE: dict = {}


def rebalance(
    df: DataFrame,
    partitions: int | None = None,
    src: DataFrame | None = None,
) -> DataFrame:
    """Spread a small single-file scan across the cluster before a heavy
    per-row transform chain.

    Spark fuses everything up to the first exchange into the scan stage,
    and a single-row-group parquet file scans as ONE task — so an
    expensive fused chain (tokenize → shingle → explode → hash) runs on
    one core while the rest idle. Round-robin-shuffling the *raw* rows
    first is cheap (pre-explode, pre-transform) and buys full
    parallelism for the chain. On a production lake the writer emits
    many properly-sized files and scans are already parallel — and in
    that case (r7) the repartition is SKIPPED: when the scan already
    plans at least half the cluster's parallelism in input splits, the
    round-robin shuffle is a pure data-proportional cost that buys
    nothing (measured: it was ~0.7 s of stats_hll_distinct's time on a
    32-row-group 10M-row file). The partition probe is metadata-only
    (file-split planning, no job).
    """
    spark = df.sparkSession
    sc = spark.sparkContext
    target = partitions or sc.defaultParallelism
    # The probe (df.rdd.getNumPartitions()) costs a full physical plan
    # + JavaRDD setup (~50-120 ms of driver time) per BUILD; its answer
    # depends only on the scanned file set and the split confs, so for
    # frames rooted at a t() table (src tags the base frame when the
    # caller passes a projection — split planning ignores projections
    # and filters) it is memoized per (session, table, split size).
    probe = src if src is not None else df
    tag = getattr(probe, "_graft_probe", None)
    key = cur = None
    if tag is not None:
        # No fallback argument here: Spark 4 validates the fallback
        # string against the conf's byte type, so an unparseable
        # sentinel ("" — the r12 gate failure) raises
        # INVALID_CONF_VALUE.TYPE_MISMATCH on any session where the
        # conf was never set (the driver's plain-session oracle
        # harness). A bare get returns the session's effective default;
        # if even that throws, any stable string keeps the memo keyed.
        try:
            mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
        except Exception:
            mpb = "<default>"
        # applicationId is unique per context, so entries never alias
        # across sessions.
        key = (sc.applicationId, tag, mpb)
        cur = _PROBE_CACHE.get(key)
    if cur is None:
        try:
            cur = probe.rdd.getNumPartitions()
        except Exception:  # non-scan inputs: keep the old unconditional path
            cur = 1
        if key is not None:
            _PROBE_CACHE[key] = cur
    if cur * 2 >= target:
        return df
    return df.repartition(target)


# Import for registration side effects (order = display order).
from pg_ducklake_spark.plans import tpch  # noqa: E402,F401
from pg_ducklake_spark.plans import tpch2  # noqa: E402,F401
from pg_ducklake_spark.plans import analytics  # noqa: E402,F401
from pg_ducklake_spark.plans import relational  # noqa: E402,F401
from pg_ducklake_spark.plans import advanced  # noqa: E402,F401
from pg_ducklake_spark.plans import timeseries  # noqa: E402,F401
from pg_ducklake_spark.plans import pipeline  # noqa: E402,F401
from pg_ducklake_spark.plans import stats  # noqa: E402,F401
from pg_ducklake_spark.plans import relational2  # noqa: E402,F401
from pg_ducklake_spark.plans import dedup  # noqa: E402,F401
from pg_ducklake_spark.plans import similarity  # noqa: E402,F401
from pg_ducklake_spark.plans import text  # noqa: E402,F401
from pg_ducklake_spark.plans import multimodal  # noqa: E402,F401
from pg_ducklake_spark.plans import lakeops  # noqa: E402,F401
from pg_ducklake_spark.plans import clickbench  # noqa: E402,F401
from pg_ducklake_spark.plans import pii  # noqa: E402,F401
from pg_ducklake_spark.plans import funnel  # noqa: E402,F401
from pg_ducklake_spark.plans import sampling  # noqa: E402,F401
from pg_ducklake_spark.plans import dedup2  # noqa: E402,F401
from pg_ducklake_spark.plans import curation  # noqa: E402,F401
from pg_ducklake_spark.plans import semdedup  # noqa: E402,F401
from pg_ducklake_spark.plans import sketches  # noqa: E402,F401
from pg_ducklake_spark.plans import graph  # noqa: E402,F401
from pg_ducklake_spark.plans import pgsurface  # noqa: E402,F401
from pg_ducklake_spark.plans import retrieval  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "TABLES", "query", "t"]
