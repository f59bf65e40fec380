"""``Lake`` — the PySpark-native lakehouse session object.

Replaces the reference's PostgreSQL-extension surface (SURVEY.md §2.A)
with one Python API over Parquet + the JSON snapshot log in
``catalog.py``:

- table lifecycle: create_table / CTAS / drop / alter (A1-A4)
- DML with row counts: insert / update / delete (dml_row_count.sql)
- direct-insert fast path + inline small-write buffer (A5, A20)
- snapshots, time travel, as-of session default (A16-A19)
- change feed with the 4 change_type values (A18)
- partitioning with year/month/day/hour transforms (A12-A13)
- sorted tables applied at compaction (A14-A15)
- vacuum (small-file merge), cleanup_old_files (A21-A22)
- freeze / attach interop (A23-A24), options (A26)

Every data-moving operation is a Spark job over DataFrames; the driver
only ever touches metadata (snapshot JSON, file lists, footer stats) —
never row data — so nothing here collapses at 100 TB.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import re
import shutil
import unicodedata
import urllib.parse
import uuid
from typing import Any, Callable, Iterable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_ducklake_spark.catalog import (
    CDF_DIR,
    DATA_DIR,
    DEFAULT_OPTIONS,
    TXN_DIR,
    FileEntry,
    SnapshotLog,
    TableState,
    collect_file_entries,
    from_json_value,
    to_json_value,
    utcnow_iso,
)
from pg_ducklake_spark.errors import (
    AccessControlError,
    LakeError,
    ReadOnlyError,
    SnapshotNotFoundError,
    TableAlreadyExistsError,
    TableNotFoundError,
)
from pg_ducklake_spark.operators.pruning import prune_files

_TRANSFORM_RE = re.compile(r"^(year|month|day|hour)\s*\(\s*(\w+)\s*\)$", re.I)
_BUCKET_RE = re.compile(r"^bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)$", re.I)
_SORT_RE = re.compile(
    r"^(?P<expr>.+?)(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?$",
    re.I,
)


def _os_user() -> str | None:
    try:
        import getpass

        return getpass.getuser()
    except Exception:
        return None


# DuckDB/PG type spellings Spark's DDL parser rejects → Spark types
# (reference type tiers: docs/data_types.md:10-50). Applied only when
# the native parse fails, so a column legitimately NAMED one of these
# words never gets rewritten under a valid schema.
_TYPE_SPELLINGS = [
    (re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE), "STRING"),
    (re.compile(r"\bTEXT\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bBYTEA\b", re.IGNORECASE), "BINARY"),
    (re.compile(r"\bBLOB\b", re.IGNORECASE), "BINARY"),
    (re.compile(r"\bINT8\b", re.IGNORECASE), "BIGINT"),
    (re.compile(r"\bINT4\b", re.IGNORECASE), "INT"),
    (re.compile(r"\bINT2\b", re.IGNORECASE), "SMALLINT"),
    (re.compile(r"\bFLOAT8\b", re.IGNORECASE), "DOUBLE"),
    (re.compile(r"\bFLOAT4\b", re.IGNORECASE), "FLOAT"),
    (re.compile(r"\bUUID\b", re.IGNORECASE), "STRING"),
    # types.sql:16-31 tiers. TIMESTAMPTZ → Spark TIMESTAMP (an
    # instant, session-TZ rendered — PG semantics); TIMETZ has no
    # Spark analog and maps to the text tier (the reference itself
    # stores non-native types as text,
    # src/pgducklake_direct_insert.cpp:848-888); bare INTERVAL →
    # day-time interval (parquet-native in Spark; a calendar-interval
    # column cannot be stored).
    (re.compile(r"\bTIMESTAMPTZ\b", re.IGNORECASE), "TIMESTAMP"),
    (
        re.compile(r"\bTIMESTAMP\s+WITH\s+TIME\s+ZONE\b", re.IGNORECASE),
        "TIMESTAMP",
    ),
    (re.compile(r"\bTIMETZ\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bTIME\s+WITH\s+TIME\s+ZONE\b", re.IGNORECASE), "STRING"),
    (
        re.compile(
            r"\bINTERVAL\b(?!\s+(?:DAY|HOUR|MINUTE|SECOND|YEAR|MONTH))",
            re.IGNORECASE,
        ),
        "INTERVAL DAY TO SECOND",
    ),
    # docs/data_types.md full matrix. DOUBLE PRECISION is PG's spelling
    # of float64; the unsigned tiers widen to the next signed type that
    # holds their range (the reference's own inlined-PG-column choice,
    # data_types.md:16-19); UBIGINT (2^64-1 < 10^38) fits DECIMAL(38,0)
    # exactly where the reference falls back to VARCHAR; HUGEINT /
    # UHUGEINT exceed DECIMAL(38,0)'s range, so they take the text tier
    # like the reference's inline path (data_types.md:20-21). JSON →
    # STRING (the JSON-string function family operates on it; VARIANT
    # is the typed alternative). TIMESTAMP_S/_MS are exact in
    # TIMESTAMP_NTZ micros; TIMESTAMP_NS would truncate, so it keeps
    # full fidelity as text. Geometry names (data_types.md:38-46, DuckDB
    # spatial) → WKT text tier.
    (re.compile(r"\bDOUBLE\s+PRECISION\b", re.IGNORECASE), "DOUBLE"),
    (re.compile(r"\bUTINYINT\b", re.IGNORECASE), "SMALLINT"),
    (re.compile(r"\bUSMALLINT\b", re.IGNORECASE), "INT"),
    (re.compile(r"\bUINTEGER\b", re.IGNORECASE), "BIGINT"),
    (re.compile(r"\bUBIGINT\b", re.IGNORECASE), "DECIMAL(38,0)"),
    (re.compile(r"\bUHUGEINT\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bHUGEINT\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bJSON\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bTIMESTAMP_NS\b", re.IGNORECASE), "STRING"),
    (re.compile(r"\bTIMESTAMP_(?:S|MS)\b", re.IGNORECASE), "TIMESTAMP_NTZ"),
    (
        re.compile(
            r"\b(?:MULTIPOINT|MULTILINESTRING|MULTIPOLYGON|"
            r"GEOMETRYCOLLECTION|LINESTRING|POLYGON|POINT)\b",
            re.IGNORECASE,
        ),
        "STRING",
    ),
]


# VARCHAR(n)/CHAR(n) parse into Spark char/varchar types that the
# runtime rejects outside pure-SQL plans (createDataFrame paths throw
# INTERNAL_ERROR unless preserveCharVarcharTypeInfo). The reference
# stores them as plain text (docs/data_types.md) — normalize always.
_CHAR_PARAM_RE = re.compile(r"\b(?:VARCHAR|CHAR|CHARACTER)\s*\(\s*\d+\s*\)",
                            re.IGNORECASE)


def _fix_interval_types(dtype: T.DataType) -> T.DataType:
    """Bare ``interval`` parses natively to CalendarIntervalType, which
    no storage format accepts — remap to the parquet-native day-time
    interval (types.sql INTERVAL tier)."""
    if isinstance(dtype, T.CalendarIntervalType):
        return T.DayTimeIntervalType()
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_fix_interval_types(dtype.elementType),
                           dtype.containsNull)
    if isinstance(dtype, T.MapType):
        return T.MapType(_fix_interval_types(dtype.keyType),
                         _fix_interval_types(dtype.valueType),
                         dtype.valueContainsNull)
    if isinstance(dtype, T.StructType):
        return T.StructType([
            T.StructField(f.name, _fix_interval_types(f.dataType),
                          f.nullable, metadata=f.metadata)
            for f in dtype.fields
        ])
    return dtype


def _split_coldefs(ddl: str) -> list[str]:
    """Split a DDL column list on top-level commas (commas inside
    ``(...)``, ``[...]`` and ``<...>`` — decimal params, struct/array
    types — do not split)."""
    parts, buf, depth = [], [], 0
    for c in ddl:
        if c in "([<":
            depth += 1
        elif c in ")]>":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
    parts.append("".join(buf))
    return parts


_COLDEF_NAME_RE = re.compile(
    r"(\s*)(`(?:[^`]|``)*`|\"[^\"]*\"|[A-Za-z_][A-Za-z0-9_]*)(\s*:?\s*)(.*)$",
    re.S,
)


def _normalize_type_spellings(ddl: str) -> str:
    """Apply the ``_TYPE_SPELLINGS`` fallback substitutions in TYPE
    position only: each top-level column definition's leading
    identifier is the column NAME and is left untouched, so a column
    named ``json`` or ``point`` combined with a non-native type no
    longer rewrites both tokens (ADVICE r6). Field names inside nested
    ``struct<...>`` types remain subject to the substitution — quote
    such names or avoid the reserved spellings there."""
    parts = []
    for coldef in _split_coldefs(ddl):
        m = _COLDEF_NAME_RE.match(coldef)
        if m:
            body = m.group(4)
            for pat, repl in _TYPE_SPELLINGS:
                body = pat.sub(repl, body)
            parts.append(m.group(1) + m.group(2) + m.group(3) + body)
        else:
            parts.append(coldef)
    return ",".join(parts)


# Bare TIMESTAMP is WITHOUT time zone in DuckDB/PG
# (docs/data_types.md:27); Spark's DDL parser reads it natively as
# TIMESTAMP_LTZ, which made TIMESTAMP and TIMESTAMPTZ indistinguishable
# and shifted wall-clock values under a non-UTC session timezone (e.g.
# 2024-03-10 02:30, inside the America/New_York DST gap, stored as
# 03:30). Because the native parse SUCCEEDS on the wrong type, this
# substitution must run unconditionally (unlike _TYPE_SPELLINGS, which
# only fire on parse failure) — in TYPE position only, via the same
# column-definition splitter, so a column NAMED timestamp is safe. The
# \b boundary leaves TIMESTAMPTZ / TIMESTAMP_NTZ / TIMESTAMP_LTZ /
# TIMESTAMP_NS untouched (word chars follow the P), and the first
# lookahead skips the WITH TIME ZONE spelling for the fallback rule
# above. The positive lookahead restricts the rewrite to TYPE positions:
# a type is followed by a delimiter (',' '>' ')' or end of the body) or
# by the NOT NULL / COMMENT suffix keywords. This skips FIELD-NAME
# positions inside struct<...> bodies in BOTH spellings — the colon form
# 's struct<timestamp: int>' (name followed by ':') and the colon-less
# form 's struct<timestamp int>' (name followed by whitespace + a type
# token), which an earlier (?!\s*:) guard missed, silently renaming the
# field (ADVICE r10). The coldef splitter only protects top-level
# column names, so this guard is what protects nested ones.
_TS_NTZ_RULE = (
    re.compile(
        r"\bTIMESTAMP\b(?!\s+WITH\s+TIME\s+ZONE)"
        r"(?=\s*(?:[,>)]|$)|\s+(?:NOT|COMMENT)\b)",
        re.IGNORECASE,
    ),
    "TIMESTAMP_NTZ",
)


def _timestamp_ntz_spelling(ddl: str) -> str:
    parts = []
    for coldef in _split_coldefs(ddl):
        m = _COLDEF_NAME_RE.match(coldef)
        if m:
            parts.append(
                m.group(1) + m.group(2) + m.group(3)
                + _TS_NTZ_RULE[0].sub(_TS_NTZ_RULE[1], m.group(4))
            )
        else:
            parts.append(coldef)
    return ",".join(parts)


def _parse_schema(schema: str | T.StructType) -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    # PG's long spelling first, so VARCHAR rules see both forms.
    schema = re.sub(
        r"\bCHARACTER\s+VARYING\b", "VARCHAR", schema, flags=re.IGNORECASE
    )
    schema = _CHAR_PARAM_RE.sub("STRING", schema)
    schema = _timestamp_ntz_spelling(schema)
    try:
        parsed = T.StructType.fromDDL(schema)
    except Exception:
        parsed = T.StructType.fromDDL(_normalize_type_spellings(schema))
    return _fix_interval_types(parsed)


def _partition_columns(spec: list[str]) -> list[tuple[str, Column]]:
    """Partition spec entries → (derived column name, expression).

    Identity columns are *duplicated* into a ``_p_`` prefixed column so
    the original stays inside the data files (reads use explicit file
    lists, not hive discovery). Transforms follow the reference's
    year/month/day/hour set (reference: src/pgducklake_partition.cpp:31-95,
    test/regression/sql/partition.sql:26).
    """
    out = []
    for entry in spec:
        b = _BUCKET_RE.match(entry.strip())
        if b:
            # Iceberg-style bucket(n, col): pmod(hash, n) — co-locates
            # rows by key so bucketed_join can join bucket-to-bucket
            # without a global shuffle (operators/colocated.py).
            n, col = int(b.group(1)), b.group(2)
            out.append((f"_p_bucket_{col}", F.pmod(F.hash(F.col(col)), F.lit(n))))
            continue
        m = _TRANSFORM_RE.match(entry.strip())
        if m:
            fn, col = m.group(1).lower(), m.group(2)
            out.append((f"_p_{fn}_{col}", getattr(F, fn)(F.col(col))))
        else:
            col = entry.strip()
            out.append((f"_p_{col}", F.col(col).cast("string")))
    return out


_INTERVAL_UNITS = {
    "second": 1, "minute": 60, "hour": 3600, "day": 86400,
    "week": 7 * 86400, "month": 30 * 86400, "year": 365 * 86400,
}


def _parse_interval(val) -> dt.timedelta:
    """PG-style interval option value → timedelta ('24 hours', '7 days';
    reference docs/settings.md:182-191)."""
    if isinstance(val, dt.timedelta):
        return val
    if isinstance(val, (int, float)):
        return dt.timedelta(seconds=val)
    m = re.match(r"^\s*(\d+(?:\.\d+)?)\s*([a-z]+?)s?\s*$", str(val).lower())
    if not m or m.group(2) not in _INTERVAL_UNITS:
        raise LakeError(f"cannot parse interval {val!r} (use e.g. '24 hours')")
    return dt.timedelta(seconds=float(m.group(1)) * _INTERVAL_UNITS[m.group(2)])


def _parse_sort_spec(entries: Iterable[str]) -> list[dict]:
    out = []
    for e in entries:
        m = _SORT_RE.match(e.strip())
        if not m:
            raise LakeError(f"cannot parse sort key {e!r}")
        direction = (m.group("dir") or "ASC").upper()
        nulls = (m.group("nulls") or ("LAST" if direction == "ASC" else "FIRST")).upper()
        out.append(
            {"expression": m.group("expr").strip(), "direction": direction,
             "null_order": nulls}
        )
    return out


def _sort_columns(spec: list[dict]) -> list[Column]:
    cols = []
    for s in spec:
        c = F.expr(s["expression"])
        if s["direction"] == "ASC":
            c = c.asc_nulls_first() if s["null_order"] == "FIRST" else c.asc_nulls_last()
        else:
            c = c.desc_nulls_first() if s["null_order"] == "FIRST" else c.desc_nulls_last()
        cols.append(c)
    return cols


def _quoted_spans(sql: str) -> list[tuple[int, int]]:
    """[start, end) spans of single-quoted strings, double-quoted
    identifiers, and ``--`` line comments. Quote escapes ('' / "")
    are honored."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'" or c == '"':
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:  # '' / "" escape
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        elif c == "-" and i + 1 < n and sql[i + 1] == "-":
            j = sql.find("\n", i)
            j = n if j < 0 else j
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def _sub_outside_quotes(
    sql: str, pattern: "re.Pattern[str]", repl: Callable
) -> str:
    """``pattern.sub(repl, sql)`` skipping matches that START inside a
    string literal, quoted identifier, or -- comment — regex rewrites
    (settings(), table-function binding) must never fire inside a
    literal like ``SELECT 'call settings() later'`` (ADVICE r8). A call
    whose *arguments* contain quoted strings still matches, since the
    match starts in plain SQL."""
    spans = _quoted_spans(sql)

    def guarded(m: "re.Match[str]") -> str:
        if any(s <= m.start() < e for s, e in spans):
            return m.group(0)
        return repl(m)

    return pattern.sub(guarded, sql)


# Types whose Python values PySpark converts through ``toInternal`` (an
# integer) before they reach the JVM. TIME exists from Spark 4.0.
_INTERNAL_INT_TYPES = tuple(
    t
    for t in (
        T.DateType, T.TimestampType, T.TimestampNTZType,
        T.DayTimeIntervalType, getattr(T, "TimeType", None),
    )
    if t is not None
)
# Spark rounds a decimal into its column type HALF_UP
# (``Decimal.set(BigDecimal, precision, scale)``); the precision only
# has to hold decimal(38, s).
_DECIMAL_CTX = decimal.Context(prec=80, rounding=decimal.ROUND_HALF_UP)


def _arrow_value(v: Any, dtype: T.DataType) -> Any:
    """``v`` as ``createDataFrame(list)`` hands it to the JVM."""
    if v is None:
        return None
    if isinstance(dtype, _INTERNAL_INT_TYPES):
        # A naive TimestampType value resolves in the process-local
        # time zone here, exactly as on the list path.
        return dtype.toInternal(v)
    if isinstance(dtype, T.DecimalType):
        return _DECIMAL_CTX.quantize(
            decimal.Decimal(v), decimal.Decimal(1).scaleb(-dtype.scale)
        )
    if isinstance(dtype, T.ArrayType):
        return [_arrow_value(x, dtype.elementType) for x in v]
    return v


def _arrow_storage_type(dtype: T.DataType):
    """Arrow type that holds ``_arrow_value`` output for ``dtype``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(dtype, T.DateType):
        return pa.int32()
    if isinstance(dtype, _INTERNAL_INT_TYPES):
        return pa.int64()
    if isinstance(dtype, T.ArrayType):
        return pa.list_(_arrow_storage_type(dtype.elementType))
    return to_arrow_type(dtype)


def _local_df(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """Driver-side rows as an Arrow-backed ``LocalRelation``.

    ``createDataFrame(list)`` plans a pickled Python-RDD scan, which
    runs a Python worker for every partition on every execution of
    every query over it. ``createDataFrame(pyarrow.Table)`` ships the
    rows to the JVM once and plans a ``LocalRelation``: no job, no
    worker. This branch does not read
    ``spark.sql.execution.arrow.pyspark.enabled``, so a stock session
    gets it too. Values are converted the way the list path converts
    them, so both collect equal. Struct, map and variant values are
    not handled (they are never inlined)."""
    import pyarrow as pa

    # createDataFrame casts the integer columns to their Arrow
    # temporal types (timestamps as UTC instants, left unshifted).
    table = pa.Table.from_arrays(
        [
            pa.array(
                [_arrow_value(r[i], f.dataType) for r in rows],
                type=_arrow_storage_type(f.dataType),
            )
            for i, f in enumerate(schema.fields)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema=schema)


# ------------------------------------------------------------- read path
#
# Every reader turns files and inline rows into rows through the
# functions below: live tables (Lake), frozen exports (FrozenLake), the
# change feed and DML. Each piece of data is mapped to the reader's
# schema through TableState.vintage, the one copy of the vintage rule.

# Above this many catalog-recorded deleted positions in one scan, the
# DV anti-join drops its broadcast hint (64M * 8 B packed keys ≈ 512 MB
# — comfortably under Spark's 8 GB broadcast hard limit and typical
# driver memory, while still broadcasting every vacuum-bounded
# steady-state DV).
DV_BROADCAST_MAX_POSITIONS = 64_000_000


def _by_vintage(
    state: TableState, schema: T.StructType, items: Iterable, begin_snapshot
) -> dict[tuple, list]:
    """``items`` grouped by ``state.vintage(schema, begin_snapshot(item))``.
    The group count is bounded by the ALTERs, not by the item count."""
    vintages: dict[int, tuple] = {}
    groups: dict[tuple, list] = {}
    for item in items:
        bs = begin_snapshot(item)
        if bs not in vintages:
            vintages[bs] = state.vintage(schema, bs)
        groups.setdefault(vintages[bs], []).append(item)
    return dict(sorted(groups.items(), key=lambda kv: repr(kv[0])))


def _fill(df: DataFrame, schema: T.StructType, fills) -> DataFrame:
    """Set each ``(column, initial_default)`` of ``fills`` on ``df``."""
    for c, expr in fills:
        df = df.withColumn(c, F.expr(expr).cast(schema[c].dataType))
    return df


def _union(parts: list[DataFrame]) -> DataFrame:
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def inline_values(values: dict, schema: T.StructType, phys) -> tuple:
    """One inline row's JSON ``values`` (keyed by the names of its
    vintage) under ``schema``, given that vintage's physical names."""
    return tuple(
        from_json_value(values.get(p) if p is not None else None, f.dataType)
        for f, p in zip(schema.fields, phys)
    )


def read_vintage(
    spark: SparkSession,
    paths: list[str],
    schema: T.StructType,
    vintage: tuple,
    extra: list[T.StructField] = (),
    meta: list[Column] = (),
) -> DataFrame:
    """Parquet files that share one ``vintage`` (``TableState.vintage``)
    as rows under ``schema``, followed by the ``extra`` fields (read as
    stored) and the ``meta`` columns (``_metadata`` of this scan, which
    must be taken before any union)."""
    phys, fills = vintage
    if phys == tuple(schema.names):
        df = spark.read.schema(
            T.StructType(list(schema.fields) + list(extra))
        ).parquet(*paths)
        if meta:
            df = df.select("*", *meta)
    else:
        # Read under the physical names, then alias back to the
        # current names; a column the vintage lacks reads NULL (or its
        # initial_default fill below).
        df = spark.read.schema(
            T.StructType(
                [
                    T.StructField(p, f.dataType, True)
                    for f, p in zip(schema.fields, phys)
                    if p is not None
                ]
                + list(extra)
            )
        ).parquet(*paths)
        df = df.select(
            *[
                F.col(p).alias(f.name)
                if p is not None
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f, p in zip(schema.fields, phys)
            ],
            *[F.col(x.name) for x in extra],
            *meta,
        )
    return _fill(df, schema, fills)


def read_files(
    spark: SparkSession,
    table_dir: str,
    state: TableState,
    schema: T.StructType,
    rels: list[str] | None = None,
    keep_meta: bool = False,
    dv_rows: DataFrame | None = None,
    dv_keys: Callable[[tuple, Callable[[], DataFrame]], DataFrame] | None = None,
    dv_broadcast_max: int = DV_BROADCAST_MAX_POSITIONS,
) -> DataFrame:
    """Data files of ``state`` (``rels`` only, when given; paths relative
    to ``table_dir``) under ``schema``, subtracting positional delete
    files (≙ ducklake_delete_file) via a broadcast anti-join on a packed
    (file id, _metadata.row_index) LONG — file ids resolved per row by a
    numeric ``_metadata.file_size`` join when the catalog sizes are
    unique, else by the file_path string (see the size_ok comment
    below). Files without a DV bypass the join entirely.

    ``dv_rows`` holds the deleted positions as (file, row_index) rows;
    when None they are read from the DV parquet files the state names.
    ``dv_keys(dvs, build)`` may return a cached packed key set in place
    of ``build()``; ``dvs`` is the scan's sorted (data file, DV path)
    pairs, which determine the set (``Lake`` caches it for full scans).
    ``keep_meta`` keeps ``_dl_fp`` / ``_dl_ri`` (file URI, row index)."""
    rels = sorted(state.files) if rels is None else sorted(rels)
    meta = [
        F.col("_metadata.file_path").alias("_dl_fp"),
        F.col("_metadata.row_index").alias("_dl_ri"),
    ]
    if not rels:
        df = _local_df(spark, [], schema)
        if keep_meta:
            df = df.withColumn("_dl_fp", F.lit(None).cast("string")).withColumn(
                "_dl_ri", F.lit(None).cast("long")
            )
        return df
    applicable = {f: d for f, d in state.dvs.items() if f in set(rels)}
    groups = _by_vintage(
        state, schema, rels, lambda r: state.files[r].begin_snapshot
    )
    # r11: the DV subtraction applies ONLY to files that have a DV
    # — clean files (the steady state after vacuum, and everything
    # a delete never touched) union straight through with zero
    # join machinery, so DV read overhead is proportional to the
    # DV'd file set, not the table. Previously every scan of a
    # table with ANY delete paid per-row _metadata.file_path
    # string materialization + a (string, long)-keyed anti-join
    # over all rows.
    dv_set = set(applicable)
    # r11b: resolve file ids on the probe side by joining on
    # _metadata.file_size (one LONG per row) instead of the
    # file_path string whenever the catalog-recorded sizes of this
    # scan's DV'd files are unique. A string join key forces an
    # UnsafeRow copy of the ~100-byte path per probe row — measured
    # ~0.7 s of pure overhead on a 10M-row masked scan where the
    # numeric form runs at the raw-scan floor (0.9 s → 0.23 s for
    # the resolve join; 1.25 s → 0.52 s full masked scan).
    # Uniqueness is checked driver-side against FileEntry.bytes
    # (recorded via os.path.getsize at commit, which is what
    # _metadata.file_size reports); any collision or missing size
    # falls back to the string-keyed form.
    fids = sorted(applicable)
    sizes = {
        r: state.files[r].bytes
        for r in fids
        if r in state.files and state.files[r].bytes
    }
    size_ok = (
        len(sizes) == len(fids)
        and len(set(sizes.values())) == len(fids)
        # the packed-key form needs _dl_fp when fid overflows the
        # pack (>8M DV'd files) — keep the string columns then
        and len(fids) < (1 << 23)
    )
    # The size-keyed join resolves file ids through
    # _metadata.file_size == FileEntry.bytes. That invariant holds
    # because bytes is recorded via os.path.getsize at commit — but
    # if any future registration path ever records bytes from
    # another source, the left join would yield a null _dl_fid and
    # the anti-join would silently KEEP deleted rows. Guard it here
    # with one stat per DV'd file (metadata-scale) and fall back to
    # the path-string join on any mismatch: wrong-but-slower is
    # acceptable, wrong-results-silently is not.
    if size_ok:
        try:
            size_ok = all(
                os.path.getsize(os.path.join(table_dir, r)) == sizes[r]
                for r in fids
            )
        except OSError:
            size_ok = False
    # Broadcast guard for the DV anti-join (the one read-path
    # construct with a hard cliff at scale): the packed key set is
    # 8 B per deleted position, and Spark's broadcast hard limit is
    # 8 GB — a mass DELETE between vacuums (e.g. 20% of a 10B-row
    # table = 2B positions = 16 GB packed) would OOM the driver.
    # The catalog records the cumulative DV position count per file
    # at commit, so the scan knows the total at plan time for free;
    # above the threshold (~512 MB packed) the hint is dropped and
    # the packed-LONG anti-join runs sort-merge/shuffled-hash under
    # AQE. The reference has no such cliff because DuckDB applies
    # delete files per-file (src/pgducklake_freeze.cpp:43).
    total_dv_positions = sum(int(d.get("deleted", 0)) for d in applicable.values())
    dv_bcast = total_dv_positions <= dv_broadcast_max
    dv_meta = (meta if keep_meta or not size_ok else meta[1:]) + (
        [F.col("_metadata.file_size").alias("_dl_sz")] if size_ok else []
    )
    parts, parts_dvd = [], []
    for vintage, group_rels in groups.items():
        clean = [r for r in group_rels if r not in dv_set]
        dvd = [r for r in group_rels if r in dv_set]
        if clean:
            parts.append(read_vintage(
                spark, [os.path.join(table_dir, p) for p in clean], schema,
                vintage, meta=meta if keep_meta else (),
            ))
        if dvd:
            parts_dvd.append(read_vintage(
                spark, [os.path.join(table_dir, p) for p in dvd], schema,
                vintage, meta=dv_meta,
            ))
    if parts_dvd:
        masked = _union(parts_dvd)
        if dv_rows is None:
            dv_rows = spark.read.schema(Lake._DV_SCHEMA).parquet(
                *sorted(
                    {os.path.join(table_dir, d["path"]) for d in applicable.values()}
                )
            )
        dv = dv_rows.filter(F.col("file").isin(list(applicable)))
        # Anti-join on a packed single LONG (fid * 2^40 + row_index
        # — a bijection, not a hash: row_index within one parquet
        # file is < 2^40 always, and fid is a dense index over this
        # scan's DV'd files) instead of the (path-string, long)
        # pair: the string-keyed form broadcast a ~100-byte path
        # per deleted position and hashed a path string per probe
        # row. The file→fid maps are `_local_df` LocalRelations,
        # never createDataFrame(list), whose Python-RDD scan pays a
        # Python-worker round trip on every execution. Together
        # with the clean-file split: 2.3 s →
        # ~0.7 s for count+sum over 10M rows with 5% deleted;
        # the size-keyed resolve (r11b, see size_ok above) takes
        # the same scan to ~0.5 s.
        if len(fids) < (1 << 23):
            pack = F.shiftleft(F.col("_dl_fid"), 40)
            fid = T.StructField("_dl_fid", T.LongType(), False)

            def build() -> DataFrame:
                relmap = _local_df(
                    spark, [(rel, i) for i, rel in enumerate(fids)],
                    T.StructType([T.StructField("file", T.StringType()), fid]),
                )
                return (
                    dv.join(F.broadcast(relmap), "file")  # bcast-ok: one row per data file (metadata-sized)
                    .select((pack + F.col("row_index")).alias("_dl_key"))
                )

            # fids is sorted(applicable), so a key set cached under the
            # same (file, DV) pairs numbers files as this call's
            # probe-side fid map does.
            dvk = (
                dv_keys(tuple((f, applicable[f]["path"]) for f in fids), build)
                if dv_keys is not None else build()
            )
            if size_ok:
                on, fmap = "_dl_sz", [(sizes[rel], i) for i, rel in enumerate(fids)]
                on_type = T.LongType()
            else:
                on, on_type = "_dl_fp", T.StringType()
                fmap = [
                    (Lake._file_uri(f"{table_dir}/{rel}"), i)
                    for i, rel in enumerate(fids)
                ]
            fmap = _local_df(
                spark, fmap, T.StructType([T.StructField(on, on_type), fid])
            )
            masked = (
                masked.join(F.broadcast(fmap), on, "left")  # bcast-ok: one row per data file (metadata-sized)
                .withColumn("_dl_key", pack + F.col("_dl_ri"))
                .join(
                    F.broadcast(dvk) if dv_bcast else dvk,  # bcast-ok: guarded by catalog-counted positions (DV_BROADCAST_MAX_POSITIONS)
                    "_dl_key", "left_anti",
                )
                .drop("_dl_fid", "_dl_key", "_dl_sz")
            )
        else:  # >8M DV'd files in one scan: packed fid overflows
            dvp = dv.select(
                Lake._uri_col(table_dir, fids, "file").alias("_dl_fp"),
                F.col("row_index").alias("_dl_ri"),
            )
            masked = masked.join(
                F.broadcast(dvp) if dv_bcast else dvp,  # bcast-ok: guarded by catalog-counted positions (DV_BROADCAST_MAX_POSITIONS)
                ["_dl_fp", "_dl_ri"], "left_anti",
            )
        if not keep_meta:
            masked = masked.drop("_dl_fp", "_dl_ri")
        parts.append(masked)
    return _union(parts)


def inline_df(
    spark: SparkSession,
    state: TableState,
    schema: T.StructType,
    row_id: str | None = None,
) -> DataFrame | None:
    """Inline-buffer rows under ``schema``, each mapped through its own
    vintage (renames, columns added after it, initial-default fills) —
    the single authority every inline consumer (scan, predicate match,
    DML rewrite, frozen read) goes through. ``row_id`` names a column
    to carry each row's id. Built by ``_local_df``: an Arrow-backed
    ``LocalRelation``, so a read over it starts no Python worker."""
    if not state.inline_rows:
        return None
    out = T.StructType(
        list(schema.fields)
        + ([T.StructField(row_id, T.LongType(), False)] if row_id else [])
    )
    groups = _by_vintage(
        state, schema, state.inline_rows, lambda r: r.get("begin_snapshot", 0)
    )
    return _union([
        _fill(
            _local_df(
                spark,
                [
                    inline_values(r["values"], schema, phys)
                    + ((r["row_id"],) if row_id else ())
                    for r in rows
                ],
                out,
            ),
            schema, fills,
        )
        for (phys, fills), rows in groups.items()
    ])


def _attach_rowid(
    spark: SparkSession, table_dir: str, state: TableState, df: DataFrame
) -> DataFrame:
    """Append the ``rowid`` lineage column to a ``keep_meta`` scan:
    rowid = file.row_id_start + row_index (upstream DuckLake
    semantics; the reference lists rowid unsupported,
    docs/ducklake_feature_coverage.md:54). The (file → start) map is
    metadata-sized (one row per live data file), so the broadcast
    join costs what the planner's own file listing already costs."""
    sdf = _local_df(
        spark,
        [
            (Lake._file_uri(f"{table_dir}/{rel}"), fe.row_id_start)
            for rel, fe in state.files.items()
        ],
        T.StructType([
            T.StructField("_dl_fp", T.StringType()),
            T.StructField("_dl_start", T.LongType()),
        ]),
    )
    return (
        df.join(F.broadcast(sdf), "_dl_fp", "left")  # bcast-ok: one row per data file (metadata-sized)
        .withColumn("rowid", F.col("_dl_start") + F.col("_dl_ri"))
        .drop("_dl_fp", "_dl_ri", "_dl_start")
    )


def table_rows(
    spark: SparkSession,
    table_dir: str,
    state: TableState,
    schema: T.StructType,
    rels: list[str] | None = None,
    with_rowid: bool = False,
    **dv,
) -> DataFrame:
    """The rows of ``state`` under ``schema``: its data files (``rels``
    only, when given) ∪ its inline rows. ``with_rowid`` appends the
    ``rowid`` lineage column. ``dv`` goes to :func:`read_files`."""
    if not with_rowid:
        df = read_files(spark, table_dir, state, schema, rels, **dv)
        inline = inline_df(spark, state, schema)
    else:
        if "rowid" in schema.names:
            raise LakeError(
                "with_rowid=True clashes with an existing 'rowid' column"
            )
        df = _attach_rowid(
            spark, table_dir, state,
            read_files(spark, table_dir, state, schema, rels, True, **dv),
        )
        inline = inline_df(spark, state, schema, row_id="rowid")
    return df if inline is None else df.unionByName(inline)


class Lake:
    """A lakehouse rooted at ``path`` (one directory per table)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        read_only: bool = False,
        create: bool = True,
        role: str = "admin",
        role_names: dict[str, str] | None = None,
        author: str | None = None,
    ):
        # Deployment-configurable role names ≙ the reference's
        # ducklake.superuser_role / writer_role / reader_role GUCs
        # (src/pgducklake_guc.cpp:57-74): the three *tiers* are fixed,
        # the names a deployment binds to them are not. ``role`` accepts
        # either a canonical tier or a custom name from the mapping.
        names = {"admin": "admin", "writer": "writer", "reader": "reader"}
        if role_names:
            unknown = set(role_names) - set(names)
            if unknown:
                raise LakeError(
                    f"unknown role tiers in role_names: {sorted(unknown)} "
                    "(admin | writer | reader)"
                )
            names.update(role_names)
        by_name = {v: k for k, v in names.items()}
        tier = by_name.get(role) or (role if role in names else None)
        if tier is None:
            raise LakeError(
                f"unknown role {role!r} ({' | '.join(names.values())})"
            )
        role = tier
        self.role_names = names
        self.spark = spark
        self.path = os.path.abspath(path)
        self.read_only = read_only or role == "reader"
        # Role model ≙ the reference's predefined roles (access_control.sql):
        # reader = SELECT only, writer = +DML, admin = +DDL/maintenance.
        self.role = "reader" if self.read_only else role
        self.as_of_timestamp: dt.datetime | str | None = None  # A17 session GUC
        # Commit provenance (≙ author / commit_extra_info of
        # ducklake_snapshot_changes): author defaults to the OS user like
        # PG's session user; extra info is opt-in per session.
        self.author: str | None = author or _os_user()
        self.commit_extra_info: str | None = None
        # TIME columns (types.sql native tier) sit behind a 4.x feature
        # flag; enable it for lakes attached from plain sessions too.
        try:
            spark.conf.set("spark.sql.timeType.enabled", "true")
        except Exception:
            pass  # older runtime without the conf — TIME DDL will error
        self._logs: dict[str, SnapshotLog] = {}
        # (canon name, sorted (data file, DV path) pairs) -> persisted
        # DV packed-key frame: DV files (_dv/<uuid>) are never
        # rewritten, so repeated full-table masked scans reuse the
        # cached key set instead of re-running the DV scan job per
        # query, across every commit that leaves the DVs alone (an
        # insert, an inline flush). Memory is bounded at 8 bytes per
        # deleted position and at most _DV_KEY_CACHE_PER_TABLE entries
        # per table (least recently used evicted first, so alternating
        # latest-version and time-travel scans don't thrash the
        # steady-state entry; see _dv_keys).
        self._dv_key_cache: dict[tuple[str, tuple], DataFrame] = {}
        # (canon name, snapshot_id, with_rowid) -> constructed table
        # DataFrame: the plan of a (table, snapshot) is immutable, so
        # repeated table() calls skip the py4j plan re-construction
        # (~0.25 s per call on a DV'd 32-file table). Bounded FIFO;
        # invalidated with the DV cache on drop/rename (snapshot ids
        # RESTART when a table is dropped and recreated, so name-only
        # eviction there is load-bearing, not hygiene).
        self._table_df_cache: dict[tuple, DataFrame] = {}
        self._retry_pol: tuple[int, float, float] | None = None
        self._txn: dict[str, dict] | None = None
        self._sql_txn: "_Transaction | None" = None  # BEGIN..COMMIT prompt state
        if not os.path.isdir(self.path):
            if not create or read_only:
                raise LakeError(f"lake path {self.path} does not exist")
            os.makedirs(self.path, exist_ok=True)

    # ------------------------------------------------------------- helpers

    def _check_writable(self) -> None:
        if self.read_only:
            raise ReadOnlyError(
                "lake is attached read-only; DML and DDL are rejected "
                "(reference FDW behavior, src/pgducklake_fdw.cpp:277-304)"
            )

    def _check_ddl(self) -> None:
        """DDL and maintenance require ownership (admin role) — the
        reference rejects ALTER/DROP/VACUUM for non-owner roles
        (test/regression/sql/access_control.sql §2-3)."""
        self._check_writable()
        if self.role == "writer":
            raise AccessControlError(
                "role 'writer' may run DML only; DDL and maintenance "
                "require the admin role (reference access_control.sql)"
            )

    # -- schema namespaces (the reference is multi-schema throughout:
    #    ducklake_schema is a first-class metadata table,
    #    src/pgducklake_freeze.cpp:35; set_partition takes
    #    ('schema','t',...), src/pgducklake_partition.cpp:31-95).
    #    A schema is a subdirectory of the lake root holding table
    #    directories; the default schema "main" IS the root, so
    #    unqualified names and "main.t" address the same table.

    _SCHEMA_MARKER = "_dl_schema.json"

    @staticmethod
    def _split_name(name: str) -> tuple[str, str]:
        parts = name.split(".")
        if len(parts) == 1:
            schema, tbl = "main", parts[0]
        elif len(parts) == 2:
            schema, tbl = parts
        else:
            raise LakeError(f"invalid table name {name!r} (use [schema.]table)")
        for part in (schema, tbl):
            if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", part):
                raise LakeError(f"invalid identifier {part!r} in {name!r}")
        return schema, tbl

    def _canon(self, name: str) -> str:
        schema, tbl = self._split_name(name)
        return tbl if schema == "main" else f"{schema}.{tbl}"

    def _table_relpath(self, name: str) -> str:
        schema, tbl = self._split_name(name)
        return tbl if schema == "main" else os.path.join(schema, tbl)

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.path, self._table_relpath(name))

    def _schema_dir(self, schema: str) -> str:
        if not re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", schema):
            raise LakeError(f"invalid schema name {schema!r}")
        return os.path.join(self.path, schema)

    def schema_exists(self, schema: str) -> bool:
        if schema == "main":
            return True
        return os.path.isfile(
            os.path.join(self._schema_dir(schema), self._SCHEMA_MARKER)
        )

    def create_schema(self, schema: str, if_not_exists: bool = False) -> None:
        """CREATE SCHEMA (reference: multi-schema metadata_sync.sql;
        ducklake_schema in src/pgducklake_freeze.cpp:35)."""
        self._check_ddl()
        if self.schema_exists(schema):
            if if_not_exists:
                return
            raise LakeError(f"schema {schema!r} already exists")
        d = self._schema_dir(schema)
        if os.path.isdir(d) and SnapshotLog(d).exists():
            raise LakeError(f"a table named {schema!r} already exists")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, self._SCHEMA_MARKER), "w") as fh:
            json.dump({"schema_name": schema}, fh)

    def drop_schema(
        self, schema: str, cascade: bool = False, if_exists: bool = False
    ) -> None:
        self._check_ddl()
        if schema == "main":
            raise LakeError("cannot drop the default schema 'main'")
        if not self.schema_exists(schema):
            if if_exists:
                return
            raise LakeError(f"schema {schema!r} does not exist")
        tables = self.list_tables(schema=schema)
        if tables and not cascade:
            raise LakeError(
                f"schema {schema!r} is not empty ({len(tables)} tables); "
                "use cascade=True / DROP SCHEMA ... CASCADE"
            )
        for tbl in tables:
            self.drop_table(f"{schema}.{tbl}")
        shutil.rmtree(self._schema_dir(schema))

    def list_schemas(self) -> list[str]:
        out = ["main"]
        for entry in sorted(os.listdir(self.path)):
            # skip loose files (e.g. a frozen .ducklake dropped in the
            # lake dir) and anything that isn't a valid identifier
            if (
                not entry.startswith("_")
                and re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", entry)
                and os.path.isdir(os.path.join(self.path, entry))
                and self.schema_exists(entry)
            ):
                out.append(entry)
        return out

    def _log(self, name: str) -> SnapshotLog:
        name = self._canon(name)
        if name not in self._logs:
            self._logs[name] = SnapshotLog(self._table_dir(name))
        log = self._logs[name]
        log.session_meta = {
            "author": self.author,
            "commit_extra_info": self.commit_extra_info,
        }
        log.retry_policy = self._retry_policy
        return log

    def _retry_policy(self) -> tuple[int, float, float]:
        """Lake-scope optimistic-commit retry policy (upstream DuckLake
        extension settings: max_retry_count / retry_wait_ms /
        retry_backoff). Cached — the options log replays once, not per
        commit; set_option on a retry knob invalidates."""
        if getattr(self, "_retry_pol", None) is None:
            o = self.options()
            self._retry_pol = (
                int(o["max_retry_count"]),
                float(o["retry_wait_ms"]),
                float(o["retry_backoff"]),
            )
        return self._retry_pol

    def _state(self, name: str, version: int | None = None) -> TableState:
        log = self._log(name)
        if not log.exists():
            raise TableNotFoundError(f"table {name!r} does not exist")
        return log.replay(version)

    def list_tables(self, schema: str | None = None) -> list[str]:
        """Tables in one schema (unqualified names), or — with no
        argument — every table in the lake: main-schema tables
        unqualified plus ``schema.table`` for the rest."""
        if schema is not None:
            if not self.schema_exists(schema):
                raise LakeError(f"schema {schema!r} does not exist")
            root = self.path if schema == "main" else self._schema_dir(schema)
            return [
                entry
                for entry in sorted(os.listdir(root))
                if not entry.startswith("_")
                and SnapshotLog(os.path.join(root, entry)).exists()
            ]
        out = self.list_tables(schema="main")
        for s in self.list_schemas():
            if s != "main":
                out.extend(f"{s}.{t}" for t in self.list_tables(schema=s))
        return out

    # --------------------------------------------------------- DDL (A1-A4)

    def create_table(
        self,
        name: str,
        schema: str | T.StructType,
        partition_by: list[str] | None = None,
        sorted_by: list[str] | None = None,
        options: dict[str, Any] | None = None,
        if_not_exists: bool = False,
    ) -> None:
        self._check_ddl()
        schema_name = self._split_name(name)[0]
        if not self.schema_exists(schema_name):
            raise LakeError(f"schema {schema_name!r} does not exist")
        log = self._log(name)
        if log.exists():
            if if_not_exists:
                return
            raise TableAlreadyExistsError(f"table {name!r} already exists")
        if name in self.views():
            raise TableAlreadyExistsError(
                f"cannot create table {name!r}: a view with that name exists"
            )
        st = _parse_schema(schema)
        snap = {
            "operation": "CREATE TABLE",
            "schema": st.jsonValue(),
            "schema_version": 1,
            "set": {
                "partition_spec": list(partition_by or []),
                "sort_spec": _parse_sort_spec(sorted_by or []),
                "options": dict(options or {}),
            },
            "metrics": {},
        }
        log.commit(snap, validate=self._create_conflict(name), base_version=0)

    def _create_conflict(self, name):
        def validate(_state):
            raise TableAlreadyExistsError(
                f"table {name!r} created concurrently"
            )

        return validate

    def create_table_as(
        self,
        name: str,
        source: DataFrame | str,
        partition_by: list[str] | None = None,
        sorted_by: list[str] | None = None,
    ) -> int:
        """CTAS — one snapshot with schema + data (ctas.sql semantics)."""
        self._check_ddl()
        df = self.sql(source) if isinstance(source, str) else source
        log = self._log(name)
        if log.exists():
            raise TableAlreadyExistsError(f"table {name!r} already exists")
        table_dir = self._table_dir(name)
        spec = list(partition_by or [])
        entries = self._write_data(table_dir, df, spec)
        snap = {
            "operation": "CREATE TABLE AS",
            "schema": df.schema.jsonValue(),
            "schema_version": 1,
            "add": [e.to_json() for e in entries],
            "set": {
                "partition_spec": spec,
                "sort_spec": _parse_sort_spec(sorted_by or []),
                "options": {},
            },
            "metrics": {"num_inserted": sum(e.rows for e in entries)},
        }
        log.commit(snap, validate=self._create_conflict(name), base_version=0)
        return sum(e.rows for e in entries)

    def drop_table(self, name: str) -> None:
        self._check_ddl()
        if not self._log(name).exists():
            raise TableNotFoundError(f"table {name!r} does not exist")
        shutil.rmtree(self._table_dir(name))
        self._logs.pop(self._canon(name), None)
        self._evict_dv_cache(name)

    def _evict_dv_cache(self, name: str) -> None:
        canon = self._canon(name)
        for k in [k for k in self._dv_key_cache if k[0] == canon]:
            try:
                self._dv_key_cache.pop(k).unpersist()
            except Exception:
                pass
        for k in [k for k in self._table_df_cache if k[0] == canon]:
            self._table_df_cache.pop(k, None)

    def rename_table(self, name: str, new_name: str) -> None:
        self._check_ddl()
        if not self._log(name).exists():
            raise TableNotFoundError(f"table {name!r} does not exist")
        if not self.schema_exists(self._split_name(new_name)[0]):
            raise LakeError(
                f"schema {self._split_name(new_name)[0]!r} does not exist"
            )
        if self._log(new_name).exists():
            raise TableAlreadyExistsError(f"table {new_name!r} already exists")
        os.rename(self._table_dir(name), self._table_dir(new_name))
        self._logs.pop(self._canon(name), None)
        self._logs.pop(self._canon(new_name), None)
        self._evict_dv_cache(name)
        self._evict_dv_cache(new_name)

    def clone_table(self, name: str, new_name: str) -> None:
        """Zero-copy clone (branch): every immutable artifact — data
        parquet, delete files, snapshot log, checkpoints — is
        HARD-LINKED into the new table directory, so no row data is
        copied and the clone carries the source's full history (time
        travel and the change feed work on it immediately).

        Unlike a reference-sharing shallow clone, hard links make the
        two tables fully independent afterwards: dropping or
        vacuuming either one unlinks only its own directory entries —
        the shared inodes survive until both sides release them — so
        there is no cross-table GC protocol to get wrong (the classic
        shallow-clone footgun). Writes after the clone diverge
        naturally: each side appends its own snapshots.

        The log-directory listing is captured BEFORE the data files
        are linked, so a concurrent writer can only leave orphan data
        files in the clone (harmless; its cleanup GCs them), never a
        log entry whose files are missing."""
        self._check_ddl()
        if not self._log(name).exists():
            raise TableNotFoundError(f"table {name!r} does not exist")
        if not self.schema_exists(self._split_name(new_name)[0]):
            raise LakeError(
                f"schema {self._split_name(new_name)[0]!r} does not exist"
            )
        if self._log(new_name).exists():
            raise TableAlreadyExistsError(f"table {new_name!r} already exists")
        src = self._table_dir(name)
        dst = self._table_dir(new_name)
        log_dir_name = os.path.basename(self._log(name).log_dir)
        src_log = os.path.join(src, log_dir_name)
        log_files = sorted(os.listdir(src_log))  # capture FIRST

        def _link(s: str, d: str) -> None:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)  # cross-device fallback

        os.makedirs(dst, exist_ok=True)
        try:
            for root, _dirs, files in os.walk(src):
                rel = os.path.relpath(root, src)
                if rel == log_dir_name or rel.startswith(
                    log_dir_name + os.sep
                ):
                    continue
                troot = dst if rel == "." else os.path.join(dst, rel)
                os.makedirs(troot, exist_ok=True)
                for f in files:
                    _link(os.path.join(root, f), os.path.join(troot, f))
            dst_log = os.path.join(dst, log_dir_name)
            os.makedirs(dst_log, exist_ok=True)
            for f in log_files:
                _link(os.path.join(src_log, f), os.path.join(dst_log, f))
        except Exception:
            shutil.rmtree(dst, ignore_errors=True)
            raise
        self._logs.pop(self._canon(new_name), None)

    # -- schema evolution (A4; old snapshots keep old schemas,
    #    time_travel.sql:13-18)

    def add_column(
        self, name: str, col_name: str, col_type: str, default: str | None = None
    ) -> None:
        """ADD COLUMN, optionally with a DEFAULT (SQL expression string).
        PG semantics (the reference regenerates PG DDL incl. SET DEFAULT,
        src/pgducklake_table.cpp:847-937): rows that predate the column
        read the default (``initial_default`` — applied per-file at scan
        time, old files are never rewritten), and future inserts that
        omit the column get it too (``default_value``)."""
        meta = (
            {"initial_default": default, "default_value": default}
            if default is not None
            else None
        )
        self._alter_schema(name, f"ADD COLUMN {col_name}", lambda fields: fields + [
            T.StructField(
                col_name, _parse_schema(f"x {col_type}")[0].dataType, True,
                metadata=meta,
            )
        ])

    def set_column_default(self, name: str, col_name: str, default: str) -> None:
        """ALTER COLUMN SET DEFAULT — affects only future inserts
        (existing rows keep their values; PG semantics)."""
        self._set_default_meta(name, col_name, default)

    def drop_column_default(self, name: str, col_name: str) -> None:
        self._set_default_meta(name, col_name, None)

    def _set_default_meta(self, name: str, col_name: str, default: str | None):
        def xf(fields):
            out = []
            found = False
            for f in fields:
                if f.name == col_name:
                    found = True
                    meta = dict(f.metadata or {})
                    if default is None:
                        meta.pop("default_value", None)
                    else:
                        meta["default_value"] = default
                    f = T.StructField(f.name, f.dataType, f.nullable, meta or None)
                out.append(f)
            if not found:
                raise LakeError(f"column {col_name!r} not found in {name!r}")
            return out

        self._alter_schema(
            name,
            f"ALTER COLUMN {col_name} "
            + ("DROP DEFAULT" if default is None else f"SET DEFAULT {default}"),
            xf,
        )

    def set_not_null(self, name: str, col_name: str) -> None:
        """ALTER COLUMN SET NOT NULL (r11, VERDICT r10 #4 — surplus
        parity: the reference marks this unsupported,
        docs/ducklake_feature_coverage.md:29, but the repo already
        enforces NOT NULL declared at create/add-column, so the toggle
        is the only constraint verb the SQL prompt couldn't route).
        One validation scan over the CURRENT table state (data files,
        DV-masked deletes excluded, inline buffer included) rejects the
        flip if any live row violates; then a metadata-only snapshot
        flips the field's nullability. Old snapshots keep the old
        schema — time travel to before the flip still reads nullable."""
        state = self._state(name)
        field = next(
            (f for f in state.schema.fields if f.name == col_name), None
        )
        if field is None:
            raise LakeError(f"column {col_name!r} not found in {name!r}")
        if not field.nullable:
            return  # already NOT NULL — idempotent, like PG
        n_bad = (
            self.table(name)
            .filter(F.col(col_name).isNull())
            .limit(1)
            .count()
        )
        if n_bad:
            raise LakeError(
                f"column {col_name!r} of {name!r} contains null values"
            )
        self._alter_schema(
            name,
            f"ALTER COLUMN {col_name} SET NOT NULL",
            lambda fields: [
                T.StructField(f.name, f.dataType, False, f.metadata)
                if f.name == col_name
                else f
                for f in fields
            ],
        )

    def drop_not_null(self, name: str, col_name: str) -> None:
        """ALTER COLUMN DROP NOT NULL — metadata flip only (widening a
        constraint never needs a scan)."""
        state = self._state(name)
        if not any(f.name == col_name for f in state.schema.fields):
            raise LakeError(f"column {col_name!r} not found in {name!r}")
        self._alter_schema(
            name,
            f"ALTER COLUMN {col_name} DROP NOT NULL",
            lambda fields: [
                T.StructField(f.name, f.dataType, True, f.metadata)
                if f.name == col_name
                else f
                for f in fields
            ],
        )

    def drop_column(self, name: str, col_name: str) -> None:
        # The dropped column's tags go with it (ducklake_column_tag rows
        # are keyed by column; PG drops dependent comments on DROP
        # COLUMN) — same snapshot, so the removal is atomic.
        extra = None
        if col_name in self._state(name).column_tags:
            extra = {"set": {"column_tags": {col_name: None}}}
        self._alter_schema(
            name,
            f"DROP COLUMN {col_name}",
            lambda fields: [f for f in fields if f.name != col_name],
            extra=extra,
        )

    def rename_column(self, name: str, old: str, new: str) -> None:
        def xf(fields):
            # Keep the field METADATA (initial_default / default_value):
            # dropping it silently un-defaults the column for old files.
            return [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in fields
            ]

        # Partition / sort specs are expression strings over column
        # names; rewrite identifier references so the NEXT write still
        # resolves (the reference keeps its specs consistent DuckDB-side
        # the same way — the spec follows the column, not the old name).
        import re as _re

        state = self._state(name)
        ident = _re.compile(rf"\b{_re.escape(old)}\b")
        extra: dict = {"rename": {"old": old, "new": new}}
        sets: dict = {}
        new_pspec = [ident.sub(new, e) for e in state.partition_spec]
        if new_pspec != state.partition_spec:
            sets["partition_spec"] = new_pspec
        new_sspec = [
            dict(s, expression=ident.sub(new, s["expression"]))
            for s in state.sort_spec
        ]
        if new_sspec != state.sort_spec:
            sets["sort_spec"] = new_sspec
        if sets:
            extra["set"] = sets
        self._alter_schema(
            name,
            f"RENAME COLUMN {old} TO {new}",
            xf,
            extra=extra,
        )

    _UPCASTS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("float", "double"),
    }

    def alter_column_type(self, name: str, col_name: str, new_type: str) -> None:
        """A4 ALTER COLUMN TYPE. Safe widenings (int→bigint, float→double
        …) are metadata-only — parquet upcasts at read time; any other
        conversion rewrites every live file under the new schema in the
        same snapshot (the reference's type change is a rewrite too)."""
        self._check_ddl()
        state = self._state(name)
        field = next((f for f in state.schema.fields if f.name == col_name), None)
        if field is None:
            raise LakeError(f"column {col_name!r} not found in {name!r}")
        new_dt = _parse_schema(f"x {new_type}")[0].dataType
        new_fields = [
            T.StructField(col_name, new_dt, f.nullable, f.metadata)
            if f.name == col_name
            else f
            for f in state.schema.fields
        ]
        new_schema = T.StructType(new_fields)
        snap = {
            "operation": f"ALTER TABLE ALTER COLUMN {col_name} TYPE {new_type}",
            "schema": new_schema.jsonValue(),
            "schema_version": state.schema_version + 1,
            "metrics": {},
        }
        old_s = field.dataType.simpleString()
        new_s = new_dt.simpleString()
        if (old_s, new_s) in self._UPCASTS or old_s == new_s:
            self._log(name).commit(snap, base_version=state.snapshot_id)
            return
        # Narrowing/converting change: rewrite all live files, one snapshot.
        df = self._read_files(name, state, state.schema).withColumn(
            col_name, F.col(col_name).cast(new_dt)
        )
        entries = self._write_data(
            self._table_dir(name), df, state.partition_spec,
            schema=new_schema, options=self.options(name),
        )
        snap["add"] = [e.to_json() for e in entries]
        snap["remove"] = sorted(state.files)

        def validate(fresh: TableState) -> None:
            from pg_ducklake_spark.errors import ConcurrentModificationError

            if set(snap["remove"]) - set(fresh.files):
                raise ConcurrentModificationError(
                    f"alter_column_type({name!r}) conflicts with concurrent rewrite"
                )

        self._log(name).commit(snap, validate=validate, base_version=state.snapshot_id)

    def _alter_schema(
        self, name: str, op: str, transform, extra: dict | None = None
    ) -> None:
        self._check_ddl()
        state = self._state(name)
        new_fields = transform(list(state.schema.fields))
        if [f.name for f in new_fields] == [f.name for f in state.schema.fields] and op.startswith("DROP"):
            raise LakeError(f"{op}: column not found in {name!r}")
        new_schema = T.StructType(new_fields)
        # Renames are metadata-only (≙ ducklake_name_mapping): the snap
        # carries a structured {old, new} entry that the catalog replay
        # folds into TableState.renames, and every reader maps each
        # current column back to its per-file physical name at scan
        # time (TableState.vintage).
        snap = {
            "operation": f"ALTER TABLE {op}",
            "schema": new_schema.jsonValue(),
            "schema_version": state.schema_version + 1,
            "metrics": {},
        }
        if extra:
            snap.update(extra)
        self._log(name).commit(snap)

    # ---------------------------------------------------------- write path

    @staticmethod
    def _enforce_not_null(schema: T.StructType, df: DataFrame) -> DataFrame:
        """Declared NOT NULL columns reject NULLs at write time with a
        loud per-row error (PG-frontend parity: the reference's insert
        path enforces the declared constraint; ``nulls_allowed`` is the
        frozen-export spelling, freeze.py). Enforcement rides inside the
        write projection via raise_error — zero extra job/pass over the
        data, so it costs nothing at 100 TB."""
        checked = [f.name for f in schema.fields if not f.nullable]
        if not checked:
            return df
        cols = []
        for f in schema.fields:
            if f.nullable or f.name not in df.columns:
                cols.append(F.col(f.name))
                continue
            cols.append(
                F.when(
                    F.col(f.name).isNull(),
                    F.raise_error(
                        F.lit(
                            f"null value in column {f.name!r} violates "
                            "not-null constraint"
                        )
                    ).cast(f.dataType),
                )
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
        extra = [F.col(c) for c in df.columns if c not in schema.fieldNames()]
        return df.select(*cols, *extra)

    def _write_data(
        self,
        table_dir: str,
        df: DataFrame,
        partition_spec: list[str],
        schema: T.StructType | None = None,
        options: dict | None = None,
        sort_spec: list[dict] | None = None,
        subdir: str = DATA_DIR,
    ) -> list[FileEntry]:
        if schema is not None:
            df = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        commit_rel = f"{subdir}/{uuid.uuid4().hex}"
        out = os.path.join(table_dir, commit_rel)
        opts = {**DEFAULT_OPTIONS, **(options or {})}
        if sort_spec:
            df = df.sortWithinPartitions(*_sort_columns(sort_spec))
        pcols = _partition_columns(partition_spec)
        for cname, cexpr in pcols:
            df = df.withColumn(cname, cexpr)
        # A26 writer options (reference docs/settings.md): compression
        # (+level via codec string), row-group sizing, format version.
        writer = df.write.option("compression", str(opts["parquet_compression"]))
        if opts.get("parquet_row_group_size_bytes"):
            writer = writer.option(
                "parquet.block.size", int(opts["parquet_row_group_size_bytes"])
            )
        if opts.get("parquet_version"):
            v = str(opts["parquet_version"]).lower().lstrip("v")
            writer = writer.option("parquet.writer.version", f"v{v}")
        if pcols:
            writer = writer.partitionBy(*[c for c, _ in pcols])
        writer.parquet(out, mode="overwrite")

        def spark_count(path: str) -> int:
            return self.spark.read.parquet(path).count()

        entries = [
            e
            for e in collect_file_entries(
                table_dir, commit_rel, 0, fallback_counter=spark_count
            )
            if e.rows > 0
        ]
        if not entries:  # nothing references an all-empty write
            shutil.rmtree(out, ignore_errors=True)
        return entries

    def _check_message(self, name: str, message: str | None) -> None:
        """A26 require_commit_message option (reference docs/settings.md)."""
        if message is None and self.options(name).get("require_commit_message"):
            raise LakeError(
                f"table {name!r} requires a commit message "
                "(require_commit_message option is set)"
            )

    def insert(
        self, name: str, df: DataFrame, message: str | None = None
    ) -> int:
        """Append a DataFrame; one snapshot (INSERT..SELECT / VALUES path).
        Schema columns absent from ``df`` are filled with their
        default_value (NULL when none)."""
        self._check_writable()
        self._check_message(name, message)
        state = self._state(name)
        for f in state.schema.fields:
            if f.name not in df.columns:
                d = (f.metadata or {}).get("default_value")
                df = df.withColumn(
                    f.name,
                    (F.expr(d) if d is not None else F.lit(None)).cast(f.dataType),
                )
        df = self._enforce_not_null(state.schema, df)
        entries = self._write_data(
            self._table_dir(name),
            df,
            state.partition_spec,
            schema=state.schema,
            options=self.options(name),
        )
        n = sum(e.rows for e in entries)
        if self._txn is not None:
            staged = self._txn.setdefault(
                name, {"add": [], "metrics": {"num_inserted": 0}, "ops": []}
            )
            staged["add"].extend(e.to_json() for e in entries)
            staged["metrics"]["num_inserted"] += n
            if "INSERT" not in staged["ops"]:
                staged["ops"].append("INSERT")
            return n
        self._log(name).commit(
            {
                "operation": "INSERT",
                "add": [e.to_json() for e in entries],
                "metrics": {"num_inserted": n},
                "commit_message": message,
            }
        )
        return n

    def copy_from_database(
        self,
        db_path: str,
        include_views: bool = True,
        message: str | None = None,
    ) -> dict:
        """Bulk-migrate a DuckDB database (plain or frozen .ducklake)
        into this lake — upstream ``COPY FROM DATABASE``
        (docs/ducklake_feature_coverage.md:101; unsupported in the
        reference too — PARITY.md divergence). See
        ``pg_ducklake_spark.migrate`` for the two source flavors and
        the register-vs-insert path per table."""
        self._check_writable()
        from pg_ducklake_spark.migrate import copy_from_database

        return copy_from_database(
            self, db_path, include_views=include_views, message=message
        )

    # Widening-only parquet→table reads Spark's vectorized reader
    # performs (anything else must go through a rewriting INSERT).
    _ADD_FILE_UPCASTS = {
        "int": {"tinyint", "smallint", "int"},
        "bigint": {"tinyint", "smallint", "int", "bigint"},
        "smallint": {"tinyint", "smallint"},
        "double": {"float", "double"},
    }

    def add_data_files(
        self, name: str, paths: list[str], message: str | None = None
    ) -> int:
        """Register existing parquet files into ``name`` WITHOUT
        rewriting their data (≙ upstream DuckLake's
        ``ducklake_add_data_files``; the reference does not expose it
        either — docs/ducklake_feature_coverage.md:97 — documented
        divergence in PARITY.md).

        Per file, the parquet footer is validated against the table
        schema (exact column-name cover; types equal or vectorized-
        reader-widenable; footer null counts must not violate NOT
        NULL), then the file is hard-linked (copy fallback across
        filesystems) into a fresh commit directory under the table
        root — so the relative-path layout, vacuum, freeze and FDW
        logic all hold — and footer stats are collected exactly like a
        written commit. ONE snapshot registers every file; rows become
        visible atomically and gain rowids like any insert."""
        self._check_writable()
        self._check_message(name, message)
        state = self._state(name)
        if not paths:
            return 0
        import pyarrow.parquet as pq

        expect = {f.name: f for f in state.schema.fields}
        for p in paths:
            if not os.path.isfile(p):
                raise LakeError(f"add_data_files: {p!r} is not a file")
            try:
                pf = pq.ParquetFile(p)
            except Exception as exc:
                raise LakeError(f"add_data_files: {p!r}: {exc}") from exc
            file_schema = self.spark.read.parquet(p).schema
            got = {f.name: f for f in file_schema.fields}
            if set(got) != set(expect):
                raise LakeError(
                    f"add_data_files: {p!r} columns {sorted(got)} != "
                    f"table columns {sorted(expect)}"
                )
            for cname, tf_ in expect.items():
                want = tf_.dataType.simpleString()
                have = got[cname].dataType.simpleString()
                if have != want and have not in self._ADD_FILE_UPCASTS.get(
                    want, set()
                ):
                    raise LakeError(
                        f"add_data_files: {p!r} column {cname!r} type "
                        f"{have} is not readable as table type {want}"
                    )
                if not tf_.nullable:
                    # Footer null stats live on LEAF columns: a nested
                    # NOT NULL column (struct/array) has dotted leaf
                    # paths like ``c.list.element``. A top-level NULL
                    # forces a null at EVERY descendant leaf, so
                    # leaf nulls == 0 soundly proves the constraint;
                    # a positive leaf count is only a MAYBE (inner
                    # element nulls also count) and is resolved with a
                    # column-pruned scan of that one column.
                    md = pf.metadata
                    nulls, matched, stats_ok = 0, False, True
                    for rg in range(md.num_row_groups):
                        g = md.row_group(rg)
                        for ci in range(g.num_columns):
                            col = g.column(ci)
                            path = col.path_in_schema
                            if path == cname or path.startswith(
                                cname + "."
                            ):
                                matched = True
                                st = col.statistics
                                if st is None or st.null_count is None:
                                    stats_ok = False
                                else:
                                    nulls += st.null_count
                    if not matched:
                        raise LakeError(
                            f"add_data_files: {p!r} has no footer leaf "
                            f"for NOT NULL column {cname!r}"
                        )
                    if nulls or not stats_ok:
                        top_nulls = (
                            self.spark.read.parquet(p)
                            .where(F.col(cname).isNull())
                            .limit(1)
                            .count()
                        )
                        if top_nulls:
                            raise LakeError(
                                f"add_data_files: {p!r} has NULLs in "
                                f"NOT NULL column {cname!r}"
                            )
        table_dir = self._table_dir(name)
        commit_rel = f"{DATA_DIR}/{uuid.uuid4().hex}"
        dest_dir = os.path.join(table_dir, commit_rel)
        os.makedirs(dest_dir, exist_ok=True)
        for i, p in enumerate(paths):
            dest = os.path.join(dest_dir, f"{i:04d}-{os.path.basename(p)}")
            try:
                os.link(p, dest)  # no data movement on the same fs
            except OSError:
                shutil.copy2(p, dest)

        def spark_count(path: str) -> int:
            return self.spark.read.parquet(path).count()

        entries = [
            e
            for e in collect_file_entries(
                table_dir, commit_rel, 0, fallback_counter=spark_count
            )
            if e.rows > 0
        ]
        n = sum(e.rows for e in entries)
        if self._txn is not None:
            staged = self._txn.setdefault(
                name, {"add": [], "metrics": {"num_inserted": 0}, "ops": []}
            )
            staged["add"].extend(e.to_json() for e in entries)
            staged["metrics"]["num_inserted"] += n
            if "ADD_DATA_FILES" not in staged["ops"]:
                staged["ops"].append("ADD_DATA_FILES")
            return n
        self._log(name).commit(
            {
                "operation": "ADD_DATA_FILES",
                "add": [e.to_json() for e in entries],
                "metrics": {"num_inserted": n, "num_files": len(entries)},
                "commit_message": message,
            }
        )
        return n

    def insert_rows(self, name: str, rows: list[dict], message: str | None = None) -> int:
        """Small-batch insert; goes to the inline buffer when under
        ``data_inlining_row_limit`` (the reference's direct-insert fast
        path, src/pgducklake_direct_insert.cpp:252-908 — no engine
        involvement, just catalog writes)."""
        self._check_writable()
        self._check_message(name, message)
        state = self._state(name)
        defaults = {
            f.name: d
            for f in state.schema.fields
            if (d := (f.metadata or {}).get("default_value")) is not None
        }
        if defaults:
            rows = [dict(r) for r in rows]
            for r in rows:
                for k, d in defaults.items():
                    if k not in r:
                        r[k] = self._eval_default(d, state.schema[k].dataType)
        limit = int(self.options(name).get("data_inlining_row_limit", 0) or 0)
        if self._txn is None and 0 < len(rows) <= limit:
            schema = state.schema
            # NOT NULL enforcement for the inline fast path (PG parity,
            # same constraint the parquet path checks in-projection).
            for f in schema.fields:
                if f.nullable:
                    continue
                for r in rows:
                    if r.get(f.name) is None:
                        raise LakeError(
                            f"null value in column {f.name!r} violates "
                            "not-null constraint"
                        )
            inline_add = []
            # Random base keeps ids unique under concurrent appends without
            # coordination (sequential ids would collide when two writers
            # read the same next_row_id).
            rid = uuid.uuid4().int & ((1 << 62) - 1)
            for r in rows:
                vals = {
                    f.name: to_json_value(r.get(f.name), f.dataType)
                    for f in schema.fields
                }
                inline_add.append({"row_id": rid, "values": vals})
                rid += 1
            self._log(name).commit(
                {
                    "operation": "INSERT",
                    "inline_add": inline_add,
                    "metrics": {"num_inserted": len(rows)},
                    "commit_message": message,
                }
            )
            return len(rows)
        # User rows of any type (struct, map, variant included): the
        # list path's conversion and checks apply. This frame is read
        # once, by the insert's write, so its Python-RDD scan runs once.
        df = self.spark.createDataFrame(
            [Row(**r) for r in rows], schema=state.schema
        )
        return self.insert(name, df, message=message)

    _default_cache: dict[tuple[str, str], Any] | None = None

    def _eval_default(self, expr: str, dtype: T.DataType) -> Any:
        """Evaluate a default expression to a concrete value (for the
        JSON inline buffer); memoized per (expr, type)."""
        if self._default_cache is None:
            self._default_cache = {}
        key = (expr, dtype.simpleString())
        if key not in self._default_cache:
            self._default_cache[key] = self.spark.sql(
                f"SELECT CAST(({expr}) AS {dtype.simpleString()}) AS v"
            ).collect()[0]["v"]
        return self._default_cache[key]

    def append_batch(self, name: str, columns: dict[str, list]) -> int:
        """Direct-insert semantics: equal-length column arrays → N zipped
        rows, correct count returned (insert_unnest.sql:56-70)."""
        lengths = {len(v) for v in columns.values()}
        if len(lengths) > 1:
            raise LakeError(
                f"append_batch arrays must have equal lengths, got {sorted(lengths)}"
            )
        n = lengths.pop() if lengths else 0
        keys = list(columns)
        rows = [{k: columns[k][i] for k in keys} for i in range(n)]
        return self.insert_rows(name, rows)

    # ----------------------------------------------------------- read path

    _DV_SCHEMA = T.StructType(
        [
            T.StructField("file", T.StringType(), False),
            T.StructField("row_index", T.LongType(), False),
        ]
    )

    # Tests override it to force the sort-merge path at toy scale.
    DV_BROADCAST_MAX_POSITIONS = DV_BROADCAST_MAX_POSITIONS

    # Per-table cap on cached DV key sets (latest + a few time-travel
    # vintages); least recently used evicted first.
    _DV_KEY_CACHE_PER_TABLE = 4

    def _dv_args(self, name: str, rels) -> dict:
        """``read_files`` DV arguments for a scan of ``name``: this
        lake's broadcast guard, and for a full scan (``rels`` None) its
        DV key cache."""
        return {
            "dv_broadcast_max": self.DV_BROADCAST_MAX_POSITIONS,
            "dv_keys": None if rels is not None else (
                lambda dvs, build: self._dv_keys(name, dvs, build)
            ),
        }

    def _dv_keys(
        self, name: str, dvs: tuple, build: Callable[[], DataFrame]
    ) -> DataFrame:
        """The packed DV key set of a full scan whose DV'd files are
        ``dvs`` ((data file, DV path) pairs, sorted). DV files are never
        rewritten, so the set is a function of ``dvs`` alone: it is
        persisted and reused until a commit changes the table's DVs
        (an analytics session runs many reads between deletes). Up to
        _DV_KEY_CACHE_PER_TABLE sets per table are kept (least recently
        used evicted first) so time-travel reads don't thrash the
        steady-state latest entry."""
        ckey = (self._canon(name), dvs)
        dvk = self._dv_key_cache.pop(ckey, None)
        if dvk is None:
            dvk = build().persist(StorageLevel.MEMORY_AND_DISK)
            sibs = [k for k in self._dv_key_cache if k[0] == ckey[0]]
            while len(sibs) >= self._DV_KEY_CACHE_PER_TABLE:
                try:
                    self._dv_key_cache.pop(sibs.pop(0)).unpersist()
                except Exception:
                    pass
        self._dv_key_cache[ckey] = dvk  # (re)insert last: most recent
        return dvk

    def _read_files(
        self,
        name: str,
        state: TableState,
        schema: T.StructType,
        rels: list[str] | None = None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """:func:`read_files` over table ``name``."""
        return read_files(
            self.spark, self._table_dir(name), state, schema, rels, keep_meta,
            **self._dv_args(name, rels),
        )

    def _resolve_version(
        self,
        name: str,
        version: int | None,
        timestamp: dt.datetime | str | None,
    ) -> int | None:
        if version is not None and timestamp is not None:
            raise LakeError("pass either version or timestamp, not both")
        if version is not None:
            return version
        ts = timestamp if timestamp is not None else self.as_of_timestamp
        if ts is not None:
            return self._log(name).version_at_timestamp(ts)
        return None

    def table(
        self,
        name: str,
        version: int | None = None,
        timestamp: dt.datetime | str | None = None,
        with_rowid: bool = False,
    ) -> DataFrame:
        """Current (or time-travel) view: live parquet files ∪ inline
        buffer, under the *historical* schema for old versions
        (time_travel.sql:13-18). ``with_rowid=True`` appends the
        ``rowid`` virtual row-lineage column — stable across snapshots
        that do not rewrite the row's file (vacuum/CoW rewrites and
        inline flushes re-id the moved rows, documented divergence from
        upstream DuckLake's compaction-stable rowids). r8: writers
        persist ``row_id_start`` in each add entry at commit time
        (≙ upstream's ducklake_data_file column), and replay reserves
        the ranges of still-pending multi-table snapshots — so ids no
        longer shift when a pending transaction resolves, and
        checkpoint replay agrees with full-log replay by construction
        (ADVICE r7)."""
        v = self._resolve_version(name, version, timestamp)
        state = self._state(name, v)
        schema = state.schema_at(state.snapshot_id)
        # A state that skipped a pending multi-table txn is not
        # identified by snapshot_id alone (the marker landing mutates
        # it in place) — bypass the cache then. The log epoch covers
        # the other same-id mutation (checkpoint rollback): it bumps
        # whenever existing snapshot ids may replay differently.
        log = self._log(name)
        ckey = (
            None
            if log.has_unresolved()
            else (self._canon(name), state.snapshot_id, log.epoch, with_rowid)
        )
        hit = self._table_df_cache.get(ckey) if ckey else None
        if hit is not None:
            return hit
        out = table_rows(
            self.spark, self._table_dir(name), state, schema,
            with_rowid=with_rowid, **self._dv_args(name, None),
        )
        self._table_df_put(ckey, out)
        return out

    def _table_df_put(self, key: tuple | None, df: DataFrame) -> None:
        if key is None:  # unresolved pending txn: state not cacheable
            return
        if len(self._table_df_cache) >= 16:  # bounded FIFO
            self._table_df_cache.pop(next(iter(self._table_df_cache)))
        self._table_df_cache[key] = df

    def time_travel(self, name: str, version_or_ts) -> DataFrame:
        """A16: ``time_travel(tbl, version | timestamp)``."""
        if isinstance(version_or_ts, int):
            return self.table(name, version=version_or_ts)
        return self.table(name, timestamp=version_or_ts)

    def scan(
        self, name: str, where: str | None = None, with_rowid: bool = False,
        **tt,
    ) -> DataFrame:
        """Filtered read with metadata file skipping (min/max stats +
        partition values — the reference's file_column_stats pruning,
        SURVEY.md §4.2) before Spark's own parquet pushdown.
        ``with_rowid=True`` appends the ``rowid`` lineage column (see
        ``table``)."""
        if where is None:
            return self.table(name, with_rowid=with_rowid, **tt)
        v = self._resolve_version(name, tt.get("version"), tt.get("timestamp"))
        state = self._state(name, v)
        rels = prune_files(state, where)
        return table_rows(
            self.spark, self._table_dir(name), state,
            state.schema_at(state.snapshot_id), rels, with_rowid,
            **self._dv_args(name, rels),
        ).filter(F.expr(where))

    def sql(self, query: str) -> DataFrame:
        """Spark SQL over all lake tables (registered as temp views),
        with persisted lake views registered on top and scalar macros
        textually expanded before planning (views.py)."""
        from pg_ducklake_spark.functions.compat import DUCKDB_COMPAT_MACROS
        from pg_ducklake_spark.pgsyntax import rewrite as _pg_rewrite
        from pg_ducklake_spark.views import expand_macros

        # PG/DuckDB surface syntax (ARRAY[..], UNNEST, generate_series
        # in FROM) → Spark SQL, before any other bind-time pass.
        query = _pg_rewrite(query)

        qualified: list[tuple[str, str, str]] = []
        for tbl in self.list_tables():
            if "." in tbl:
                # Spark temp views cannot be schema-qualified: register a
                # mangled view and textually rebind ``schema.table``
                # references before planning — the same bind-time rewrite
                # the reference's regclass hook performs on qualified
                # ducklake relations (SURVEY.md §2.A A6-A11 glue).
                schema_name, t2 = tbl.split(".")
                alias = f"_dlq_{schema_name}__{t2}"
                self.table(tbl).createOrReplaceTempView(alias)
                qualified.append((schema_name, t2, alias))
            else:
                self.table(tbl).createOrReplaceTempView(tbl)

        def _rewrite_qualified(q: str) -> str:
            # Applied AFTER table-function binding so quoted names like
            # time_travel('s.t', v) are resolved by their own path first.
            for schema_name, t2, alias in qualified:
                q = re.sub(rf"\b{schema_name}\s*\.\s*{t2}\b", alias, q)
            return q
        # A16 SQL surface: ``FROM time_travel('t', version|'timestamp')``
        # (reference: src/pgducklake_time_travel.cpp:36-74,
        # test/regression/sql/time_travel.sql:8-34). Spark has no
        # pluggable table-valued functions, so each call site is bound
        # to a temp view of the historical DataFrame before planning —
        # the same bind-time substitution the reference performs.
        query = _rewrite_qualified(self._bind_time_travel_calls(query))
        cat = self._catalog_state()
        macros = dict(DUCKDB_COMPAT_MACROS)
        if cat is not None:
            macros.update(cat.macros)  # user macros shadow compat
            for vname, vdef in cat.views.items():
                # View bodies may themselves call time_travel(...)
                # (views over table functions, time_travel.sql:21-23).
                body = _rewrite_qualified(
                    self._bind_time_travel_calls(
                        expand_macros(vdef["sql"], macros)
                    )
                )
                self.spark.sql(body).select(*vdef["columns"]).createOrReplaceTempView(
                    vname
                )
        return self.spark.sql(expand_macros(query, macros))

    _TABLE_FUNC_CALL = re.compile(
        r"\b(?P<fn>time_travel|table_changes|table_insertions|"
        r"table_deletions|snapshots|list_files)"
        r"\s*\(\s*'(?P<name>\w+(?:\.\w+)?)'\s*"
        r"(?P<rest>(?:,\s*(?:\d+|'[^']*'))*)\s*\)",
        re.I,
    )

    def _bind_time_travel_calls(self, query: str) -> str:
        """Bind the reference's SQL table functions (A16/A18/A19:
        time_travel, table_changes/insertions/deletions, snapshots,
        list_files) to temp views of their DataFrames before planning."""

        def parse_args(rest: str) -> list:
            out = []
            for raw in re.findall(r"\d+|'[^']*'", rest or ""):
                out.append(int(raw) if raw.isdigit() else raw.strip("'"))
            return out

        def sub_settings(m: "re.Match[str]") -> str:
            alias = "_dl_settings"
            self.settings().createOrReplaceTempView(alias)
            return alias

        query = _sub_outside_quotes(
            query,
            re.compile(r"\b(?:ducklake_)?settings\s*\(\s*\)", re.I),
            sub_settings,
        )

        def sub(m: "re.Match[str]") -> str:
            fn = m.group("fn").lower()
            name = m.group("name")
            args = parse_args(m.group("rest"))
            # reference two-part overloads: f('schema','t', ...) —
            # collapse when that qualified table exists
            if (
                args
                and isinstance(args[0], str)
                and re.match(r"^\w+$", args[0])
                and "." not in name
                and self._log(f"{name}.{args[0]}").exists()
            ):
                name = f"{name}.{args[0]}"
                args = args[1:]
            if fn == "time_travel":
                df = self.time_travel(name, args[0])
            elif fn == "table_changes":
                df = self.table_changes(name, *args)
            elif fn == "table_insertions":
                df = self.table_insertions(name, *args)
            elif fn == "table_deletions":
                df = self.table_deletions(name, *args)
            elif fn == "snapshots":
                df = self.snapshots(name)
            else:
                df = self.list_files(name)
            alias = (
                f"_dl_{fn}_{name.replace('.', '__')}_"
                f"{abs(hash((fn, name, tuple(args)))) % 10**8}"
            )
            df.createOrReplaceTempView(alias)
            return alias

        return _sub_outside_quotes(query, self._TABLE_FUNC_CALL, sub)

    def execute(self, statement: str) -> Any:
        """One SQL statement, routed like the reference's PG prompt:
        DDL/DML statement shapes (CREATE/ALTER/DROP/INSERT/UPDATE/
        DELETE/VACUUM/CALL/SET) dispatch to the Lake API; queries fall
        through to ``sql``. Returns a DataFrame for queries, an
        affected-row count for DML, None for DDL (sqlexec.py)."""
        from pg_ducklake_spark.sqlexec import execute as _execute

        return _execute(self, statement)

    # ------------------------------------------------------------- DML

    # Besides ASCII letters and digits, the characters java.net.URI
    # leaves unquoted in a path.
    _URI_SAFE = frozenset("/@_-!.~'()*,;:$&+=")

    @classmethod
    def _file_uri(cls, path: str) -> str:
        """The URI Spark reports as ``_metadata.file_path`` for the local
        file ``path``: ``file:`` plus the path quoted the way
        java.net.URI quotes one (Hadoop's ``Path.toUri``). Every
        character except ASCII letters and digits, ``_URI_SAFE`` and
        non-ASCII characters that are neither controls nor spaces
        becomes ``%XX`` of its UTF-8 bytes — ``%`` included, so a
        Hive-escaped partition directory ``s=c%25d`` reads back as
        ``s=c%2525d``. :meth:`_uri_to_rel` is the inverse."""
        out = []
        for c in path:
            if c.isascii():
                keep = c.isalnum() or c in cls._URI_SAFE
            else:
                keep = unicodedata.category(c) not in ("Cc", "Zs", "Zl", "Zp")
            out.append(c if keep else "".join(f"%{b:02X}" for b in c.encode()))
        return "file:" + "".join(out)

    def _uri_to_rel(self, table_dir: str, uri: str) -> str:
        p = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        return os.path.relpath(p, table_dir)

    @classmethod
    def _uri_col(
        cls, table_dir: str, rels: Iterable[str], col: str, to_uri: bool = True
    ) -> Column:
        """Column ``col`` mapped from paths relative to ``table_dir``
        (all among ``rels``) to their :meth:`_file_uri`, or back with
        ``to_uri=False``. A path whose URI is not the quoted prefix plus
        the path itself (a partition value or name that needs quoting)
        goes through a literal map; every other path is a plain concat
        or substring."""
        prefix = cls._file_uri(f"{table_dir}/")
        n = len(prefix)
        odd = [
            (r, q) for r in rels
            if (q := cls._file_uri(f"{table_dir}/{r}")[n:]) != r
        ]
        if to_uri:
            tail = F.col(col)
        else:
            tail = F.expr(f"substring({col}, {n + 1})")
            odd = [(q, r) for r, q in odd]
        if odd:
            lookup = F.create_map(*[F.lit(x) for pair in odd for x in pair])
            tail = F.coalesce(F.try_element_at(lookup, tail), tail)
        return F.concat(F.lit(prefix), tail) if to_uri else tail

    def _match_files(
        self, name: str, state: TableState, where: str, pred: Column
    ) -> tuple[dict[str, int], int]:
        """One scan: which live files contain predicate matches, and how
        many rows match per file (gives DML row counts without a second
        job). DV-subtracted, so already-deleted positions never match;
        only the files ``where``'s stats cannot rule out are read."""
        rels = prune_files(state, where)
        if not rels:
            return {}, 0
        df = self._read_files(
            name, state, state.schema, rels=rels, keep_meta=True
        )
        table_dir = self._table_dir(name)
        hits = df.filter(pred).groupBy("_dl_fp").count().collect()
        counts = {self._uri_to_rel(table_dir, r["_dl_fp"]): r["count"] for r in hits}
        return counts, sum(counts.values())

    def _match_inline(
        self, state: TableState, pred: Column, schema: T.StructType
    ) -> list[int]:
        """Row ids of inline-buffer rows matching the predicate (the
        buffer is tiny by contract, so the id column rides along).
        Goes through inline_df so the predicate sees renamed columns
        and initial-default fills exactly like a scan does."""
        df = inline_df(self.spark, state, schema, row_id="_dl_row_id")
        if df is None:
            return []
        return [r["_dl_row_id"] for r in df.filter(pred).select("_dl_row_id").collect()]

    def delete(
        self, name: str, where: str, message: str | None = None, mode: str | None = None
    ) -> int:
        """DELETE with predicate; returns deleted count (dml_row_count.sql:17).

        Two physical strategies (option ``delete_mode``, default 'dv'):

        - ``dv``: write positional delete files (≙ the reference's
          ducklake_delete_file) — no data rewrite at all; deleted
          positions are subtracted at read time and physically removed
          when vacuum's delete-ratio rewrite fires (A22). The 100 TB
          default: a small delete touches zero data bytes.
        - ``cow``: copy-on-write rewrite of affected files.
        """
        self._check_writable()
        self._check_message(name, message)
        state = self._state(name)
        schema = state.schema
        pred = F.expr(where)
        table_dir = self._table_dir(name)
        mode = mode or str(self.options(name).get("delete_mode", "dv"))

        # r12 (VERDICT #2): DV mode is ONE distributed pass over the
        # data — the matched positions stream straight into the DV
        # parquet (scan → filter → project → write, i.e. the raw
        # positions-extract floor plus the write); the per-file match
        # counts are then read back from the WRITTEN DV, which is
        # positions-only (~110 B per deleted row, metadata-scale), and
        # prior positions for the affected files are appended after
        # counting so the DV file stays the complete cumulative set
        # for its files. The r11 shape — count job (materializing a
        # persist) then a separate DV-write job reading it back — put
        # delete_dv at 4.3× its own floor (2.07 s vs 0.48 s at 10M
        # rows); the serial persist+write chain was the entire gap.
        # CoW still persists full matched rows: its CDF write needs
        # the row bodies, and the survivor rewrite re-reads the files.
        matched = None
        file_counts: dict[str, int] = {}
        dv_rel: str | None = None
        rels = prune_files(state, where)
        if rels:
            scan = self._read_files(
                name, state, schema, rels=rels, keep_meta=True
            )
            if mode == "dv":
                dv_rel = f"_dv/{uuid.uuid4().hex}"
                scan.filter(pred).select(
                    self._uri_col(table_dir, rels, "_dl_fp", to_uri=False)
                    .alias("file"),
                    F.col("_dl_ri").alias("row_index"),
                ).write.parquet(os.path.join(table_dir, dv_rel))
                written = self.spark.read.schema(self._DV_SCHEMA).parquet(
                    os.path.join(table_dir, dv_rel)
                )
                file_counts = {
                    r["file"]: r["count"]
                    for r in written.groupBy("file").count().collect()
                }
                if not file_counts:  # no file rows matched: drop the empty DV
                    shutil.rmtree(
                        os.path.join(table_dir, dv_rel), ignore_errors=True
                    )
                    dv_rel = None
            else:
                matched = scan.filter(pred).persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                file_counts = {
                    self._uri_to_rel(table_dir, r["_dl_fp"]): r["count"]
                    for r in matched.groupBy("_dl_fp").count().collect()
                }
        inline_ids = self._match_inline(state, pred, schema)
        n = sum(file_counts.values()) + len(inline_ids)
        if n == 0:
            if matched is not None:
                matched.unpersist()
            return 0

        add: list[FileEntry] = []
        dv_entries: list[dict] = []
        cdf_rel = None
        if file_counts:
            affected_rels = sorted(file_counts)
            if mode != "dv":
                # CoW removes the pre-delete files from the live set, so
                # the deleted rows must be materialized as change data.
                # DV mode writes NO change rows: the delete file IS the
                # change record (the reference's ducklake_delete_file
                # design) — the feed reconstructs deleted rows from the
                # delta positions at read time (changefeed.py
                # _derive_dv_deletions), keeping this path's "a small
                # delete touches zero data bytes" contract true.
                cdf_rel = f"{CDF_DIR}/{uuid.uuid4().hex}"
                matched.drop("_dl_fp", "_dl_ri").withColumn(
                    "_change_type", F.lit("delete")
                ).write.parquet(os.path.join(table_dir, cdf_rel))
            if mode == "dv":
                # The new positions are already on disk (the one-pass
                # write above). Carry forward prior positions for the
                # affected files — appended to the same DV dir, so the
                # DV file remains the complete cumulative set for its
                # files — a metadata-scale job over positions only.
                old = {
                    f: d for f, d in state.dvs.items() if f in set(affected_rels)
                }
                if old:
                    old_paths = sorted(
                        {os.path.join(table_dir, d["path"]) for d in old.values()}
                    )
                    (
                        self.spark.read.schema(self._DV_SCHEMA)
                        .parquet(*old_paths)
                        .filter(F.col("file").isin(list(old)))
                        .write.mode("append")
                        .parquet(os.path.join(table_dir, dv_rel))
                    )
                for rel in affected_rels:
                    prior_deleted = state.dvs.get(rel, {}).get("deleted", 0)
                    dv_entries.append(
                        {
                            "file": rel,
                            "path": dv_rel,
                            "deleted": prior_deleted + file_counts[rel],
                        }
                    )
            else:
                # CoW rewrites the SURVIVORS of affected files — a
                # different row set from `matched`, so this path keeps
                # its own (affected-files-only) read.
                affected = self._read_files(
                    name, state, schema, rels=affected_rels, keep_meta=True
                )
                kept = affected.filter(~pred | pred.isNull()).drop("_dl_fp", "_dl_ri")
                add = self._write_data(
                    table_dir, kept, state.partition_spec, options=self.options(name)
                )
        # Change rows are read back under the DELETE snapshot's schema
        # vintage: record them as a scan would see them (renames
        # resolved, initial defaults filled) via inline_df.
        inline_changes = []
        if inline_ids:
            buf = inline_df(self.spark, state, schema, row_id="_dl_row_id")
            keep = set(inline_ids)
            inline_changes = [
                {
                    "change_type": "delete",
                    "values": {
                        f.name: to_json_value(r[f.name], f.dataType)
                        for f in schema.fields
                    },
                }
                for r in buf.collect()
                if r["_dl_row_id"] in keep
            ]
        try:
            self._commit_dml(
                name,
                state,
                operation="DELETE",
                add=add,
                remove=[] if dv_entries else sorted(file_counts),
                inline_remove=inline_ids,
                inline_changes=inline_changes,
                metrics={"num_deleted": n},
                cdf_path=cdf_rel,
                message=message,
                extra={"dv": dv_entries} if dv_entries else None,
                touched=sorted(file_counts),
            )
        finally:
            if matched is not None:
                matched.unpersist()
        return n

    def update(
        self,
        name: str,
        set_exprs: dict[str, str],
        where: str = "true",
        message: str | None = None,
    ) -> int:
        """UPDATE ... SET col=expr WHERE pred; CoW rewrite of affected
        files; CDF preimage/postimage rows; returns updated count."""
        self._check_writable()
        self._check_message(name, message)
        state = self._state(name)
        schema = state.schema
        pred = F.expr(where)
        table_dir = self._table_dir(name)

        file_counts, n_files_matched = self._match_files(
            name, state, where, pred
        )
        inline_ids = self._match_inline(state, pred, schema)
        n = n_files_matched + len(inline_ids)
        if n == 0:
            return 0

        def apply_set(df: DataFrame) -> DataFrame:
            cols = []
            for f in schema.fields:
                if f.name in set_exprs:
                    cols.append(
                        F.when(pred, F.expr(set_exprs[f.name]).cast(f.dataType))
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            return df.select(*cols)

        add: list[FileEntry] = []
        cdf_rel = None
        affected = None
        if file_counts:
            # r11: persist the affected-file content — the CoW rewrite,
            # the CDF preimage, and the CDF postimage each consumed it
            # as a separate full read of the affected files (3 passes);
            # one cached materialization feeds all three. Bounded by
            # the rewrite's own data volume (CoW reads it regardless),
            # spilling to disk for huge updates.
            affected = self._read_files(
                name, state, schema, rels=sorted(file_counts)
            ).persist(StorageLevel.MEMORY_AND_DISK)
            rewritten = self._enforce_not_null(schema, apply_set(affected))
            add = self._write_data(
                table_dir, rewritten, state.partition_spec, options=self.options(name)
            )
            cdf_rel = f"{CDF_DIR}/{uuid.uuid4().hex}"
            pre = affected.filter(pred).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            # postimage: apply SET over pre-filtered rows so the predicate is
            # always evaluated against preimage values
            post = apply_set(affected.filter(pred)).withColumn(
                "_change_type", F.lit("update_postimage")
            )
            pre.unionByName(post).write.parquet(os.path.join(table_dir, cdf_rel))

        inline_changes = []
        new_inline_rows = []
        if inline_ids:
            # Rewrite matching inline rows driver-side (tiny by contract).
            keep_ids = set(inline_ids)
            # The preimage view must match what a scan would return —
            # renamed columns resolved AND initial defaults filled — so
            # both the SET evaluation and the recorded preimage go
            # through inline_df (the single inline-read authority).
            buf_rows = [
                r
                for r in inline_df(
                    self.spark, state, schema, row_id="_dl_row_id"
                ).collect()
                if r["_dl_row_id"] in keep_ids
            ]
            old_df = _local_df(
                self.spark,
                [tuple(r[f.name] for f in schema.fields) for r in buf_rows],
                schema,
            )
            updated = self._enforce_not_null(schema, apply_set(old_df)).collect()
            for old, new in zip(buf_rows, updated):
                old_vals = {
                    f.name: to_json_value(old[f.name], f.dataType)
                    for f in schema.fields
                }
                vals = {
                    f.name: to_json_value(new[f.name], f.dataType)
                    for f in schema.fields
                }
                inline_changes.append(
                    {"change_type": "update_preimage", "values": old_vals}
                )
                inline_changes.append(
                    {"change_type": "update_postimage", "values": vals}
                )
                new_inline_rows.append(vals)

        snap_extra = {}
        if new_inline_rows:
            rid = uuid.uuid4().int & ((1 << 62) - 1)
            snap_extra["inline_add"] = [
                {"row_id": rid + i, "values": v} for i, v in enumerate(new_inline_rows)
            ]
        try:
            self._commit_dml(
                name,
                state,
                operation="UPDATE",
                add=add,
                remove=sorted(file_counts),
                inline_remove=inline_ids,
                inline_changes=inline_changes,
                metrics={"num_updated": n},
                cdf_path=cdf_rel,
                message=message,
                extra=snap_extra,
            )
        finally:
            if affected is not None:
                affected.unpersist()
        return n

    def _commit_dml(
        self,
        name: str,
        state: TableState,
        operation: str,
        add: list[FileEntry],
        remove: list[str],
        inline_remove: list[int],
        inline_changes: list[dict],
        metrics: dict,
        cdf_path: str | None,
        message: str | None,
        extra: dict | None = None,
        touched: list[str] | None = None,
    ) -> int:
        if self._txn is not None:
            raise LakeError(
                "UPDATE/DELETE inside an explicit transaction is not supported "
                "(the reference's direct path is autocommit-only too, "
                "src/pgducklake_direct_insert.cpp:276-278)"
            )
        removed_set = set(remove) | set(touched or [])
        inline_removed = set(inline_remove)
        # Fingerprint the delete-file state this commit was computed
        # against: a concurrent DV on the same file invalidates both a
        # rewrite (would resurrect deleted rows) and a cumulative DV merge
        # (would drop the concurrent positions).
        base_dvs = {
            f: state.dvs.get(f, {}).get("deleted", -1) for f in removed_set
        }

        def validate(fresh: TableState) -> None:
            from pg_ducklake_spark.errors import ConcurrentModificationError

            if not removed_set <= set(fresh.files):
                raise ConcurrentModificationError(
                    f"{operation} on {name!r} conflicts: files rewritten by a "
                    "concurrent commit"
                )
            for f in removed_set:
                if fresh.dvs.get(f, {}).get("deleted", -1) != base_dvs[f]:
                    raise ConcurrentModificationError(
                        f"{operation} on {name!r} conflicts: delete files "
                        "changed underneath this commit"
                    )
            live_inline = {r["row_id"] for r in fresh.inline_rows}
            if not inline_removed <= live_inline:
                raise ConcurrentModificationError(
                    f"{operation} on {name!r} conflicts on inline rows"
                )

        snap = {
            "operation": operation,
            "add": [e.to_json() for e in add],
            "remove": remove,
            "inline_remove": inline_remove,
            "inline_changes": inline_changes,
            "metrics": metrics,
            "cdf_path": cdf_path,
            "commit_message": message,
        }
        snap.update(extra or {})
        return self._log(name).commit(
            snap, validate=validate, base_version=state.snapshot_id
        )

    # ----------------------------------------------- snapshots & metadata

    def snapshots(self, name: str) -> DataFrame:
        """A19: snapshot history as a DataFrame (≙ ducklake_snapshot +
        snapshot_changes)."""
        state = self._state(name)
        rows = [
            (
                s.snapshot_id,
                dt.datetime.fromisoformat(s.timestamp) if s.timestamp else None,
                s.schema_version,
                s.operation,
                s.author,
                s.commit_message,
                s.commit_extra_info,
                json.dumps(s.metrics) if s.metrics else "{}",
            )
            for s in state.history
        ]
        schema = T.StructType(
            [
                T.StructField("snapshot_id", T.LongType()),
                T.StructField("snapshot_time", T.TimestampType()),
                T.StructField("schema_version", T.LongType()),
                T.StructField("operation", T.StringType()),
                T.StructField("author", T.StringType()),
                T.StructField("commit_message", T.StringType()),
                T.StructField("commit_extra_info", T.StringType()),
                T.StructField("metrics", T.StringType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema=schema)

    def register_metadata_views(self, name: str) -> None:
        """A19 SQL introspection: register ``<t>_snapshots`` and
        ``<t>_files`` temp views so metadata is queryable with plain SQL
        (≙ FROM ducklake.snapshots('t') / list_files)."""
        vbase = name.replace(".", "__")  # temp views cannot be qualified
        self.snapshots(name).createOrReplaceTempView(f"{vbase}_snapshots")
        self.list_files(name).createOrReplaceTempView(f"{vbase}_files")

    def current_snapshot(self, name: str) -> int:
        return self._state(name).snapshot_id

    def last_committed_snapshot(self, name: str) -> int:
        return self.current_snapshot(name)

    def declared_schema(
        self, name: str, version: int | None = None, timestamp=None
    ) -> T.StructType:
        """The catalog-declared schema — authoritative for nullability
        (SET/DROP NOT NULL state) and default metadata — optionally at
        a historical version/timestamp; the ``\\d table`` analog. The
        read surface (``table().schema``) reports parquet-scan
        nullability (always nullable, Spark's convention for files that
        may predate the constraint); constraint state lives here and in
        freeze's ``nulls_allowed`` export."""
        v = self._resolve_version(name, version, timestamp)
        state = self._state(name, v)
        return state.schema_at(state.snapshot_id)

    def table_info(self, name: str) -> dict:
        state = self._state(name)
        return {
            "table_name": name,
            "path": self._table_dir(name),
            "snapshot_id": state.snapshot_id,
            "schema_version": state.schema_version,
            "file_count": len(state.files),
            "inlined_rows": len(state.inline_rows),
            "total_rows": state.total_rows,
            "total_bytes": sum(f.bytes for f in state.files.values()),
            "partition_spec": list(state.partition_spec),
            "sort_spec": list(state.sort_spec),
        }

    def analyze(self, name: str) -> dict:
        """Compute and persist table + per-column statistics — the
        ``ducklake_table_stats`` / ``ducklake_table_column_stats`` analog
        (metadata schema contract, reference src/pgducklake_freeze.cpp
        table list). One distributed scan produces row count plus
        per-column null count, approx NDV, and min/max; the result is
        committed to the snapshot log so ``table_stats`` answers from
        metadata without touching data."""
        self._check_ddl()
        state = self._state(name)
        df = self.table(name)
        aggs: list[Column] = [F.count(F.lit(1)).alias("__rows")]
        for f in state.schema.fields:
            c = f.name
            aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
            if not isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType,
                                           T.BinaryType, T.VariantType)):
                aggs.append(F.approx_count_distinct(c).alias(f"{c}__ndv"))
                aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
                aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
        row = df.agg(*aggs).collect()[0].asDict()
        cols = {}
        for f in state.schema.fields:
            c = f.name
            cols[c] = {
                "nulls": int(row.get(f"{c}__nulls") or 0),
                "ndv": int(row[f"{c}__ndv"]) if f"{c}__ndv" in row else None,
                "min": row.get(f"{c}__min"),
                "max": row.get(f"{c}__max"),
            }
        stats = {
            "snapshot_id": state.snapshot_id,
            "row_count": int(row["__rows"]),
            "columns": cols,
        }
        self._log(name).commit(
            {"operation": "ANALYZE", "set": {"table_stats": stats}, "metrics": {}}
        )
        return stats

    def table_stats(self, name: str) -> dict | None:
        """Last ANALYZE result (None if never analyzed); includes the
        snapshot it was computed at so staleness is visible."""
        return self._state(name).table_stats

    def list_files(self, name: str, version: int | None = None) -> DataFrame:
        state = self._state(name, version)
        rows = [
            (
                f.path,
                f.rows,
                f.bytes,
                f.begin_snapshot,
                json.dumps(f.partition_values),
            )
            for f in sorted(state.files.values(), key=lambda x: x.path)
        ]
        schema = T.StructType(
            [
                T.StructField("path", T.StringType()),
                T.StructField("rows", T.LongType()),
                T.StructField("bytes", T.LongType()),
                T.StructField("begin_snapshot", T.LongType()),
                T.StructField("partition_values", T.StringType()),
            ]
        )
        return self.spark.createDataFrame(rows, schema=schema)

    # ------------------------------------- tags / COMMENT metadata
    # (≙ ducklake_tag / ducklake_column_tag, src/pgducklake_freeze.cpp:38-39.
    #  The reference's PG frontend marks COMMENT unsupported on its AM —
    #  docs/README coverage list — so this surface EXCEEDS reference
    #  parity; the metadata tables themselves are part of the frozen
    #  contract either way.)

    def set_tag(self, name: str, key: str, value: str | None) -> None:
        """Set (or clear, with ``value=None``) a table-level tag."""
        self._check_ddl()
        self._state(name)  # existence check
        self._log(name).commit(
            {"operation": "SET TAG", "set": {"tags": {key: value}},
             "metrics": {}}
        )

    def tags(self, name: str) -> dict:
        return dict(self._state(name).tags)

    def set_column_tag(
        self, name: str, col: str, key: str, value: str | None
    ) -> None:
        self._check_ddl()
        state = self._state(name)
        if col not in state.schema.fieldNames():
            raise LakeError(f"column {col!r} does not exist in {name!r}")
        self._log(name).commit(
            {"operation": "SET COLUMN TAG",
             "set": {"column_tags": {col: {key: value}}}, "metrics": {}}
        )

    def column_tags(self, name: str) -> dict:
        return {k: dict(v) for k, v in self._state(name).column_tags.items()}

    def comment_on(self, name: str, comment: str | None) -> None:
        """COMMENT ON TABLE (stored as the 'comment' tag, the DuckLake
        convention for comment storage in ducklake_tag)."""
        self.set_tag(name, "comment", comment)

    def comment_on_column(
        self, name: str, col: str, comment: str | None
    ) -> None:
        self.set_column_tag(name, col, "comment", comment)

    # --------------------------------------------- options (A26)

    def set_option(
        self,
        option: str,
        value: Any,
        table: str | None = None,
        schema: str | None = None,
    ) -> None:
        """Set an option at lake, schema, or table scope. Precedence at
        read time is global < schema < table (``schema=`` is the layer
        the reference notes as absent,
        docs/ducklake_feature_coverage.md:78)."""
        self._check_ddl()
        if table is not None and schema is not None:
            raise LakeError("pass either table or schema scope, not both")
        if option in ("max_retry_count", "retry_wait_ms", "retry_backoff") and (
            table is not None or schema is not None
        ):
            raise LakeError(
                f"{option} is a lake-scope setting (it configures the "
                "commit machinery that narrower scopes are read through)"
            )
        if schema is not None:
            if not self.schema_exists(schema):
                raise LakeError(f"schema {schema!r} does not exist")
            slog = SnapshotLog(self._schema_options_dir(schema))
            if not slog.exists():
                slog.commit(
                    {"operation": "CREATE OPTIONS",
                     "schema": T.StructType([]).jsonValue(),
                     "schema_version": 1, "metrics": {}}
                )
            slog.commit(
                {"operation": "SET OPTION",
                 "set": {"options": {option: value}}, "metrics": {}}
            )
            return
        if table is None:
            # lake-level options live in a zero-data options table dir
            table = "_lake_options"
            if not SnapshotLog(os.path.join(self.path, table)).exists():
                SnapshotLog(os.path.join(self.path, table)).commit(
                    {"operation": "CREATE OPTIONS", "schema": T.StructType([]).jsonValue(),
                     "schema_version": 1, "metrics": {}}
                )
            SnapshotLog(os.path.join(self.path, table)).commit(
                {"operation": "SET OPTION", "set": {"options": {option: value}},
                 "metrics": {}}
            )
            self._logs.pop(table, None)
            self._retry_pol = None  # retry knobs: re-read on next commit
            return
        state = self._state(table)
        self._log(table).commit(
            {"operation": "SET OPTION", "set": {"options": {option: value}},
             "metrics": {}}
        )

    def _schema_options_dir(self, schema: str) -> str:
        # options logs are underscore-prefixed so list_tables skips them
        return os.path.join(self.path, f"_schema_options__{schema}")

    def options(self, table: str | None = None) -> dict[str, Any]:
        """Effective options: defaults < lake scope < schema scope (the
        table's namespace) < table scope."""
        out = dict(DEFAULT_OPTIONS)
        opt_log = SnapshotLog(os.path.join(self.path, "_lake_options"))
        if opt_log.exists():
            out.update(opt_log.replay().options)
        if table is not None:
            schema_name = table.split(".", 1)[0] if "." in table else "main"
            slog = SnapshotLog(self._schema_options_dir(schema_name))
            if slog.exists():
                out.update(slog.replay().options)
            if self._log(table).exists():
                out.update(self._state(table).options)
        return out

    def settings(self) -> DataFrame:
        """Instance-metadata table function (≙ upstream DuckLake's
        ``ducklake_settings()``, ducklake_feature_coverage.md:80):
        one (name, value, scope) row per effective lake-level setting —
        instance facts under scope 'instance', option defaults under
        'default', lake-scope overrides under 'lake'. Also reachable in
        SQL as ``FROM settings()`` / ``FROM ducklake_settings()``."""
        rows = [
            ("data_path", self.path, "instance"),
            ("read_only", str(self.read_only).lower(), "instance"),
            ("role", self.role, "instance"),
            ("format", "pg_ducklake_spark/v1", "instance"),
        ]
        overrides: dict[str, Any] = {}
        opt_log = SnapshotLog(os.path.join(self.path, "_lake_options"))
        if opt_log.exists():
            overrides = opt_log.replay().options
        for k, dflt in DEFAULT_OPTIONS.items():
            if k in overrides:
                rows.append((k, str(overrides[k]), "lake"))
            else:
                rows.append((k, "" if dflt is None else str(dflt), "default"))
        for k, v in overrides.items():  # options without a shipped default
            if k not in DEFAULT_OPTIONS:
                rows.append((k, str(v), "lake"))
        return self.spark.createDataFrame(
            rows, "name string, value string, scope string"
        )

    # ------------------------------- views & macros (≙ ducklake_view/macro)

    _CATALOG_TABLE = "_lake_views"

    def _catalog_log(self, create: bool = False) -> SnapshotLog | None:
        log = SnapshotLog(os.path.join(self.path, self._CATALOG_TABLE))
        if not log.exists():
            if not create:
                return None
            log.commit(
                {"operation": "CREATE CATALOG",
                 "schema": T.StructType([]).jsonValue(),
                 "schema_version": 1, "metrics": {}}
            )
        return log

    def _catalog_state(self) -> TableState | None:
        log = self._catalog_log()
        return log.replay() if log is not None else None

    def create_view(self, name: str, sql: str, or_replace: bool = False) -> None:
        """Persist a view (≙ ducklake_view). The defining query is
        validated now and its **output columns are pinned at creation**
        (reference behavior: a view over time_travel keeps its creation
        schema, test/regression/sql/time_travel.sql:21-23) — a later
        ``ADD COLUMN`` on a base table never leaks into a ``SELECT *``
        view. The query text is re-planned per statement, so filters
        above the view still push down into the base scans."""
        from pg_ducklake_spark.views import check_ident

        self._check_ddl()
        check_ident(name, "view")
        cat = self._catalog_state()
        if cat is not None and name in cat.views and not or_replace:
            raise LakeError(f"view {name!r} already exists (use or_replace=True)")
        if self._log(name).exists():
            raise TableAlreadyExistsError(
                f"cannot create view {name!r}: a table with that name exists"
            )
        df = self.sql(sql)  # validates + resolves the creation-time schema
        vdef = {
            "sql": sql,
            "columns": list(df.columns),
            "schema": df.schema.jsonValue(),
            "created_at": utcnow_iso(),
        }
        self._catalog_log(create=True).commit(
            {"operation": f"CREATE VIEW {name}",
             "set": {"views": {name: vdef}}, "metrics": {}}
        )

    def drop_view(self, name: str, if_exists: bool = False) -> None:
        self._check_ddl()
        cat = self._catalog_state()
        if cat is None or name not in cat.views:
            if if_exists:
                return
            raise LakeError(f"view {name!r} does not exist")
        self._catalog_log(create=True).commit(
            {"operation": f"DROP VIEW {name}",
             "set": {"views": {name: None}}, "metrics": {}}
        )

    def views(self) -> dict[str, dict]:
        cat = self._catalog_state()
        return dict(cat.views) if cat is not None else {}

    def view(self, name: str) -> DataFrame:
        cat = self._catalog_state()
        if cat is None or name not in cat.views:
            raise LakeError(f"view {name!r} does not exist")
        return self.sql(f"SELECT * FROM {name}")

    def create_macro(
        self, name: str, parameters: list[str], body: str,
        or_replace: bool = False, table: bool = False,
    ) -> None:
        """Persist a SQL macro (≙ ducklake_macro/_impl/_parameters):

        - scalar (default): ``create_macro('price', ['p', 'd'],
          'p * (1 - d)')`` makes ``price(l_extendedprice, l_discount)``
          usable in any ``lake.sql`` query, inlined into whole-stage
          codegen like any expression.
        - table (``table=True``, ≙ ``CREATE MACRO .. AS TABLE``):
          ``body`` is a full query; an invocation in FROM position
          expands to a parenthesized derived table —
          ``FROM top_n(5)`` → ``FROM (SELECT ... LIMIT (5))``.
          Upstream DuckLake stores table macros in the same
          ducklake_macro tables (the reference itself supports no
          macros at all, docs/ducklake_feature_coverage.md:32-34).

        Both kinds expand textually before planning with the same
        quote-aware, arity-checked, recursion-capped machinery
        (views.py), so filters above a table-macro expansion still
        reach the base parquet scans."""
        from pg_ducklake_spark.views import check_ident

        self._check_ddl()
        check_ident(name, "macro")
        for p in parameters:
            check_ident(p, "macro parameter")
        cat = self._catalog_state()
        if cat is not None and name in cat.macros and not or_replace:
            raise LakeError(f"macro {name!r} already exists (use or_replace=True)")
        mdef = {
            "parameters": list(parameters),
            "body": body,
            "kind": "table" if table else "scalar",
            "created_at": utcnow_iso(),
        }
        self._catalog_log(create=True).commit(
            {"operation": f"CREATE MACRO {name}",
             "set": {"macros": {name: mdef}}, "metrics": {}}
        )

    def drop_macro(self, name: str, if_exists: bool = False) -> None:
        self._check_ddl()
        cat = self._catalog_state()
        if cat is None or name not in cat.macros:
            if if_exists:
                return
            raise LakeError(f"macro {name!r} does not exist")
        self._catalog_log(create=True).commit(
            {"operation": f"DROP MACRO {name}",
             "set": {"macros": {name: None}}, "metrics": {}}
        )

    def macros(self) -> dict[str, dict]:
        cat = self._catalog_state()
        return dict(cat.macros) if cat is not None else {}

    # ------------------------------------- partition & sort specs (A12-A15)

    def set_partition(self, name: str, *spec: str) -> None:
        """Applies to *new* files only (partition.sql:42-56 late
        partitioning); existing files keep their layout until OPTIMIZE."""
        self._check_ddl()
        state = self._state(name)
        for entry in spec:
            b = _BUCKET_RE.match(entry.strip())
            m = _TRANSFORM_RE.match(entry.strip())
            col = b.group(2) if b else (m.group(2) if m else entry.strip())
            if col not in [f.name for f in state.schema.fields]:
                raise LakeError(f"partition column {col!r} not in table {name!r}")
        self._log(name).commit(
            {"operation": "SET PARTITION", "set": {"partition_spec": list(spec)},
             "metrics": {}}
        )

    def reset_partition(self, name: str) -> None:
        self._check_ddl()
        self._state(name)
        self._log(name).commit(
            {"operation": "RESET PARTITION", "set": {"partition_spec": []},
             "metrics": {}}
        )

    def get_partition(self, name: str) -> list[str]:
        return list(self._state(name).partition_spec)

    def set_sort(self, name: str, *spec: str) -> None:
        """Sort applied at compaction/flush, not on direct inserts —
        exactly the reference's sorted-table contract
        (src/pgducklake_sorted_by.cpp:64-180)."""
        self._check_ddl()
        self._state(name)
        self._log(name).commit(
            {"operation": "SET SORT", "set": {"sort_spec": _parse_sort_spec(spec)},
             "metrics": {}}
        )

    def reset_sort(self, name: str) -> None:
        self._check_ddl()
        self._state(name)
        self._log(name).commit(
            {"operation": "RESET SORT", "set": {"sort_spec": []}, "metrics": {}}
        )

    def get_sort(self, name: str) -> list[dict]:
        return [dict(s, sort_key_index=i) for i, s in enumerate(self._state(name).sort_spec)]

    # --------------------------------------------------- maintenance (A20-22)

    def flush_inlined_data(self, name: str | None = None) -> int:
        """Materialize inline-buffer rows to parquet (A20)."""
        self._check_ddl()
        tables = [name] if name else self.list_tables()
        total = 0
        for tbl in tables:
            state = self._state(tbl)
            if not state.inline_rows:
                continue
            schema = state.schema
            df = inline_df(self.spark, state, schema)
            entries = self._write_data(
                self._table_dir(tbl), df, state.partition_spec,
                options=self.options(tbl), sort_spec=state.sort_spec,
            )
            removed_ids = [r["row_id"] for r in state.inline_rows]

            def validate(fresh: TableState, ids=set(removed_ids), t=tbl):
                from pg_ducklake_spark.errors import ConcurrentModificationError

                if not ids <= {r["row_id"] for r in fresh.inline_rows}:
                    raise ConcurrentModificationError(
                        f"flush_inlined_data({t!r}) conflicts with concurrent DML"
                    )

            self._log(tbl).commit(
                {
                    "operation": "FLUSH_INLINED_DATA",
                    "add": [e.to_json() for e in entries],
                    "inline_remove": removed_ids,
                    "metrics": {"num_flushed": len(removed_ids)},
                },
                validate=validate,
                base_version=state.snapshot_id,
            )
            total += len(removed_ids)
        return total

    def vacuum(
        self,
        name: str,
        target_file_size: int | None = None,
        delete_threshold: float | None = None,
        rewrite: bool = True,
        merge_adjacent: bool = True,
    ) -> dict:
        """A22: the reference's two-phase VACUUM (src/pgducklake_vacuum.cpp:
        24-92):

        1. ``ducklake_rewrite_data_files``: rewrite files whose
           deleted-row fraction (from positional delete files) meets
           ``rewrite_delete_threshold`` (default 0.1) — the DV positions
           are physically dropped and the DV removed.
        2. ``ducklake_merge_adjacent_files``: bin-pack small files per
           partition group, applying the sort spec to rewritten files.

        The upstream DuckLake dedicated functions are the same phases run
        alone (docs/ducklake_feature_coverage.md:95-99 lists them as
        unsupported in the reference): ``rewrite_data_files`` /
        ``merge_adjacent_files`` below.

        Returns {"files_removed": n, "files_added": m, "dvs_cleared": k}.
        """
        self._check_ddl()
        # Lake-level housekeeping piggybacked on VACUUM: fold resolved
        # multi-table txn markers into their snapshots and delete them,
        # bounding the _txn/ directory and per-replay marker probes.
        self.gc_txn_markers()
        state = self._state(name)
        opts = self.options(name)
        target = int(target_file_size or opts["target_file_size"])
        threshold = float(
            delete_threshold
            if delete_threshold is not None
            else opts.get("rewrite_delete_threshold", 0.1)
        )
        # Phase 1: delete-ratio rewrites.
        ratio_rewrites = (
            {
                f
                for f, d in state.dvs.items()
                if f in state.files
                and state.files[f].rows > 0
                and d["deleted"] / state.files[f].rows >= threshold
            }
            if rewrite
            else set()
        )
        # Phase 2: small-file merge groups (excluding phase-1 files).
        groups: dict[tuple, list[FileEntry]] = {}
        if merge_adjacent:
            for fe in state.files.values():
                if fe.path not in ratio_rewrites and fe.bytes < target * 0.75:
                    key = tuple(sorted(fe.partition_values.items()))
                    groups.setdefault(key, []).append(fe)
        to_rewrite: list[list[FileEntry]] = [
            [state.files[f]] for f in sorted(ratio_rewrites)
        ] + [g for g in groups.values() if len(g) > 1]
        if not to_rewrite:
            return {"files_removed": 0, "files_added": 0, "dvs_cleared": 0}
        table_dir = self._table_dir(name)
        # r11: ONE distributed rewrite job for every group, not a
        # driver-side loop of per-group jobs — 32 ratio-rewrite files
        # ran 32 sequential read→coalesce(1)→write jobs (29 s at 10M
        # rows; 4 s as one job, the same cost as writing the table).
        # Safe because _write_data re-derives partition directories
        # from the data via partitionBy, so rows from different groups
        # land in their own partition dirs regardless of task layout;
        # output file count is steered by one global repartition sized
        # from the groups' total live bytes.
        remove = [fe.path for group in to_rewrite for fe in group]
        total_bytes = sum(fe.bytes for group in to_rewrite for fe in group)
        n_out = max(len(to_rewrite) if state.partition_spec else 1,
                    math.ceil(total_bytes / target))
        df = self._read_files(name, state, state.schema, rels=remove)
        if state.sort_spec:
            # Global range partitioning on the sort key: per-file
            # sortedness (sortWithinPartitions in _write_data) plus
            # non-overlapping file ranges — strictly better clustering
            # than the old per-group sort.
            df = df.repartitionByRange(n_out, *_sort_columns(state.sort_spec))
        elif state.partition_spec:
            # Cluster by the partition expressions so each task holds
            # few partition values (partitionBy writes one file per
            # (task, value) — unclustered input would shatter output).
            df = df.repartition(
                n_out, *[c for _n, c in _partition_columns(state.partition_spec)]
            )
        elif n_out < max(2, self.spark.sparkContext.defaultParallelism // 2):
            # Small rewrite set (fits few target-size files): coalesce
            # would drag the masked anti-join READ into n_out tasks —
            # measured 7.1 s vs 1.6 s raw at 10M rows with n_out=1.
            # repartition keeps the expensive scan at full width and
            # shuffles only the rewrite volume, which is bounded by
            # n_out * target_file_size bytes by construction.
            df = df.repartition(n_out)
        else:
            # Wide rewrite (n_out ~ cluster width or more): coalesce
            # costs nothing in read parallelism and skips the shuffle
            # a repartition of the full rewrite volume would pay.
            df = df.coalesce(n_out)
        add = self._write_data(
            table_dir, df, state.partition_spec,
            options=self.options(name), sort_spec=state.sort_spec,
        )

        def validate(fresh: TableState) -> None:
            from pg_ducklake_spark.errors import ConcurrentModificationError

            if not set(remove) <= set(fresh.files):
                raise ConcurrentModificationError(
                    f"vacuum({name!r}) conflicts with concurrent rewrite"
                )

        dvs_cleared = len([f for f in remove if f in state.dvs])
        self._log(name).commit(
            {
                "operation": "OPTIMIZE",
                "add": [e.to_json() for e in add],
                "remove": remove,
                "metrics": {"files_removed": len(remove), "files_added": len(add)},
            },
            validate=validate,
            base_version=state.snapshot_id,
        )
        return {
            "files_removed": len(remove),
            "files_added": len(add),
            "dvs_cleared": dvs_cleared,
        }

    def expire_snapshots(
        self,
        name: str | None = None,
        older_than: dt.timedelta | dt.datetime | str | None = None,
        keep_last: int | None = None,
    ) -> int:
        """Expire snapshot history (≙ ducklake_expire_snapshots; option
        ``expire_older_than``): time travel / change feed below the
        cutoff stop working, the log stays bounded. Expired snapshots'
        change-data files are deleted; unreferenced *data* files become
        eligible for ``cleanup_old_files`` as before. Returns the number
        of snapshots expired."""
        self._check_ddl()
        if older_than is None and keep_last is None:
            raise LakeError("pass older_than or keep_last")
        total = 0
        for tbl in [name] if name else self.list_tables():
            log = self._log(tbl)
            if keep_last is not None:
                cutoff = log.latest_version() - keep_last + 1
            else:
                ts = older_than
                if isinstance(ts, dt.timedelta):
                    ts = dt.datetime.now(dt.timezone.utc) - ts
                try:
                    cutoff = log.version_at_timestamp(ts)
                except SnapshotNotFoundError:
                    continue  # nothing old enough
            total += log.expire_before(cutoff)
        return total

    def cleanup_old_files(
        self, name: str | None = None, older_than: dt.timedelta | None = None
    ) -> int:
        """A21: physically delete data files no longer referenced by the
        current snapshot (optionally only those unreferenced for longer
        than ``older_than``). Mirrors cleanup_old_files()/(interval)."""
        self._check_ddl()
        cutoff = (
            dt.datetime.now(dt.timezone.utc) - older_than if older_than else None
        )
        tables = [name] if name else self.list_tables()
        n = 0
        for tbl in tables:
            state = self._state(tbl)
            table_dir = self._table_dir(tbl)
            live = {os.path.join(table_dir, p) for p in state.files}
            live_dv_dirs = {
                os.path.join(table_dir, d["path"]) for d in state.dvs.values()
            }
            for sub in (DATA_DIR, "_dv"):
                root_dir = os.path.join(table_dir, sub)
                if not os.path.isdir(root_dir):
                    continue
                for root, _dirs, names in os.walk(root_dir):
                    for fname in names:
                        full = os.path.join(root, fname)
                        if not fname.endswith(".parquet"):
                            continue
                        if full in live or any(
                            full.startswith(d + os.sep) for d in live_dv_dirs
                        ):
                            continue
                        if cutoff is not None:
                            mtime = dt.datetime.fromtimestamp(
                                os.path.getmtime(full), dt.timezone.utc
                            )
                            if mtime > cutoff:
                                continue
                        os.unlink(full)
                        n += 1
        return n

    def rewrite_data_files(
        self, name: str, delete_threshold: float | None = None
    ) -> dict:
        """≙ ducklake_rewrite_data_files(): VACUUM phase 1 alone — rewrite
        files whose deleted-row fraction meets the threshold, dropping the
        positions physically (upstream DuckLake dedicated maintenance fn;
        the reference only reaches it through VACUUM,
        docs/ducklake_feature_coverage.md:99)."""
        return self.vacuum(
            name, delete_threshold=delete_threshold, merge_adjacent=False
        )

    def merge_adjacent_files(
        self, name: str | None = None, target_file_size: int | None = None
    ) -> dict:
        """≙ ducklake_merge_adjacent_files(): VACUUM phase 2 alone —
        bin-pack small files per partition group, no delete-ratio
        rewrites (docs/ducklake_feature_coverage.md:96)."""
        totals = {"files_removed": 0, "files_added": 0, "dvs_cleared": 0}
        for tbl in [name] if name else self.list_tables():
            r = self.vacuum(tbl, target_file_size=target_file_size, rewrite=False)
            for k in totals:
                totals[k] += r[k]
        return totals

    def delete_orphaned_files(
        self,
        name: str | None = None,
        older_than: dt.timedelta | None = None,
        dry_run: bool = False,
    ) -> list[str]:
        """≙ ducklake_delete_orphaned_files(): remove files in the table's
        data directories that NO retained snapshot has ever tracked —
        leftovers of crashed writers whose commit never landed
        (docs/ducklake_feature_coverage.md:98). Distinct from
        ``cleanup_old_files``, which GCs files that *were* committed and
        later rewritten/removed. Returns the affected paths; with
        ``dry_run=True`` nothing is deleted."""
        self._check_ddl()
        cutoff = (
            dt.datetime.now(dt.timezone.utc) - older_than if older_than else None
        )
        out: list[str] = []
        for tbl in [name] if name else self.list_tables():
            log = self._log(tbl)
            table_dir = self._table_dir(tbl)
            # Every path any retained snapshot ever added (data or DV) —
            # the checkpointed prefix is covered by replaying from v1's
            # checkpoint chain: expire_before trims old versions, so walk
            # what remains plus the live state.
            tracked: set[str] = set()
            for v in log.versions():
                snap = log.read_snapshot(v)
                for d in snap.get("add", []):
                    tracked.add(d["path"])
                for d in snap.get("dv", []):
                    tracked.add(d["path"])
                ckpt = snap.get("checkpoint_state")
                if ckpt:
                    tracked.update(f["path"] for f in ckpt.get("files", []))
                    tracked.update(d["path"] for d in ckpt.get("dvs", {}).values())
            state = self._state(tbl)
            tracked.update(state.files)
            tracked.update(d["path"] for d in state.dvs.values())
            for ck in getattr(log, "_checkpoints", lambda: [])():
                try:
                    cs = log.read_checkpoint(ck)  # type: ignore[attr-defined]
                except AttributeError:
                    break
                tracked.update(f["path"] for f in cs.get("files", []))
                tracked.update(d["path"] for d in cs.get("dvs", {}).values())
            for sub in (DATA_DIR, "_dv"):
                root_dir = os.path.join(table_dir, sub)
                if not os.path.isdir(root_dir):
                    continue
                for root, _dirs, names in os.walk(root_dir):
                    for fname in names:
                        full = os.path.join(root, fname)
                        rel = os.path.relpath(full, table_dir)
                        if rel in tracked:
                            continue
                        if cutoff is not None:
                            mtime = dt.datetime.fromtimestamp(
                                os.path.getmtime(full), dt.timezone.utc
                            )
                            if mtime > cutoff:
                                continue
                        out.append(rel)
                        if not dry_run:
                            os.unlink(full)
        return sorted(out)

    def checkpoint(self, name: str | None = None) -> dict:
        """≙ upstream DuckLake ``CHECKPOINT``: all maintenance ops in one
        call (docs/ducklake_feature_coverage.md:100) — flush inlined
        data, rewrite high-delete files, merge adjacent small files,
        then expire/cleanup per the ``expire_older_than`` /
        ``delete_older_than`` options when set."""
        self._check_ddl()
        summary = {
            "rows_flushed": 0, "files_removed": 0, "files_added": 0,
            "dvs_cleared": 0, "snapshots_expired": 0, "files_cleaned": 0,
        }
        for tbl in [name] if name else self.list_tables():
            summary["rows_flushed"] += self.flush_inlined_data(tbl)
            r = self.vacuum(tbl)
            summary["files_removed"] += r["files_removed"]
            summary["files_added"] += r["files_added"]
            summary["dvs_cleared"] += r["dvs_cleared"]
            opts = self.options(tbl)
            if opts.get("expire_older_than"):
                summary["snapshots_expired"] += self.expire_snapshots(
                    tbl, older_than=_parse_interval(opts["expire_older_than"])
                )
            if opts.get("delete_older_than") is not None:
                summary["files_cleaned"] += self.cleanup_old_files(
                    tbl, older_than=_parse_interval(opts["delete_older_than"])
                )
        return summary

    def gc_txn_markers(self) -> int:
        """Garbage-collect resolved multi-table txn markers.

        Markers would otherwise accumulate forever (one file plus one
        ``exists()`` probe per replay, per txn). For each marker, fold
        its outcome into every referencing snapshot file (atomic
        rewrite — committed snapshots shed their pending tag, aborted
        ones become effect-free ROLLBACK records), then delete the
        marker: no replay, including time travel, changes visibility.
        Returns the number of markers removed."""
        txn_dir = os.path.join(self.path, TXN_DIR)
        if not os.path.isdir(txn_dir):
            return 0
        removed = 0
        tables = self.list_tables()
        for fname in sorted(os.listdir(txn_dir)):
            if fname.endswith(".commit"):
                committed = True
            elif fname.endswith(".abort"):
                committed = False
            else:
                continue
            txn_id = fname.rsplit(".", 1)[0]
            for tbl in tables:
                log = self._log(tbl)
                for v in log.versions():
                    if log.read_snapshot(v).get("txn_pending") == txn_id:
                        log.resolve_txn_snapshot(v, committed)
            try:
                os.unlink(os.path.join(txn_dir, fname))
                removed += 1
            except OSError:
                pass
        return removed

    def merge(
        self,
        target: str,
        source: DataFrame,
        on: list[str],
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool | dict[str, str] = True,
        message: str | None = None,
    ) -> dict[str, int]:
        """MERGE INTO (upsert) — Spark-native bonus; the reference lacks
        MERGE entirely (docs/ducklake_feature_coverage.md:12)."""
        from pg_ducklake_spark.operators.merge import merge as _merge

        return _merge(
            self, target, source, on,
            when_matched_update=when_matched_update,
            when_matched_delete=when_matched_delete,
            when_not_matched_insert=when_not_matched_insert,
            message=message,
        )

    # ----------------------------------------------------------- txn (§7.3)

    def transaction(self):
        """Multi-statement write batch → one snapshot per touched table
        (documented deviation from PG BEGIN..COMMIT; SURVEY.md §7.3)."""
        return _Transaction(self)

    def begin(self) -> None:
        """Open a prompt-level transaction (``BEGIN`` at the SQL prompt,
        reference test/regression/sql/transaction.sql:3-6). Inserts
        between BEGIN and COMMIT stage invisibly; COMMIT publishes them
        atomically, ROLLBACK discards them."""
        if self._sql_txn is not None:
            raise LakeError("a transaction is already in progress")
        txn = self.transaction()
        txn.__enter__()
        self._sql_txn = txn

    def commit(self) -> None:
        """COMMIT the prompt-level transaction opened by :meth:`begin`."""
        if self._sql_txn is None:
            raise LakeError("no transaction in progress")
        txn, self._sql_txn = self._sql_txn, None
        txn.__exit__(None, None, None)

    def rollback(self) -> None:
        """ROLLBACK the prompt-level transaction: staged writes are
        discarded and their data files are never referenced (GC'd by
        cleanup), matching the reference's rollback invisibility."""
        if self._sql_txn is None:
            raise LakeError("no transaction in progress")
        txn, self._sql_txn = self._sql_txn, None
        txn.__exit__(LakeError, LakeError("ROLLBACK"), None)

    # ------------------------------------------------------ change feed — in
    # pg_ducklake_spark/changefeed.py (kept separate; imported lazily)

    def table_changes(self, name: str, start, end=None) -> DataFrame:
        from pg_ducklake_spark.changefeed import table_changes

        return table_changes(self, name, start, end)

    def stream_changes(self, name: str, starting_version: int = 1) -> DataFrame:
        """The change feed as an incremental Structured Streaming source
        (streaming/cdc_source.py): offsets are snapshot ids, each
        micro-batch is the snapshot delta since the last one, with the
        same 4 ``_change_type`` values as ``table_changes``."""
        from pg_ducklake_spark.streaming.cdc_source import LakeCDFDataSource

        self._state(name)  # validate the table exists
        try:
            self.spark.dataSource.register(LakeCDFDataSource)
        except Exception:
            pass  # already registered on this session
        return (
            self.spark.readStream.format("lake_cdf")
            .option("lake_root", self.path)
            .option("table", name)
            .option("startingVersion", starting_version)
            .load()
        )

    def stream_insert(
        self,
        name: str,
        sdf: DataFrame,
        checkpoint_dir: str,
        query_name: str = "lake_stream_sink",
        trigger: dict | None = None,
    ):
        """Streaming ingest: append a streaming DataFrame into this
        table, one atomic snapshot per micro-batch, exactly-once across
        restarts (streaming/sink.py — batch markers ride in
        commit_extra_info, atomic with the data)."""
        from pg_ducklake_spark.streaming.sink import stream_insert

        return stream_insert(
            self, name, sdf, checkpoint_dir,
            query_name=query_name, trigger=trigger,
        )

    def table_insertions(self, name: str, start, end=None) -> DataFrame:
        from pg_ducklake_spark.changefeed import table_insertions

        return table_insertions(self, name, start, end)

    def table_deletions(self, name: str, start, end=None) -> DataFrame:
        from pg_ducklake_spark.changefeed import table_deletions

        return table_deletions(self, name, start, end)

    # ------------------------------------------------------ interop (A23-24)

    def freeze(self, out_path: str) -> None:
        from pg_ducklake_spark.freeze import freeze_lake

        freeze_lake(self, out_path)

    @staticmethod
    def attach(
        spark: SparkSession, path: str, read_only: bool = True,
        role: str | None = None,
    ) -> "Lake":
        """A24/A27: attach an existing lake (foreign-catalog analog);
        writes rejected when read_only; ``role`` opens a reader/writer/
        admin session (access_control.sql role model)."""
        if not os.path.isdir(path):
            raise LakeError(f"cannot attach: {path} does not exist")
        if role is None:
            role = "reader" if read_only else "admin"
        else:
            read_only = role == "reader"
        return Lake(spark, path, read_only=read_only, create=False, role=role)

    @staticmethod
    def attach_frozen(spark: SparkSession, frozen_path: str) -> "FrozenLake":
        from pg_ducklake_spark.freeze import FrozenLake

        return FrozenLake(spark, frozen_path)


def _staged_operation(payload: dict) -> str:
    """Operation name for a staged-in-transaction commit: a pure
    registration stays ``ADD_DATA_FILES``, a mix is tagged
    ``INSERT+ADD_DATA_FILES`` so the change feed / snapshot history
    can distinguish file registration from rewrite inserts (ADVICE
    r7: staged add_data_files entries were misreported as INSERT)."""
    ops = payload.get("ops") or ["INSERT"]
    return "+".join(sorted(ops, reverse=True))  # INSERT before ADD_…


class _Transaction:
    def __init__(self, lake: Lake):
        self.lake = lake

    def __enter__(self):
        if self.lake._txn is not None:
            raise LakeError("nested transactions are not supported")
        self.lake._txn = {}
        return self

    def __exit__(self, exc_type, exc, tb):
        staged, self.lake._txn = self.lake._txn, None
        if exc_type is not None:
            return False  # rollback: staged files never referenced → GC'd
        if len(staged) <= 1:
            # Single table: the per-table hard-link commit is already
            # atomic; no marker needed.
            for name, payload in staged.items():
                self.lake._log(name).commit(
                    {
                        "operation": _staged_operation(payload),
                        "add": payload["add"],
                        "metrics": payload["metrics"],
                    }
                )
            return False
        # Multi-table: two-phase. Phase 1 writes each table's snapshot
        # tagged txn_pending (invisible to every reader); phase 2 flips
        # ONE lake-level marker file, making all of them visible in a
        # single atomic filesystem operation — a crash anywhere before
        # the marker leaves NO table changed (reference all-or-nothing
        # contract, test/isolation/specs/explicit_transaction_commit.spec).
        import time as _time

        from pg_ducklake_spark.catalog import (
            TXN_DIR,
            TXN_MARKER_TIMEOUT_S,
        )

        txn_id = uuid.uuid4().hex
        marker_dir = os.path.join(self.lake.path, TXN_DIR)

        def _abort() -> None:
            # A durable abort record: replays skip the pending snapshots
            # immediately (no 600 s checkpoint deferral) and vacuum can
            # GC the marker once checkpoints cover the snapshots.
            os.makedirs(marker_dir, exist_ok=True)
            try:
                fd = os.open(
                    os.path.join(marker_dir, f"{txn_id}.abort"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
            except FileExistsError:
                pass

        t0 = _time.time()
        versions: dict[str, int] = {}
        try:
            for name, payload in staged.items():
                versions[name] = self.lake._log(name).commit(
                    {
                        "operation": _staged_operation(payload),
                        "add": payload["add"],
                        "metrics": payload["metrics"],
                        "txn_pending": txn_id,
                    }
                )
        except BaseException:
            if versions:  # phase 1 failed partway: abort what landed
                _abort()
            raise
        if _time.time() - t0 > TXN_MARKER_TIMEOUT_S:
            _abort()
            raise LakeError(
                "multi-table transaction exceeded the marker window; "
                "its pending snapshots are aborted (nothing committed)"
            )
        os.makedirs(marker_dir, exist_ok=True)
        fd = os.open(
            os.path.join(marker_dir, f"{txn_id}.commit"),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
        os.close(fd)
        # A concurrent checkpointer on a skewed clock may have rolled a
        # checkpoint past our pending snapshots between their commit and
        # the marker flip, baking in their exclusion. Checkpoints are
        # derived caches: drop any at-or-after our snapshots so replay
        # re-derives state with the marker visible.
        for name, v in versions.items():
            self.lake._log(name).drop_checkpoints_at_or_after(v)
        return False
