"""Metadata file skipping: prune a table's file list with per-file
min/max stats and partition values before Spark ever plans the scan.

This is the engine-side half of the reference's stats machinery
(``ducklake_file_column_stats`` / ``ducklake_file_partition_value``,
SURVEY.md §4.2); Spark's parquet footer pushdown then prunes row groups
within the surviving files. The caller always re-applies the full
predicate, so every rule below errs towards keeping a file:

- Only top-level ``AND`` conjuncts prune. A top-level ``OR`` (outside
  parentheses, quotes and ``CASE … END``) turns pruning off for the
  whole predicate: ``a = 1 AND c = 2 OR a = 900`` is
  ``(a = 1 AND c = 2) OR a = 900``, which no conjunct bounds. A
  comment in the predicate turns it off too.
- Two conjunct shapes prune: ``col <op> literal`` and
  ``col BETWEEN lo AND hi`` (both ends inclusive, as
  ``col >= lo AND col <= hi``); the ``AND`` of a ``BETWEEN`` belongs to
  it and does not split. ``NOT BETWEEN`` and every other shape prune
  nothing.
- A string literal prunes only a string column (against its stats or
  its unescaped identity-partition value); a numeric literal prunes
  only an integer or floating-point column, compared as Spark compares
  it: as a double against a float/double column, exactly against an
  integer column. An integer literal that a float cannot hold exactly
  does not prune a float column: with ``spark.sql.ansi.enabled`` off
  Spark rounds it to float (``f = 16777217`` is ``f = 16777216.0f``),
  with it on it compares both as doubles.
  Date, timestamp, decimal and binary columns are not pruned: their
  footer stats are strings that do not order like the values.
- A NaN min or max means "cannot prune" that column in that file:
  Spark sorts NaN above every number, so ``x > 5`` matches a NaN row,
  while every comparison against a NaN bound is false.
- A file written before its column's logical ADD never prunes on it:
  the scan reads that column there as NULL or its initial_default, not
  from the file, so the stats of a dropped column of the same name (or
  of one renamed away) say nothing about it.
"""

from __future__ import annotations

import decimal
import math
import re
import struct
import urllib.parse
from typing import TYPE_CHECKING, Any

from pyspark.sql import types as T

if TYPE_CHECKING:
    from pg_ducklake_spark.catalog import TableState

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# No backslash in a string literal: Spark would unescape it.
_LIT = r"'[^'\\]*'|-?\d+(?:\.\d+)?"
_CONJUNCT = re.compile(
    rf"^\s*(?P<col>{_IDENT})\s*(?P<op>=|==|!=|<>|<=|>=|<|>)\s*(?P<lit>{_LIT})\s*$"
)
_BETWEEN = re.compile(
    rf"^\s*(?P<col>{_IDENT})\s+BETWEEN\s+(?P<lo>{_LIT})\s+AND\s+(?P<hi>{_LIT})\s*$",
    re.IGNORECASE,
)
_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING = (T.FloatType, T.DoubleType)


def _split_conjuncts(where: str) -> list[str] | None:
    """Top-level AND conjuncts of ``where``, or None when they do not
    bound its matches (a top-level OR, a comment, unbalanced nesting)."""
    parts: list[str] = []
    buf: list[str] = []
    depth, i, n = 0, 0, len(where)
    between = False  # a top-level BETWEEN still owns the next AND
    while i < n:
        c = where[i]
        if c in "'\"`":
            j = i + 1
            while j < n and where[j] != c:
                j += 2 if where[j] == "\\" and c != "`" else 1
            buf.append(where[i : j + 1])
            i = j + 1
            continue
        if where.startswith(("--", "/*"), i):
            return None
        if c.isalnum() or c == "_":
            j = i
            while j < n and (where[j].isalnum() or where[j] == "_"):
                j += 1
            word = where[i:j].upper()
            if word == "CASE":
                depth += 1
            elif word == "END":
                depth -= 1
            elif depth == 0 and word == "OR":
                return None
            elif depth == 0 and word == "BETWEEN":
                between = True
            elif depth == 0 and word == "AND":
                if not between:
                    parts.append("".join(buf))
                    buf = []
                    i = j
                    continue
                between = False
            buf.append(where[i:j])
            i = j
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth < 0:
            return None
        buf.append(c)
        i += 1
    if depth != 0:
        return None
    parts.append("".join(buf))
    return parts


def _coerce(lit: str, dtype: T.DataType | None) -> Any:
    """The literal as Spark compares it with a ``dtype`` column, or None
    when its stats cannot prune it."""
    if lit.startswith("'"):
        return lit[1:-1] if isinstance(dtype, T.StringType) else None
    if isinstance(dtype, T.FloatType) and "." not in lit:
        return float(lit) if _float32_exact(int(lit)) else None
    if isinstance(dtype, _FLOATING):
        return float(lit)
    if isinstance(dtype, _INTEGRAL):
        return decimal.Decimal(lit) if "." in lit else int(lit)
    return None


def _float32_exact(v: int) -> bool:
    try:
        return struct.unpack("f", struct.pack("f", v))[0] == v
    except OverflowError:
        return False


def _conjuncts(where: str, schema: T.StructType | None) -> list[tuple]:
    """(column, op, comparable literal) for every pruning conjunct."""
    types = {f.name: f.dataType for f in (schema.fields if schema else [])}
    out = []
    for part in _split_conjuncts(where) or []:
        m = _CONJUNCT.match(part)
        if m:
            terms = [(m.group("col"), m.group("op"), m.group("lit"))]
        elif m := _BETWEEN.match(part):
            col = m.group("col")
            terms = [(col, ">=", m.group("lo")), (col, "<=", m.group("hi"))]
        else:
            continue
        for col, op, lit in terms:
            val = _coerce(lit, types.get(col))
            if val is not None:
                out.append((col, op, val))
    return out


def _is_nan(v: Any) -> bool:
    return isinstance(v, float) and math.isnan(v)


def _file_may_match(entry, col: str, op: str, lit: Any) -> bool:
    # Partition values are exact: prune equality/inequality on them first.
    pv = entry.partition_values.get(f"_p_{col}")
    if pv is not None and isinstance(lit, str):
        pv = urllib.parse.unquote(pv)  # hive path escaping
        if op in ("=", "=="):
            return pv == lit
        if op in ("!=", "<>"):
            return pv != lit
    st = entry.stats.get(col)
    if not st or st.get("min") is None or st.get("max") is None:
        return True  # no stats → cannot prune
    mn, mx = st["min"], st["max"]
    if _is_nan(mn) or _is_nan(mx):
        return True
    want = str if isinstance(lit, str) else (int, float)
    if not (isinstance(mn, want) and isinstance(mx, want)):
        return True  # stats of another type (e.g. before ALTER TYPE)
    if op in ("=", "=="):
        return mn <= lit <= mx
    if op in ("!=", "<>"):
        return not (mn == mx == lit)
    if op == "<":
        return mn < lit
    if op == "<=":
        return mn <= lit
    if op == ">":
        return mx > lit
    if op == ">=":
        return mx >= lit
    return True


def prune_files(state: "TableState", where: str) -> list[str]:
    """Relative paths of files that may contain predicate matches."""
    conjuncts = _conjuncts(where, state.schema)
    added = {c: state.added_at(c) for c, _o, _l in conjuncts}
    keep = []
    for path, entry in state.files.items():
        bs = entry.begin_snapshot
        # Stats are recorded under insert-time column names; a renamed
        # column's stats live under its physical name in older files.
        if all(
            added[c] > bs
            or _file_may_match(entry, state.physical_name(c, bs), o, l)
            for c, o, l in conjuncts
        ):
            keep.append(path)
    return keep
