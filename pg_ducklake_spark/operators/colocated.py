"""Co-located (storage-partitioned) joins over bucketed lake tables.

When two tables are written with the same ``bucket(n, key)`` partition
transform, rows with equal keys land in the same bucket on both sides.
``bucketed_join`` exploits that layout: it joins bucket b's files
against bucket b's files, one independent sub-join per bucket, and
unions the results — no global shuffle of either table. At 1000
executors the n sub-joins schedule in parallel and each touches 1/n of
the data; the classic Hive/Iceberg bucket-map-join, expressed with
plain DataFrame unions.

Late bucketing follows the lake's partition contract (new files only):
files written before the bucket spec carry no bucket directory and are
handled by one residual shuffle join, so the operator is correct at any
point of a table's bucketing migration (OPTIMIZE/vacuum rewrites them
into buckets over time).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, functions as F

from pg_ducklake_spark.errors import LakeError
from pg_ducklake_spark.lake import inline_df

if TYPE_CHECKING:
    from pg_ducklake_spark.lake import Lake

_BUCKET_SPEC_RE = re.compile(r"^bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)$", re.I)


def bucket_spec_of(lake: "Lake", table: str) -> tuple[int, str] | None:
    """(n_buckets, column) if the table's partition spec has a bucket
    transform, else None."""
    for entry in lake.get_partition(table):
        m = _BUCKET_SPEC_RE.match(entry.strip())
        if m:
            return int(m.group(1)), m.group(2)
    return None


def _files_by_bucket(
    lake: "Lake", table: str, col: str
) -> tuple[dict[int, list[str]], list[str]]:
    """Group a table's current data files by bucket id (parsed from the
    ``_p_bucket_<col>=N`` path segment); files predating the bucket spec
    go to the residual list."""
    state = lake._state(table)
    marker = f"_p_bucket_{col}="
    buckets: dict[int, list[str]] = {}
    residual: list[str] = []
    for rel in state.files:
        idx = rel.find(marker)
        if idx == -1:
            residual.append(rel)
            continue
        val = rel[idx + len(marker):].split("/", 1)[0]
        buckets.setdefault(int(val), []).append(rel)
    return buckets, residual


def bucketed_join(
    lake: "Lake",
    left: str,
    right: str,
    key: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join two lake tables bucketed by the same ``bucket(n, key)``.

    Each bucket joins only against its twin; the union of per-bucket
    joins replaces the two table-wide shuffle exchanges a plain join
    would need. Inline-buffer rows and pre-bucketing files fall back to
    one residual ordinary join, so results are always exact.
    """
    if how != "inner":
        raise LakeError(
            "bucketed_join supports inner joins only: the bucket/residual "
            "decomposition would duplicate outer-side rows across pieces"
        )
    ls = bucket_spec_of(lake, left)
    rs = bucket_spec_of(lake, right)
    if ls is None or rs is None:
        raise LakeError(
            f"bucketed_join requires bucket(n, key) partition specs on both "
            f"tables (got {left}: {ls}, {right}: {rs})"
        )
    if ls != rs:
        raise LakeError(
            f"bucket specs differ: {left}={ls} vs {right}={rs} — "
            "co-location requires identical (n, column)"
        )
    n, col = ls
    key = key or col

    lstate, rstate = lake._state(left), lake._state(right)
    lschema, rschema = lstate.schema, rstate.schema
    lbuckets, lresidual = _files_by_bucket(lake, left, col)
    rbuckets, rresidual = _files_by_bucket(lake, right, col)

    # Inline-buffer rows are unbucketed by definition.
    linline = inline_df(lake.spark, lstate, lschema)
    rinline = inline_df(lake.spark, rstate, rschema)

    pieces: list[DataFrame] = []
    for b in sorted(set(lbuckets) & set(rbuckets)):
        lb = lake._read_files(left, lstate, lschema, rels=lbuckets[b])
        rb = lake._read_files(right, rstate, rschema, rels=rbuckets[b])
        pieces.append(lb.join(rb, on=key, how=how))

    # Residual: anything unbucketed on either side joins the other
    # side's full table the ordinary way (one shuffle over the small
    # migrating remainder, not the whole data).
    lres_parts = [
        p
        for p in (
            lake._read_files(left, lstate, lschema, rels=lresidual) if lresidual else None,
            linline,
        )
        if p is not None
    ]
    rres_parts = [
        p
        for p in (
            lake._read_files(right, rstate, rschema, rels=rresidual) if rresidual else None,
            rinline,
        )
        if p is not None
    ]
    if lres_parts:
        lres = lres_parts[0]
        for p in lres_parts[1:]:
            lres = lres.unionByName(p)
        pieces.append(lres.join(lake.table(right), on=key, how=how))
    if rres_parts:
        rres = rres_parts[0]
        for p in rres_parts[1:]:
            rres = rres.unionByName(p)
        # Avoid double-counting: residual-left already joined ALL of
        # right, so residual-right joins only the bucketed+inline left
        # complement — i.e. everything except left's residual files.
        lbucketed_rels = [r for rels in lbuckets.values() for r in rels]
        lcomp_parts = [
            p
            for p in (
                lake._read_files(left, lstate, lschema, rels=lbucketed_rels)
                if lbucketed_rels
                else None,
            )
            if p is not None
        ]
        if lcomp_parts:
            pieces.append(lcomp_parts[0].join(rres, on=key, how=how))

    if not pieces:
        empty = lake.table(left).join(lake.table(right), on=key, how=how)
        return empty.limit(0)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
