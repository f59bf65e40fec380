"""MERGE INTO (upsert) for lake tables.

The reference does NOT support MERGE (reference:
docs/ducklake_feature_coverage.md:12) — this is the Spark-native bonus
SURVEY.md §2.B flags. Delta-style semantics, simplified:

    merge(lake, target, source, on=[keys],
          when_matched_update={col: expr} | None,
          when_matched_delete=False,
          when_not_matched_insert=True | {col: expr})

``expr`` strings may reference ``source.<col>`` and ``target.<col>``.
Multiple source rows hitting one target row raise (same contract as
Delta); source rows with a NULL key part never match and are inserted.
Matched target files are rewritten copy-on-write (reading through any
delete files); unmatched source rows append as new files; one snapshot
commits everything with update/insert/delete counts and a full change
feed.

Scale: the source is cached for the call and read by one aggregate
(row count, repeated keys, min/max of each integer key). Those bounds
prune the target's files by their min/max stats, so the match probe
scans only candidate files (plus the inline buffer). The affected files
are then read twice: by one data write of (affected LEFT JOIN source) ∪
(source anti-joined with the affected files' keys — a key that matches
lives in an affected file) and by one change-feed write.
"""

from __future__ import annotations

import os
import uuid
from functools import reduce
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_ducklake_spark.catalog import CDF_DIR
from pg_ducklake_spark.errors import LakeError
from pg_ducklake_spark.operators.pruning import prune_files

if TYPE_CHECKING:
    from pg_ducklake_spark.lake import Lake

#: Merge sources at or below this row count get their key set broadcast
#: to the affected-file probe (one map-side join, no shuffle of the
#: target scan) and their inserts written as one file. Above it, the
#: hint is omitted and the join shuffles on the merge keys — AQE may
#: still demote it to broadcast at runtime.
BROADCAST_SOURCE_ROWS = 100_000

#: ``_dl_fp`` of inline-buffer rows in the probe (no file URI has it).
_INLINE = "inline:"


def merge(
    lake: "Lake",
    target: str,
    source: DataFrame,
    on: list[str],
    when_matched_update: dict[str, str] | None = None,
    when_matched_delete: bool = False,
    when_not_matched_insert: bool | dict[str, str] = True,
    message: str | None = None,
) -> dict[str, int]:
    """Returns {"num_updated": u, "num_deleted": d, "num_inserted": i}."""
    if when_matched_update and when_matched_delete:
        raise LakeError("choose when_matched_update OR when_matched_delete")
    lake._check_writable()
    lake._check_message(target, message)
    state = lake._state(target)
    schema = state.schema
    table_dir = lake._table_dir(target)
    tcols = [f.name for f in schema.fields]
    for k in on:
        if k not in tcols:
            raise LakeError(f"merge key {k!r} not in target {target!r}")
        if k not in source.columns:
            raise LakeError(f"merge key {k!r} not in source")
    rewrite = bool(when_matched_update or when_matched_delete)
    nothing = {"num_updated": 0, "num_deleted": 0, "num_inserted": 0}

    src = source.alias("source").persist()
    try:
        # 1. One pass over the source: its row count, whether a non-NULL
        # key repeats (Delta contract: a target row must match at most
        # one source row), and the bounds of every integer key.
        ints = [
            k for k in on
            if isinstance(schema[k].dataType, T.IntegralType)
            and isinstance(src.schema[k].dataType, T.IntegralType)
        ]
        by_key = src.groupBy(*on).count()
        non_null = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in on])
        stats = by_key.agg(
            F.sum("count").alias("n"),
            F.max(F.when(non_null, F.col("count"))).alias("rep"),
            *[F.min(k).alias(f"lo{i}") for i, k in enumerate(ints)],
            *[F.max(k).alias(f"hi{i}") for i, k in enumerate(ints)],
        ).collect()[0]
        if (stats["rep"] or 0) > 1:
            dup = by_key.filter(non_null & (F.col("count") > 1)).first()
            raise LakeError(
                f"merge source has duplicate keys (e.g. {dict((k, dup[k]) for k in on)})"
                " — each target row must match at most one source row"
            )
        n_src = stats["n"] or 0
        if n_src == 0:
            return nothing
        small = n_src <= BROADCAST_SOURCE_ROWS

        # 2. Per-file match counts over the files whose key stats overlap
        # the source bounds (an all-NULL key adds no conjunct), plus the
        # inline buffer under a sentinel path.
        where = " AND ".join(
            f"{k} >= {stats[f'lo{i}']} AND {k} <= {stats[f'hi{i}']}"
            for i, k in enumerate(ints)
            if stats[f"lo{i}"] is not None
        )
        probe = lake._read_files(
            target, state, schema, rels=prune_files(state, where), keep_meta=True
        ).select("_dl_fp", *on)
        inline = lake._inline_df(state, schema)
        if inline is not None:
            probe = probe.unionByName(
                inline.select(F.lit(_INLINE).alias("_dl_fp"), *on)
            )
        keys = src.select(*on)
        hits = dict(
            probe.join(F.broadcast(keys) if small else keys, on)  # bcast-ok: guarded by the exact source row count (BROADCAST_SOURCE_ROWS)
            .groupBy("_dl_fp")
            .count()
            .collect()
        )
        # Inline-buffer rows are not merged in v1 — refuse loudly.
        if hits.pop(_INLINE, 0):
            raise LakeError(
                "merge into tables with matching unflushed inline rows is "
                "unsupported; run flush_inlined_data() first"
            )
        file_counts = {lake._uri_to_rel(table_dir, fp): n for fp, n in hits.items()}
        n_matched = sum(file_counts.values())
        if not when_not_matched_insert and not (rewrite and file_counts):
            return nothing

        # 3. One data write: rewritten affected files ∪ inserts.
        affected = None
        if file_counts:
            affected = lake._read_files(
                target, state, schema, rels=sorted(file_counts)
            ).alias("target")
        data, cdf = [], []
        if rewrite and affected is not None:
            # Matched marker: a literal carried on the source side (robust
            # to NULLs in real source columns).
            joined = affected.join(src.withColumn("_dl_m", F.lit(1)), on, "left")
            is_matched = F.col("_dl_m").isNotNull()
            old = {c: F.col(c if c in on else f"target.{c}") for c in tcols}
            matched = joined.filter(is_matched)
            if when_matched_delete:
                data.append(joined.filter(~is_matched).select(*old.values()))
                cdf.append(matched.select(*old.values(), F.lit("delete").alias("_change_type")))
            else:
                new = {
                    f.name: F.expr(when_matched_update[f.name]).cast(f.dataType)
                    if f.name in when_matched_update else old[f.name]
                    for f in schema.fields
                }
                data.append(joined.select(*[
                    F.when(is_matched, new[c]).otherwise(old[c]).alias(c) for c in tcols
                ]))
                # Both images from one evaluation of the join.
                cdf.append(matched.select(F.inline(F.array(*[
                    F.struct(*[cols[c].alias(c) for c in tcols], F.lit(kind).alias("_change_type"))
                    for cols, kind in ((old, "update_preimage"), (new, "update_postimage"))
                ]))))

        observed = None
        if when_not_matched_insert:
            unmatched = (
                src if affected is None
                else src.join(affected.select(*on), on, "left_anti")
            )
            exprs = when_not_matched_insert if isinstance(when_not_matched_insert, dict) else {}
            ins = unmatched.select(*[
                (F.expr(exprs.get(f.name, "NULL"))
                 if f.name in exprs or f.name not in unmatched.columns
                 else F.col(f.name)).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
            if small:
                ins = ins.coalesce(1)
            observed = Observation()
            data.append(ins.observe(observed, F.count(F.lit(1)).alias("n")))

        add = lake._write_data(
            table_dir, reduce(DataFrame.unionByName, data), state.partition_spec,
            schema=schema, options=lake.options(target),
        )
        res = {
            "num_updated": n_matched if rewrite and not when_matched_delete else 0,
            "num_deleted": n_matched if when_matched_delete else 0,
            "num_inserted": observed.get["n"] if observed is not None else 0,
        }
        if not any(res.values()):
            return res

        # 4. One change-feed write of pre/post-images and inserts.
        if res["num_inserted"]:
            cdf.append(ins.withColumn("_change_type", F.lit("insert")))
        cdf_rel = f"{CDF_DIR}/{uuid.uuid4().hex}"
        reduce(DataFrame.unionByName, cdf).write.parquet(
            os.path.join(table_dir, cdf_rel)
        )
        lake._commit_dml(
            target, state, operation="MERGE", add=add,
            remove=sorted(file_counts) if rewrite else [],
            inline_remove=[], inline_changes=[], metrics=res,
            cdf_path=cdf_rel, message=message, touched=sorted(file_counts),
        )
        return res
    finally:
        src.unpersist()
