"""Streaming operators.

Scale notes: the file-source stream lists only *new* files per
micro-batch (checkpointed offsets), so a lake table with append-heavy
traffic streams incrementally regardless of its total size; watermarks
bound state for late data; applyInPandasWithState state lives in the
state store, partitioned by key — the standard 1000-executor layout.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from pg_ducklake_spark.lake import Lake


def stream_lake_appends(lake: "Lake", table: str) -> DataFrame:
    """A lake table as an append-only stream: every snapshot's new data
    files become a micro-batch (deletes/updates are NOT reflected —
    pair with ``table_changes`` for full CDC semantics)."""
    import os

    state = lake._state(table)
    schema = state.schema
    data_dir = os.path.join(lake._table_dir(table), "data")
    os.makedirs(data_dir, exist_ok=True)
    return (
        lake.spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(data_dir)
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped; state is bounded).

    Spark watermarks require TIMESTAMP (not NTZ) event time; NTZ columns
    are cast using the session timezone, which is fine for windowing
    because only differences matter.
    """
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    group_cols = [F.window(F.col(ts_col), window)] + [F.col(k) for k in (keys or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *[F.col(k) for k in (keys or [])],
            "n",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    content_col: str = "text",
    watermark: str = "24 hours",
) -> DataFrame:
    """Streaming exact dedup: emit each content digest's first arrival
    only, dropping re-sends within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per digest
    and expires it once the watermark passes — bounded state, unlike a
    plain ``dropDuplicates`` whose state grows forever. At 100 TB-of-
    stream scale the digest (16 bytes) is the only per-key state, hash-
    partitioned across the cluster's state stores."""
    withd = docs.withColumn("_digest", F.md5(F.col(content_col))).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    return withd.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["_digest"]
    )


_RT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_RT_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def running_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running totals that survive across micro-batches (the
    'custom operator the engine lacks' pattern from the north star)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "total_events": [n], "total_value": [v]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_RT_OUT,
        stateStructType=_RT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("session_start_us", T.LongType(), False),
        T.StructField("session_end_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("closed_by", T.StringType(), False),  # gap | timeout
    ]
)

_SESS_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def streaming_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    idle_timeout_minutes: int = 60,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator
    — the streaming twin of the batch ``events_sessionized_gap`` query.

    Per user, events accumulate into an open session; an event more
    than ``gap_minutes`` after the previous one CLOSES the session
    (emitted with ``closed_by='gap'``) and opens a new one. A
    processing-time timeout closes sessions for users who simply stop
    sending (``closed_by='timeout'``) — without it, open-session state
    for dead users would accumulate forever; with it, state is bounded
    by the active-user set (the watermark/timeout discipline the north
    star requires of custom stateful operators).

    Events must carry ``user_id`` and ``ts`` (timestamp). Within a
    micro-batch, events are processed in ts order per user; state
    holds only (start, last, count) — O(1) per user.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        uid = key[0]
        out = {k.name: [] for k in _SESS_OUT.fields}

        def emit(start, last, n, why):
            out["user_id"].append(uid)
            out["session_start_us"].append(int(start))
            out["session_end_us"].append(int(last))
            out["n_events"].append(int(n))
            out["closed_by"].append(why)

        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                emit(start, last, n, "timeout")
            state.remove()
            yield pd.DataFrame(out)
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        # A group's micro-batch data can arrive as SEVERAL Arrow chunks;
        # sorting per chunk would process events out of global ts order
        # whenever a user spans chunks. State stays O(1), but the batch
        # must be ordered as a whole: concatenate, then sort once.
        chunks = [pd.to_datetime(pdf["ts"]).astype("int64") // 1000 for pdf in pdfs]
        ts_all = pd.concat(chunks).sort_values() if chunks else pd.Series([], dtype="int64")
        for t_us in ts_all:
            t_us = int(t_us)
            if start is None:
                start, last, n = t_us, t_us, 1
            elif t_us - last > gap_us:
                emit(start, last, n, "gap")
                start, last, n = t_us, t_us, 1
            else:
                # Cross-batch stragglers (t_us <= last possible when a
                # late event lands in a later micro-batch) extend the
                # session's count but never move its end backwards.
                last, n = max(last, t_us), n + 1
        if start is not None:
            state.update((start, last, n))
            state.setTimeoutDuration(idle_timeout_minutes * 60 * 1000)
        yield pd.DataFrame(out)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_SESS_OUT,
        stateStructType=_SESS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_MHD_OUT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dup_of", T.LongType(), False),
        T.StructField("est_jaccard", T.DoubleType(), False),
        T.StructField("band_id", T.IntegerType(), False),
    ]
)

# Per-bucket state: parallel arrays — member ids and their flattened
# signatures (row-major, k values per id). Flat because the state store
# schema cannot hold nested arrays.
_MHD_STATE = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.LongType())),
    ]
)


def streaming_minhash_dedup(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
    idle_timeout_minutes: int | None = 60,
    max_bucket: int = 256,
) -> DataFrame:
    """Streaming NEAR-dup detection: the streaming twin of the batch
    MinHash+LSH operator. Each arriving document is checked against
    every previously seen document that shares an LSH band bucket; a
    hit emits (doc_id, dup_of, est_jaccard, band_id) where ``dup_of``
    is the best earlier match in that bucket (highest signature
    agreement, smallest id on ties). A document can hit in several
    bands — downstream, aggregate per doc_id (max est / min dup_of)
    exactly as the batch pipeline dedupes its candidate pairs.

    Layout: the MinHash signature is computed MAP-SIDE with built-in
    expressions (shingle → md5-derived 32-bit hash → k seeded
    permutations → array_min), so the only stateful work is the bucket
    probe; state is partitioned by (band_id, band_key) across the
    cluster's state stores. State is bounded two ways: an idle bucket
    expires after ``idle_timeout_minutes`` (a near-dup horizon, like
    streaming_exact_dedup's watermark), and a bucket retains at most
    ``max_bucket`` member signatures (overflowing docs are still
    checked against the bucket but no longer enroll — a hot bucket is
    a degenerate band key, and unbounded enrollment there is exactly
    the skew that kills a naive design).

    Documents with fewer than ``shingle_n`` tokens have no signature
    and pass through unchecked (same convention as the batch operator).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pg_ducklake_spark.functions.hashing import MERSENNE31, minhash_coeffs
    from pg_ducklake_spark.operators.dedup import shingle_sql

    if k % bands:
        raise ValueError(f"k={k} not divisible by bands={bands}")
    r = k // bands
    coeffs = minhash_coeffs(k)

    hashes = (
        "transform(_shingles, s ->"
        " CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
    )
    sig = "array(" + ", ".join(
        f"array_min(transform(_hashes, h -> (h * {a}L + {b}L) % {MERSENNE31}L))"
        for a, b in coeffs
    ) + ")"
    band_structs = ", ".join(
        f"named_struct('band_id', {band}, 'band_key', concat_ws(',', "
        + ", ".join(f"CAST(_sig[{band * r + i}] AS STRING)" for i in range(r))
        + "))"
        for band in range(bands)
    )
    prepared = (
        docs.withColumn("toks", F.split(F.lower(content_col), " "))
        .withColumn("_shingles", F.expr(shingle_sql(shingle_n)))
        .filter(F.size("_shingles") > 0)
        .withColumn("_hashes", F.expr(hashes))
        .withColumn("_sig", F.expr(sig))
        .selectExpr(
            f"{id_col} AS doc_id", "_sig",
            f"explode(array({band_structs})) AS bk",
        )
        .select("doc_id", "_sig", "bk.band_id", "bk.band_key")
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        band_id = int(key[0])
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({f.name: [] for f in _MHD_OUT.fields})
            return
        ids, sigs = state.get if state.exists else ([], [])
        ids, sigs = list(ids), list(sigs)
        out = {"doc_id": [], "dup_of": [], "est_jaccard": [], "band_id": []}
        chunks = list(pdfs)  # materialize: an iterator is always truthy
        batch = pd.concat(chunks) if chunks else None
        if batch is not None and len(batch):
            for _, row in batch.sort_values("doc_id").iterrows():
                sig_new = list(row["_sig"])
                best_est, best_id = -1.0, None
                for m, member in enumerate(ids):
                    off = m * len(sig_new)
                    matches = sum(
                        1
                        for i in range(len(sig_new))
                        if sigs[off + i] == sig_new[i]
                    )
                    est = matches / len(sig_new)
                    if est > best_est or (est == best_est and member < best_id):
                        best_est, best_id = est, member
                if best_id is not None and best_est >= threshold:
                    out["doc_id"].append(int(row["doc_id"]))
                    out["dup_of"].append(int(best_id))
                    out["est_jaccard"].append(float(best_est))
                    out["band_id"].append(band_id)
                if len(ids) < max_bucket:
                    ids.append(int(row["doc_id"]))
                    sigs.extend(int(v) for v in sig_new)
        state.update((ids, sigs))
        if idle_timeout_minutes is not None:
            state.setTimeoutDuration(idle_timeout_minutes * 60 * 1000)
        yield pd.DataFrame(out)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return prepared.groupBy("band_id", "band_key").applyInPandasWithState(
        update,
        outputStructType=_MHD_OUT,
        stateStructType=_MHD_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


_TK_OUT = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("count_upper", T.LongType(), False),
        T.StructField("count_lower", T.LongType(), False),
    ]
)

# Space-Saving summary as parallel arrays (the state store cannot hold
# maps): tracked tokens, their upper-bound counts, and the insertion
# error (count of the entry each one evicted).
_TK_STATE = T.StructType(
    [
        T.StructField("toks", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("errs", T.ArrayType(T.LongType())),
    ]
)


def streaming_token_topk(
    docs: DataFrame,
    text_col: str = "text",
    capacity: int = 64,
    n_buckets: int = 32,
    emit_top: int = 10,
) -> DataFrame:
    """Streaming heavy-hitter tokens with BOUNDED state: Space-Saving
    (Metwally et al. 2005) summaries, one per hash bucket.

    Tokens shard by ``h32(token) % n_buckets`` — each token lives in
    exactly ONE bucket, so per-bucket summaries compose into a global
    top-k without double counting, and state is capped at
    ``n_buckets * capacity`` counters no matter how many distinct
    tokens the stream carries (the property plain streaming
    aggregation lacks: its state grows with the vocabulary). Each
    micro-batch first collapses to per-token deltas (pandas
    value_counts — the map-side combine), then applies the classic
    update: tracked -> add; room -> insert exact; full -> evict the
    min-count entry m and insert with count = m.count + delta,
    err = m.count. Space-Saving guarantees
    true_count <= count_upper and count_upper - err <= true_count
    per bucket stream; both bounds are emitted so a consumer can see
    the uncertainty. Per trigger each bucket emits its current top
    ``emit_top`` (count desc, token asc — deterministic).

    At scale: buckets are the parallelism unit (state-store
    partitions); capacity trades memory for error (err <=
    bucket_stream_len / capacity)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pg_ducklake_spark.functions.hashing import h32

    toks = docs.select(
        F.explode(F.split(F.lower(text_col), " ")).alias("token")
    ).filter(F.col("token") != "")
    keyed = toks.withColumn("bucket", h32(F.col("token")) % n_buckets)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - NoTimeout below
            state.remove()
            yield pd.DataFrame({f.name: [] for f in _TK_OUT.fields})
            return
        toks_s, counts_s, errs_s = (
            state.get if state.exists else ([], [], [])
        )
        summary = {
            t: [c, e] for t, c, e in zip(toks_s, counts_s, errs_s)
        }
        chunks = list(pdfs)  # materialize: an iterator is always truthy
        batch = pd.concat(chunks) if chunks else pd.DataFrame({"token": []})
        # per-batch combine, then deterministic application order
        deltas = batch["token"].value_counts().sort_index()
        for tok, delta in deltas.items():
            delta = int(delta)
            if tok in summary:
                summary[tok][0] += delta
            elif len(summary) < capacity:
                summary[tok] = [delta, 0]
            else:
                evict = min(summary.items(), key=lambda kv: (kv[1][0], kv[0]))
                m = evict[1][0]
                del summary[evict[0]]
                summary[tok] = [m + delta, m]
        items = sorted(summary.items())
        state.update(
            (
                [t for t, _ in items],
                [c for _, (c, _) in items],
                [e for _, (_, e) in items],
            )
        )
        top = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))[
            :emit_top
        ]
        yield pd.DataFrame(
            {
                "bucket": [key[0]] * len(top),
                "token": [t for t, _ in top],
                "count_upper": [c for _, (c, _) in top],
                "count_lower": [c - e for _, (c, e) in top],
            }
        )

    return keyed.groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_TK_OUT,
        stateStructType=_TK_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
