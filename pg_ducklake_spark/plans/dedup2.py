"""Exact-substring window dedup over ``documents``.

The "long shared verbatim span" detector from Lee et al.,
*Deduplicating Training Data Makes Language Models Better* (ACL 2022):
two documents sharing any run of K consecutive tokens are near-dups
even when their Jaccard similarity is low (boilerplate headers, quoted
paragraphs). A true suffix array is a single-node construction; the
distributed equivalent is a rolling K-token window hash + equi-join —
candidate generation never leaves equi-join land, so it scales exactly
like the shingle/MinHash family (plans/dedup.py).

Hashes are the md5-derived h32 (functions/hashing.py) so the DuckDB
oracle computes bit-identical join keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_ducklake_spark.functions.hashing import sql_h32
from pg_ducklake_spark.operators import scoped_persist
from pg_ducklake_spark.plans import query, t

_K = 8  # window length in tokens


def _windows_kernel(batches):
    """Arrow-batched rolling-window hasher (r10 — the spans-kernel
    lesson applied here): per document, hash every K-token window to
    its md5-derived h32, deduped in-document. The r9 expression built
    each window with concat_ws + md5 + conv INSIDE a transform lambda,
    which Spark evaluates per element in interpreted mode — none of
    the per-window work reached codegen. Tokens are split(' ') WITHOUT
    empty-token filtering, and ' '.join keeps empty strings exactly
    like concat_ws over non-null elements, so the join keys stay
    bit-identical to the DuckDB oracle's."""
    import hashlib

    import pandas as pd

    for pdf in batches:
        ids: list[int] = []
        hashes: list[int] = []
        for did, txt in zip(pdf["doc_id"].values, pdf["text"].values):
            # NULL text reaches the kernel as None (no prefilter above —
            # keep parity with the oracle, which yields zero windows for
            # NULL rather than erroring).  r11 ADVICE fix.
            if not isinstance(txt, str):
                continue
            toks = txt.lower().split(" ")
            n = len(toks)
            if n < _K:
                continue
            seen: set[int] = set()
            for i in range(n - _K + 1):
                w = " ".join(toks[i : i + _K])
                h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
                if h not in seen:
                    seen.add(h)
                    ids.append(did)
                    hashes.append(h)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "wh": pd.Series(hashes, dtype="int64"),
            }
        )

_DUCK_WIN_ELEMS = ", ".join(f"toks[i + {j}]" for j in range(_K))
# DuckDB range(1, n) is [1, n); start i runs 1 .. len-K+1.
_DUCK_WINDOWS = f"""
list_distinct(list_transform(
  range(1, greatest(len(toks) - {_K - 2}, 1)),
  i -> {sql_h32(f"concat_ws(' ', {_DUCK_WIN_ELEMS})")}))
"""


@query(
    "dedup_substring_windows",
    oracle=f"""
    WITH win AS (
      SELECT doc_id, {_DUCK_WINDOWS.strip()} AS ws
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
            FROM documents) tk
    ),
    ex AS (SELECT doc_id, unnest(ws) AS wh FROM win)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM ex a JOIN ex b ON a.wh = b.wh AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_substring_windows(spark, sf_dir):
    """Document pairs sharing ≥3 distinct 8-token verbatim windows.

    Plan: tokenize + per-doc distinct rolling-window hashes in an
    Arrow-batched mapInPandas kernel (see _windows_kernel — the r9
    expression formulation ran every window's md5 in the interpreted
    lambda path) → prune windows seen in only one doc (lossless — a
    singleton window can never join) → self-equi-join on the window
    hash → pair count. At 100 TB the df-capped variant of the same
    pruning (drop boilerplate windows above a document-frequency cap,
    as in pipe_contamination_check) bounds the join's key skew."""
    docs = t(spark, sf_dir, "documents")
    # scoped_persist: the df-prune branch AND the join both consume
    # this frame — without it the kernel re-runs once per consumer.
    exploded = scoped_persist(
        docs.select("doc_id", "text").mapInPandas(
            _windows_kernel, "doc_id long, wh long"
        ),
    )
    shared = (
        exploded.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("wh")
    )
    joinable = exploded.join(shared, "wh")
    a = joinable.select(F.col("doc_id").alias("doc_a"), "wh")
    b = joinable.select(F.col("doc_id").alias("doc_b"), "wh")
    return (
        a.join(b, ["wh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_a", "doc_b", "n_shared")
        .orderBy("doc_a", "doc_b")
    )
