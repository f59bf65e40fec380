"""Deduplication operators: the parameterized library surface that the
oracle-verified plans in plans/dedup.py, plans/graph.py,
plans/curation.py and plans/pipeline.py call with fixed arguments.

All candidate generation is equi-join based (shingle / LSH band /
signature-byte blocking) — no operator here ever cross-joins the corpus,
so every one survives a 100 TB document table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pg_ducklake_spark.functions.hashing import h32, minhash_coeffs, sql_minhash
from pg_ducklake_spark.operators import scoped_persist


def exact_dedup(df: DataFrame, cols: list[str] | None = None, keep: str = "first",
                order_col: str | None = None) -> DataFrame:
    """Drop exact duplicates over ``cols`` (default: all columns).

    With ``order_col``, keeps the row with the smallest (keep='first') or
    largest (keep='last') value per group — deterministic, unlike
    dropDuplicates. One shuffle on the dedup key hash.
    """
    subset = cols or df.columns
    if order_col is None:
        return df.dropDuplicates(subset)
    direction = F.asc(order_col) if keep == "first" else F.desc(order_col)
    w = Window.partitionBy(*subset).orderBy(direction)
    return (
        df.withColumn("_dl_rn", F.row_number().over(w))
        .filter(F.col("_dl_rn") == 1)
        .drop("_dl_rn")
    )


def posting_pairs(
    df: DataFrame, key: str | list[str], member: str | Column
) -> DataFrame:
    """Every in-group pair ``(a, b)``, ``a < b``, of ``member`` values
    sharing the same ``key`` — the candidate step of a distributed
    set-similarity join (Vernica, Carey & Li, SIGMOD 2010).

    ONE shuffle keyed on ``key`` builds each group's sorted posting
    list; groups of one member emit nothing, so singleton pruning is
    free. Versus a self-equi-join on ``key`` this drops the mirror join
    side's exchange and the join stage. The pairs come from two chained
    generators: posexplode picks the left element, then a slice-explode
    emits its suffix partners. Spark's Generate operator STREAMS
    generator output, so per-row memory is O(len(list)) — the n^2 pair
    volume of a hot key spreads over n streamed rows, never one
    n^2-element array inside a single row (a stopword shingle would OOM
    a task under the flatten(transform(...)) formulation). ``member``
    may be a struct whose first field orders the pair; members must be
    distinct within a group. Callers that only rename ``a``/``b`` do so
    in their final projection: a rename right above the generators
    plans as one more Project node."""
    keys = [key] if isinstance(key, str) else key
    return (
        df.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("dl"))
        .filter(F.size("dl") >= 2)
        .select(F.col("dl"), F.posexplode("dl").alias("i", "a"))
        .select("a", F.explode(F.expr("slice(dl, i + 2, size(dl))")).alias("b"))
    )


def shingle_sql(n: int = 3) -> str:
    """SQL for the distinct word n-grams of the token array ``toks``.

    The ELSE branch must be a *typed* empty array — a bare array() is
    ARRAY<NULL> and the resulting coercion of the THEN branch knocks
    the whole expression out of whole-stage codegen (~5x slower)."""
    gram = ", ".join(
        ["element_at(toks, i)"] + [f"element_at(toks, i + {j})" for j in range(1, n)]
    )
    return f"""
CASE WHEN size(toks) >= {n} THEN
  array_distinct(transform(sequence(1, size(toks) - {n - 1}),
    i -> concat_ws(' ', {gram})))
ELSE CAST(array() AS ARRAY<STRING>) END
"""


def shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(id, *keep, shingles): the distinct word n-grams of the
    lowercased, single-space-split text, as one array per row."""
    return df.select(
        F.col(id_col).alias("id"), *keep, F.split(F.lower(text_col), " ").alias("toks")
    ).select("id", *keep, F.expr(shingle_sql(n)).alias("shingles"))


def shingle(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs: distinct word n-grams of the lowercased text."""
    # explode_outer + notnull, not plain explode: an inner Generate
    # derives a pushable size(shingles) > 0 pre-filter that re-evaluates
    # the whole shingle expression per row, interpreted.
    return (
        shingle_arrays(df, text_col, id_col, n)
        .select("id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, threshold: float = 0.8, n: int = 3
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold) by word
    n-gram Jaccard; candidates from grouped shingle posting lists
    (:func:`posting_pairs`). A stopword shingle's posting list is
    quadratic under ANY pair-enumeration strategy; this operator keeps
    exact semantics and caps nothing."""
    # r12 (guide §2.3/§2.4): per-doc set sizes are the LENGTH of the
    # map-side shingle array — computed before the explode, carried
    # through the posting list as (id, n) structs. Versus the previous
    # exploded-rows groupBy-count + two size joins this removes one
    # full aggregate exchange, two join stages, and the persist of the
    # exploded shingle table; the postings shuffle carries 8 extra
    # bytes per entry. Results are identical (same pairs, same
    # inter/union arithmetic).
    exploded = (
        shingle_arrays(df, text_col, id_col, n)
        .select(
            "id",
            F.size("shingles").cast("long").alias("n"),
            F.explode_outer("shingles").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    inter = (
        posting_pairs(exploded, "shingle", F.struct("id", "n"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.n").alias("na"),
            F.col("b.id").alias("id_b"),
            F.col("b.n").alias("nb"),
        )
        # r13 (guide §2.3 narrower keys): 2-long pair grouping key; na/nb
        # are functionally dependent on the ids, recovered exactly by
        # max() (interleaved A/B medians 2.32 -> 2.12 s at sf0.1).
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (id_a < id_b) with estimated
    Jaccard.

    k permutations split into ``bands`` bands; a pair collides when any
    band matches. Probability of detection ≈ 1-(1-j^r)^b with r = k/bands
    — tune (k, bands) to the target threshold. Candidate generation is
    a posting-list pass over (band, bucket) keys — no cross join.
    """
    assert k % bands == 0, "k must be divisible by bands"
    rows = k // bands
    coeffs = minhash_coeffs(k, seed)
    # Project the md5-derived hash once; the k min-aggregates then cost
    # one multiply-add each instead of k md5 computations per shingle.
    hashed = shingle(df, text_col, id_col, n).select("id", h32("shingle").alias("h"))
    # Persist: the signature table is tiny (one row per doc) but feeds the
    # band explode AND both sides of the verification join — without it
    # the whole shingle→md5 pipeline re-runs per consumer (measured at
    # sf0.1 on dedup_minhash_lsh: 1.40 s with it, 1.82 s without).
    # r12: one named_struct aggregate expression = one JVM round trip
    # for all k mins (was k RPCs per build); executed plan unchanged
    # (struct wrap + field reads collapse).
    sigs = scoped_persist(
        hashed.groupBy("id")
        .agg(
            F.expr(
                "named_struct("
                + ", ".join(
                    f"'mh{i}', min({sql_minhash('h', a, b)})"
                    for i, (a, b) in enumerate(coeffs)
                )
                + ")"
            ).alias("s")
        )
        .select("id", "s.*")
    )
    band_structs = ", ".join(
        f"struct(CAST({band} AS INT) AS band_id, concat_ws('_', "
        + ", ".join(
            f"cast(mh{band * rows + r} as string)" for r in range(rows)
        )
        + ") AS band_key)"
        for band in range(bands)
    )
    banded = sigs.selectExpr(
        "id", f"explode(array({band_structs})) AS bk"
    ).select("id", "bk.band_id", "bk.band_key")
    # r12 (guide §2.4): the signature verification joins stay joins —
    # carrying k signature columns through every posting entry would
    # multiply the band shuffle; the ≤|candidates| joins against the
    # persisted sigs table are the cheaper attach.
    cands = posting_pairs(banded, ["band_id", "band_key"], "id").distinct()
    sa = sigs.selectExpr("id AS a", *[f"mh{i} AS a{i}" for i in range(k)])
    sb = sigs.selectExpr("id AS b", *[f"mh{i} AS b{i}" for i in range(k)])
    est = F.expr(
        "CAST("
        + " + ".join(f"IF(a{i} = b{i}, 1, 0)" for i in range(k))
        + f" AS DOUBLE) / {k}"
    )
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"), "est_jaccard")
    )


def dedupe_keep_first(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Remove near-duplicates given a pair list: drops every id that
    appears as id_b of a pair whose id_a survives transitively.

    Single-pass approximation of connected components: keep an id unless
    it is dominated by any smaller id (id_b side of a pair). Exact for
    star-shaped duplicate clusters (the common case); chains of length
    > 2 may keep an intermediate — run to fixpoint if exactness matters.
    """
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def incremental_jaccard_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    threshold: float = 0.8,
    n: int = 3,
    corpus_shingles: DataFrame | None = None,
    corpus_sizes: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs introduced by an append batch, WITHOUT re-joining
    the corpus against itself — the per-batch maintenance step of a
    continuously-deduped lake. Returns (new_id, other_id, other_is_new,
    jaccard): each new document against both the pre-existing corpus
    (other_is_new = false) and the rest of its own batch (true,
    emitted once with new_id < other_id).

    Scale shape: the join input is delta's shingles probing the
    corpus's shingles — cost grows with the BATCH, not the corpus²;
    corpus-side shingles/sizes can be passed in precomputed
    (``corpus_shingles`` / ``corpus_sizes``), which at 100 TB is a
    maintained index table appended alongside the data rather than
    recomputed per batch. Pairs among delta docs agree exactly with a
    full :func:`jaccard_pairs` recompute (same shingles, same metric).
    """
    d_sh = shingle(delta, text_col, id_col, n).persist()
    c_sh = (
        corpus_shingles
        if corpus_shingles is not None
        else shingle(corpus, text_col, id_col, n)
    )
    d_sizes = d_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    c_sizes = (
        corpus_sizes
        if corpus_sizes is not None
        else c_sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    a = d_sh.select(F.col("id").alias("new_id"), "shingle")
    b = c_sh.select(
        F.col("id").alias("other_id"), "shingle"
    ).withColumn("other_is_new", F.lit(False)).unionByName(
        d_sh.select(F.col("id").alias("other_id"), "shingle").withColumn(
            "other_is_new", F.lit(True)
        )
    )
    inter = (
        a.join(b, "shingle")
        # new-vs-old: every cross pair (an updated row is never compared
        # with its own pre-image); new-vs-new: once, smaller id first
        .filter(
            (~F.col("other_is_new") & (F.col("new_id") != F.col("other_id")))
            | (F.col("other_is_new") & (F.col("new_id") < F.col("other_id")))
        )
        .groupBy("new_id", "other_id", "other_is_new")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = d_sizes.select(F.col("id").alias("new_id"), F.col("n_shingles").alias("na"))
    # The b side's size must describe the VERSION that was shingled
    # there (an id can appear on both sides with different text after
    # an update), so sizes join on (other_id, other_is_new).
    sb = c_sizes.select(
        F.col("id").alias("other_id"), F.col("n_shingles").alias("nb")
    ).withColumn("other_is_new", F.lit(False)).unionByName(
        d_sizes.select(
            F.col("id").alias("other_id"), F.col("n_shingles").alias("nb")
        ).withColumn("other_is_new", F.lit(True))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.join(sa, "new_id")
        .join(sb, ["other_id", "other_is_new"])
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "other_id", "other_is_new", "jaccard")
    )


def incremental_near_dup(
    lake,
    table: str,
    since_version: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Lake-level incremental dedup: near-dup pairs between the rows
    appended after snapshot ``since_version`` (via the change feed)
    and the corpus as of that snapshot. The ongoing-maintenance twin
    of the batch operators: dedup the delta against the world without
    touching corpus × corpus."""
    from pg_ducklake_spark.changefeed import table_insertions

    corpus = lake.table(table, version=since_version)
    delta = table_insertions(lake, table, since_version + 1)
    return incremental_jaccard_pairs(
        corpus, delta, text_col, id_col, threshold, n
    )
