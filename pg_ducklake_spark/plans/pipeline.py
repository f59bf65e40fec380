"""End-to-end training-data pipeline compositions: the operators chained
the way a 100 TB corpus job actually runs them — quality filter →
dedup → stats, and cross-modal joins between documents and their
embeddings (doc_id ↔ vec_id)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pg_ducklake_spark.functions import davg, sql_davg
from pg_ducklake_spark.functions.hashing import sql_h32
from pg_ducklake_spark.operators.dedup import posting_pairs, shingle_arrays
from pg_ducklake_spark.plans import query, rebalance, t
from pg_ducklake_spark.plans.text import _DUCK_QUALITY, _SPARK_QUALITY


@query(
    "pipe_filter_dedup_stats",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source, text, ({_DUCK_QUALITY}) AS quality
      FROM documents
    ),
    kept AS (SELECT * FROM scored WHERE quality >= 0.5),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
        FROM kept) x
      WHERE rn = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {sql_davg('quality')} AS avg_quality,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
             AS total_tokens
    FROM deduped
    GROUP BY lang
    ORDER BY lang
    """,
)
def pipe_filter_dedup_stats(spark, sf_dir):
    """quality filter → exact dedup (keep lowest doc_id) → per-language
    corpus stats: the canonical pretraining data-prep chain in one plan
    (filter pushes to the scan; dedup is one hash shuffle; stats are
    map-side combined).

    The dedup shuffle carries a SLIM projection — (128-bit seeded
    xxhash pair of the text, doc_id, lang, quality, token count), all
    computed map-side — never the text itself: the oracle's md5 key
    and Spark's xxhash pair induce the same identical-text equivalence
    classes, and every output column is text-independent, so the
    per-lang stats agree exactly while the exchange shrinks from
    full documents to ~60 bytes/row (the exact-dedup hash-rework
    layout, plans/dedup.py). min(struct) replaces the sort-window:
    doc_id leads the struct, so the lexicographic min IS the lowest-id
    keeper — a hash aggregate, no per-partition sort."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    scored = docs.withColumn("quality", F.expr(_SPARK_QUALITY))
    kept = scored.filter(F.col("quality") >= 0.5)
    slim = kept.select(
        F.xxhash64("text").alias("h1"),
        F.xxhash64(F.lit("s2"), "text").alias("h2"),
        F.struct(
            "doc_id",
            "lang",
            "quality",
            F.size(F.split("text", " ")).cast("long").alias("ntok"),
        ).alias("row"),
    )
    deduped = (
        slim.groupBy("h1", "h2").agg(F.min("row").alias("row")).select("row.*")
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("quality").alias("avg_quality"),
            F.sum("ntok").cast("long").alias("total_tokens"),
        )
        .coalesce(1).sortWithinPartitions("lang")
    )


_DOT64 = " + ".join(
    f"CAST(a.embedding[{i}] AS DOUBLE) * CAST(b.embedding[{i}] AS DOUBLE)"
    for i in range(1, 65)
)
_NORM = "sqrt(" + " + ".join(
    f"CAST({{s}}.embedding[{i}] AS DOUBLE) * CAST({{s}}.embedding[{i}] AS DOUBLE)"
    for i in range(1, 65)
) + ")"

# Unrolled 64-term dot (0-based Spark indexing) for large corpora —
# stays in whole-stage codegen, unlike aggregate/zip_with which
# interprets per element. Small corpora use the interpreted fold (same
# left-associated double adds, bit-identical value) because the
# unrolled tree's per-execution codegen source generation costs more
# than the pair scoring it accelerates — see plans/similarity._use_fold.
def _spark_dot64(a: str, b: str, fold: bool = False) -> str:
    if fold:
        return (
            f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(64)
    ) + ")"


@query(
    "pipe_crossmodal_dup_check",
    oracle=f"""
    WITH fps AS (
      SELECT doc_id,
             md5(list_aggregate(list_sort(list_distinct(
                 string_split(lower(text), ' '))), 'string_agg', ' ')) AS h
      FROM documents
    ),
    pairs AS (
      SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
      FROM fps d1 JOIN fps d2 ON d1.h = d2.h AND d1.doc_id < d2.doc_id
    )
    SELECT doc_a, doc_b,
           ({_DOT64}) / (({_NORM.format(s='a')}) * ({_NORM.format(s='b')}))
             AS emb_cosine
    FROM pairs
    JOIN embeddings a ON a.vec_id = doc_a
    JOIN embeddings b ON b.vec_id = doc_b
    ORDER BY doc_a, doc_b
    """,
)
def pipe_crossmodal_dup_check(spark, sf_dir):
    """Cross-modal verification: bag-of-words fingerprint duplicate pairs
    joined to their embedding vectors (doc_id ↔ vec_id) with the pair's
    cosine — text dedup validated in embedding space."""
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " ")
    )
    docs = rebalance(t(spark, sf_dir, "documents")).select("doc_id", fp.alias("h"))
    # r12 (guide §2.4): fingerprint-collision pairs from grouped posting
    # lists — ONE evaluation of the tokenize+sort+md5 fingerprint chain
    # and one exchange keyed on the digest, instead of a self-join that
    # ran the fingerprint map work once per side and shuffled both.
    # Same ordered pairs (doc_a < doc_b within each digest group).
    pairs = posting_pairs(docs, "h", "doc_id")
    emb = t(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("emb_a"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("emb_b"))
    from pg_ducklake_spark.plans.similarity import _use_fold

    fold = _use_fold(sf_dir)
    dot = F.expr(_spark_dot64("emb_a", "emb_b", fold))
    na = F.sqrt(F.expr(_spark_dot64("emb_a", "emb_a", fold)))
    nb = F.sqrt(F.expr(_spark_dot64("emb_b", "emb_b", fold)))
    # The duplicate-pair set is tiny (fingerprint collisions only) —
    # broadcast it, and then the hydrated pa result too, so the
    # embeddings table is read twice map-side and never shuffled; the
    # broadcast exchanges also break the fingerprint-pair stage away
    # from the 64-term hydrate cosine (the fused-codegen
    # interpreted-fallback trap the old repartition() fenced).
    pa = ea.join(F.broadcast(pairs), "a")  # bcast-ok: pairs bounded by 128-bit fingerprint collisions, <<corpus
    return (
        eb.join(F.broadcast(pa), "b")  # bcast-ok: pair-bounded hydrate, <<corpus
        .select(
            F.col("a").alias("doc_a"),
            F.col("b").alias("doc_b"),
            (dot / (na * nb)).alias("emb_cosine"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "pipe_embedding_quality_corr",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_davg(f'({_DUCK_QUALITY})')} AS avg_text_quality,
           {sql_davg('CAST(n_chars AS DOUBLE)')} AS avg_chars
    FROM embeddings JOIN documents ON vec_id = doc_id
    GROUP BY label
    ORDER BY label
    """,
)
def pipe_embedding_quality_corr(spark, sf_dir):
    """Per-cluster (embedding label) text-quality profile — the join a
    curation job runs to decide which clusters to keep."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = rebalance(t(spark, sf_dir, "documents"))
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            davg(_SPARK_QUALITY).alias("avg_text_quality"),
            davg("CAST(n_chars AS DOUBLE)").alias("avg_chars"),
        )
        .orderBy("label")
    )


@query(
    "pipe_source_quota_cap",
    oracle=f"""
    SELECT source, doc_id, quality
    FROM (
      SELECT source, doc_id, ({_DUCK_QUALITY}) AS quality,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY ({_DUCK_QUALITY}) DESC, doc_id ASC) AS rn
      FROM documents) x
    WHERE rn <= 50
    ORDER BY source, quality DESC, doc_id
    """,
)
def pipe_source_quota_cap(spark, sf_dir):
    """Per-source quota capping: keep only the top-N docs by quality per
    source — the domain-mix balancing step every pretraining pipeline
    runs. One window shuffle on source; at 100 TB the per-source state
    is a bounded top-N heap, never the full partition."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        docs.withColumn("quality", F.expr(_SPARK_QUALITY))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("source", "doc_id", "quality")
        .coalesce(1)
        .sortWithinPartitions("source", F.desc("quality"), "doc_id")
    )


@query(
    "rel_window_ntile_ranks",
    oracle="""
    SELECT o_orderkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           CAST(DENSE_RANK() OVER w2 AS BIGINT) AS drnk,
           ROUND(CAST(PERCENT_RANK() OVER w AS DOUBLE), 10) AS prnk
    FROM orders
    WHERE o_orderkey <= 200
    WINDOW w AS (ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (ORDER BY o_orderstatus)
    ORDER BY o_orderkey
    """,
)
def rel_window_ntile_ranks(spark, sf_dir):
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    w2 = Window.orderBy("o_orderstatus")
    return (
        orders.select(
            "o_orderkey",
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.dense_rank().over(w2).cast("long").alias("drnk"),
            F.round(F.percent_rank().over(w).cast("double"), 10).alias("prnk"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "rel_array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS vmax,
           ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS vmin,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_positive
    FROM embeddings
    WHERE vec_id < 20
    ORDER BY vec_id
    """,
)
def rel_array_functions(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vmax"),
        F.round(F.array_min("embedding").cast("double"), 6).alias("vmin"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias(
            "first_component"
        ),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias(
            "n_positive"
        ),
    ).orderBy("vec_id")


@query(
    "pipe_pack_sequences",
    # Concatenated-stream packing (operators/packing.py): running token
    # sum cut every 1024 — same integer math spelled in SQL.
    oracle="""
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    cum AS (
      SELECT doc_id, tok,
             CAST(COALESCE(SUM(tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS c0
      FROM toks
    ),
    seg AS (
      SELECT doc_id, tok, c0, c0 + tok AS c1,
             CAST(c0 // 1024 AS BIGINT) AS b0,
             CAST((c0 + tok - 1) // 1024 AS BIGINT) AS b1
      FROM cum
    ),
    bins AS (
      SELECT doc_id, tok, c0, c1,
             unnest(generate_series(b0, b1)) AS bin_id
      FROM seg
    )
    SELECT doc_id,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(greatest(c0, bin_id * 1024) - bin_id * 1024 AS BIGINT)
             AS bin_offset,
           CAST(least(c1, (bin_id + 1) * 1024)
                - greatest(c0, bin_id * 1024) AS BIGINT) AS seg_tokens,
           CAST(greatest(c0, bin_id * 1024) - c0 AS BIGINT)
             AS doc_token_start
    FROM bins
    ORDER BY doc_id, bin_id
    """,
)
def pipe_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing of the documents corpus: whitespace
    token counts laid end-to-end in doc_id order, cut every 1024 —
    one window pass + one explode (operators/packing.py), documents
    crossing a cut split across consecutive bins."""
    from pg_ducklake_spark.operators.packing import pack_sequences

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("tok")
    )
    packed = pack_sequences(
        docs, token_col="tok", max_tokens=1024, order_col="doc_id",
        id_cols=["doc_id"],
    )
    return packed.select(
        "doc_id", "bin_id", "bin_offset", "seg_tokens", "doc_token_start"
    ).orderBy("doc_id", "bin_id")


@query(
    "pipe_chunk_documents",
    oracle="""
    WITH starts AS (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text), 1), 100))
               AS start
      FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) // 100 AS BIGINT) AS chunk_no,
           CAST(start AS BIGINT) AS start,
           CAST(length(substr(text, CAST(start AS INTEGER), 120)) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(start AS INTEGER), 120)) AS chunk_md5
    FROM starts
    WHERE length(substr(text, CAST(start AS INTEGER), 120)) > 0
    ORDER BY doc_id, chunk_no
    """,
)
def pipe_chunk_documents(spark, sf_dir):
    """Overlapping fixed-width chunking (120 chars, 20 overlap) — the
    retrieval/embedding-prep layout; chunks identified by md5 so the
    oracle compare stays compact (operators/packing.py)."""
    from pg_ducklake_spark.operators.packing import chunk_documents

    docs = t(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, text_col="text", id_col="doc_id", chunk_chars=120, overlap=20
    )
    return (
        chunks.select(
            "doc_id", "chunk_no", "start", "chunk_len",
            F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_no")
    )


@query(
    "pipe_stratified_sample",
    # Same md5-derived hash threshold spelled in DuckDB: row survives
    # iff h32(doc_id) % 10000 < per-source permille threshold.
    oracle=f"""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM (
      SELECT source, doc_id,
             (((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * CAST(268435456 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * CAST(16777216 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * CAST(1048576 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * CAST(65536 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * CAST(4096 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * CAST(256 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * CAST(16 AS BIGINT) + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1) * CAST(1 AS BIGINT))) % 10000 AS bucket
      FROM documents) x
    WHERE bucket < CASE
        WHEN source IN ('src0', 'src1') THEN 10000
        WHEN source IN ('src2', 'src3') THEN 2500
        ELSE 500 END
    GROUP BY source
    ORDER BY source
    """,
)
def pipe_stratified_sample(spark, sf_dir):
    """Deterministic training-mix sampling: keep 100% of src0/src1,
    25% of src2/src3, 5% of everything else — by md5-hash threshold
    (operators/text.sample_stratified), map-side, no RNG, exactly
    reproducible on both engines."""
    from pg_ducklake_spark.operators.text import sample_stratified

    docs = t(spark, sf_dir, "documents")
    fractions = {"src0": 1.0, "src1": 1.0, "src2": 0.25, "src3": 0.25}
    kept = sample_stratified(
        docs, strata_col="source", fractions=fractions,
        id_col="doc_id", default_fraction=0.05,
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .orderBy("source")
    )


# ------------------------------------------ train/eval contamination


@query(
    "pipe_contamination_check",
    # Held-out set = source 'src0' documents; training pool = the rest.
    # A trigram shingle shared between an eval doc and a train doc is a
    # contamination hit; shingles present in > 50 train docs are
    # dropped first (boilerplate n-grams carry no leakage signal and
    # unbounded-df keys are exactly the join-fanout that kills a
    # 100 TB contamination sweep). An eval doc is flagged when some
    # single train doc shares >= 3 of its distinct shingles.
    oracle="""
    WITH shingled AS (
        SELECT doc_id, source, list_distinct(list_transform(
          range(1, greatest(len(toks) - 1, 1)),
          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) AS shingles
        FROM (SELECT doc_id, source, string_split(lower(text), ' ') AS toks
              FROM documents) tk
    ),
    eval_sh AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
      WHERE source = 'src0'
    ),
    train_sh AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
      WHERE source <> 'src0'
    ),
    common AS (
      SELECT shingle FROM train_sh GROUP BY shingle HAVING COUNT(*) > 50
    ),
    hits AS (
      SELECT e.doc_id AS eval_doc, tr.doc_id AS train_doc,
             COUNT(*) AS shared
      FROM eval_sh e JOIN train_sh tr ON e.shingle = tr.shingle
      WHERE e.shingle NOT IN (SELECT shingle FROM common)
      GROUP BY e.doc_id, tr.doc_id
      HAVING COUNT(*) >= 3
    )
    SELECT eval_doc,
           CAST(COUNT(*) AS BIGINT) AS n_train_docs,
           CAST(MAX(shared) AS BIGINT) AS max_shared,
           CAST(MIN(CASE WHEN rn = 1 THEN train_doc END) AS BIGINT)
             AS worst_train_doc
    FROM (SELECT eval_doc, train_doc, shared,
                 ROW_NUMBER() OVER (PARTITION BY eval_doc
                                    ORDER BY shared DESC, train_doc ASC) AS rn
          FROM hits) ranked
    GROUP BY eval_doc
    ORDER BY eval_doc
    """,
)
def pipe_contamination_check(spark, sf_dir):
    """Benchmark-contamination sweep: which held-out (eval) documents
    share enough rare trigrams with the training pool to be leaked?

    Scale shape (the 100 TB contamination audit): shingle → drop
    high-document-frequency shingles (a groupBy + semi-join — bounds
    the worst-case fanout of the next join) → eval↔train equi-join on
    shingle → per (eval, train) pair count → per-eval rollup. No cross
    join anywhere; every stage is a hash shuffle on a bounded key.
    Integer-only outputs, so cross-engine parity is exact by
    construction.
    """
    base = t(spark, sf_dir, "documents")
    docs = rebalance(base.select("doc_id", "source", "text"), src=base)
    shingled = shingle_arrays(docs, "text", "doc_id", keep=("source",))
    # explode_OUTER + notnull, not plain explode: an inner Generate
    # derives a pushable `size(shingles) > 0` pre-filter, and Catalyst
    # pushes one copy per consuming branch below the rebalance exchange
    # — re-evaluating the whole tokenize+shingle chain several times
    # per row inside the single-task scan stage (measured 15 s vs 1.3 s
    # at sf0.1). The outer Generate derives nothing; the notnull filter
    # references the generated column, so it cannot sink below the
    # Generate. Same rows by construction.
    exploded = shingled.select(
        "id", "source", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    eval_sh = exploded.filter(F.col("source") == "src0").select(
        F.col("id").alias("eval_doc"), "shingle"
    )
    train_sh = exploded.filter(F.col("source") != "src0").select(
        F.col("id").alias("train_doc"), "shingle"
    )
    common = (
        train_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 50)
        .select("shingle")
    )
    hits = (
        eval_sh.join(common, "shingle", "left_anti")
        .join(train_sh, "shingle")
        .groupBy("eval_doc", "train_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
    )
    w = Window.partitionBy("eval_doc").orderBy(
        F.desc("shared"), F.asc("train_doc")
    )
    return (
        hits.withColumn("rn", F.row_number().over(w))
        .groupBy("eval_doc")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.max("shared").cast("long").alias("max_shared"),
            F.min(F.when(F.col("rn") == 1, F.col("train_doc")))
            .cast("long")
            .alias("worst_train_doc"),
        )
        # one row per eval document (eval-set-proportional):
        # distributed range sort, no single-task funnel
        .orderBy("eval_doc")
    )


# ------------------------------------------------- final quality gate


def _gate_oracle() -> str:
    from pg_ducklake_spark.plans.text import (
        _DUCK_QUALITY,
        _LANGS,
        _duck_lang_score,
        _duck_predicted,
    )

    scores = ", ".join(f"{_duck_lang_score(lg)} AS score_{lg}" for lg in _LANGS)
    return f"""
    WITH scored AS (
      SELECT doc_id, source, lang, n_chars, text, {scores},
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
      FROM documents
    ),
    verdicts AS (
      SELECT source,
             CASE WHEN n_chars < 100 OR n_chars > 5000 THEN 'len'
                  WHEN ({_duck_predicted()}) <> lang THEN 'lang'
                  WHEN doc_id <> keeper THEN 'dup'
                  WHEN ({_DUCK_QUALITY}) < 0.6 THEN 'quality'
                  ELSE 'keep' END AS verdict
      FROM scored
    )
    SELECT source, verdict, CAST(COUNT(*) AS BIGINT) AS n
    FROM verdicts
    GROUP BY source, verdict
    ORDER BY source, verdict
    """


@query("pipe_quality_gate", oracle=_gate_oracle())
def pipe_quality_gate(spark, sf_dir):
    """The pipeline's final verdict: every document gets exactly one
    disposition — dropped by length bounds, language mismatch
    (stopword-argmax ID vs label), exact-duplicate (not its content
    group's keeper), or low composite quality — else kept. Reported as
    a per-source disposition matrix, the yield report a corpus curation
    run ends with.

    Scale shape: ONE shuffle (window min over the md5 digest decides
    each content group's keeper); every other signal is a map-side
    column expression, and the verdict CASE evaluates rules in priority
    order so each document is counted once. Integer-only outputs; the
    quality threshold compares doubles computed by the identical
    expression on both engines.
    """
    from pg_ducklake_spark.plans.text import (
        _SPARK_QUALITY,
        _langid_pred_from_sc,
        _langid_sc_expr,
    )

    docs = rebalance(t(spark, sf_dir, "documents"))
    # r12: single-pass langid score vector (one map fold per doc, see
    # text_langid_confusion) replaces the five filter() passes —
    # identical integer scores, same argmax/tiebreak.
    scored = docs.select(
        "doc_id", "source", "lang", "n_chars", "text",
        _langid_sc_expr().alias("sc"),
    ).withColumn(
        "keeper",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
    )
    pred = _langid_pred_from_sc("sc")
    verdict = (
        F.when((F.col("n_chars") < 100) | (F.col("n_chars") > 5000), "len")
        .when(pred != F.col("lang"), "lang")
        .when(F.col("doc_id") != F.col("keeper"), "dup")
        .when(F.expr(_SPARK_QUALITY) < 0.6, "quality")
        .otherwise("keep")
    )
    return (
        scored.select("source", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .sortWithinPartitions("source", "verdict")
    )


# -------------------------------------------- deterministic shuffling


def _order_oracle() -> str:
    from pg_ducklake_spark.functions.hashing import sql_h32

    h = sql_h32("concat('epoch1:', CAST(doc_id AS VARCHAR))")
    return f"""
    SELECT {h} AS shuffle_key, doc_id, source
    FROM documents
    ORDER BY shuffle_key, doc_id
    """


@query("pipe_training_order", oracle=_order_oracle())
def pipe_training_order(spark, sf_dir):
    """Deterministic global training-order shuffle: every document gets
    a seeded content-free shuffle key (md5-derived, epoch in the seed)
    and the corpus is totally ordered by it — the reproducible
    epoch-ordering primitive (same seed → same order on any cluster
    size, new epoch → new permutation, no RNG state anywhere).

    Scale shape: orderBy plans a range sort — sample, range-partition
    on the key, sort within partitions — so the total order is produced
    by the cluster in parallel and a downstream writer emits shards in
    order. No single-task stage, no window.
    """
    from pg_ducklake_spark.functions.hashing import h32

    docs = rebalance(t(spark, sf_dir, "documents"))
    key = h32(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")))
    return (
        docs.select(key.alias("shuffle_key"), "doc_id", "source")
        .orderBy("shuffle_key", "doc_id")
    )


@query(
    "pipe_length_buckets",
    oracle="""
    WITH lens AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    bucketed AS (
      SELECT n_toks,
             CAST(POW(2, CEIL(LOG2(GREATEST(n_toks, 1)))) AS BIGINT) AS bucket
      FROM lens
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           ROUND(1.0 - CAST(SUM(n_toks) AS DOUBLE)
                 / CAST(COUNT(*) * bucket AS DOUBLE), 6) AS waste_rate
    FROM bucketed
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def pipe_length_buckets(spark, sf_dir):
    """Length-bucketed batching plan: documents binned to power-of-2
    token-length buckets with the padding-waste rate per bucket — the
    report that decides between padded batching and sequence packing
    (pipe_pack_sequences is the zero-waste alternative).

    Exactness: the bucket is 2^ceil(log2(n)) — computed via the
    float log2/pow on BOTH engines, safe here because n_toks is a
    small integer and log2 of an exact power of two is exact in IEEE
    (the only values where ceil could tip); all emitted counts are
    exact BIGINTs and waste_rate divides two of them. Scale shape:
    one map-side expression + one small-key aggregate; nothing
    shuffles but the per-bucket partials."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    lens = docs.select(
        F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    bucketed = lens.withColumn(
        "bucket",
        F.expr(
            "CAST(POW(2, CEILING(LOG2(GREATEST(n_toks, 1)))) AS BIGINT)"
        ),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "total_tokens",
            (F.col("n_docs") * F.col("bucket")).cast("long").alias(
                "padded_tokens"
            ),
            F.round(
                F.lit(1.0)
                - F.col("total_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket")).cast("double"),
                6,
            ).alias("waste_rate"),
        )
        .orderBy("bucket")
    )


@query(
    "pipe_train_eval_split",
    oracle=f"""
    WITH hashed AS (
      SELECT source,
             {sql_h32("CAST(doc_id AS VARCHAR)")} % 100 AS slot
      FROM documents
    ),
    labeled AS (
      SELECT source,
             CASE WHEN slot < 90 THEN 'train'
                  WHEN slot < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM hashed
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM labeled
    GROUP BY source, split
    ORDER BY source, split
    """,
)
def pipe_train_eval_split(spark, sf_dir):
    """Deterministic 90/5/5 train/val/test assignment by hashed doc id,
    reported per source — the split audit a pipeline freezes BEFORE
    training so membership never depends on row order, partitioning,
    or rerun (the md5-derived slot is a pure function of doc_id; the
    same document lands in the same split on any cluster, any day).

    Scale shape: pure map-side hash + one small-key aggregate."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    slot = (
        F.expr(
            "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        )
        % 100
    )
    labeled = docs.select(
        "source",
        F.when(slot < 90, F.lit("train"))
        .when(slot < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return (
        labeled.groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


@query(
    "pipe_bloom_prejoin",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem JOIN keys ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def pipe_bloom_prejoin(spark, sf_dir):
    """Bloom-pruned exact semi-join: the fact scan is pre-filtered by a
    broadcast Bloom of the key set BEFORE the real join, then the exact
    join removes the (rare) false positives — the result is provably
    identical to the plain semi-join, which is exactly what the DuckDB
    oracle computes with no bloom at all.

    Scale shape: at 100 TB the bloom word table (≤4096 rows here,
    ``operators/bloom.py``) broadcasts to the fact scan and drops
    non-matching rows map-side, so the join's shuffle carries only
    maybe-members instead of the whole fact table; the exact join that
    follows is what keeps the plan's semantics independent of the
    false-positive rate."""
    from pg_ducklake_spark.operators.bloom import bloom_build, bloom_prune

    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    bloom = bloom_build(keys, "k", m=1 << 17, k=4, seed=7)
    pruned = bloom_prune(li, "l_orderkey", bloom, m=1 << 17, k=4, seed=7)
    return (
        pruned.join(keys, pruned.l_orderkey == keys.k, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )
