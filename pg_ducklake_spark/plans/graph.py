"""Graph analytics over the near-duplicate pair graph.

The dedup pipeline's pair edges form a graph whose SHAPE is itself a
curation signal: triangle density separates genuine duplicate clusters
(cliques — template families, mirrored sites) from chained false
positives (paths — shared boilerplate linking otherwise-distinct
docs), and the degree histogram shows whether duplication is a few
huge families or a long tail of pairs. Both queries reuse the exact
Jaccard-0.5 edge derivation that dedup_components clusters, so the
numbers line up across the family.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_ducklake_spark.operators import scoped_persist
from pg_ducklake_spark.plans import query, rebalance, t
from pg_ducklake_spark.plans.dedup import _DUCK_SHINGLED

# Shared oracle CTE prefix: documents -> shingles -> Jaccard-0.5 pairs
# (doc_a < doc_b), identical to the dedup_components derivation.
_DUCK_PAIRS = f"""
    shingled AS ({_DUCK_SHINGLED}),
    exploded AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM shingled
    ),
    sizes AS (
      SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles FROM shingled
    ),
    pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM exploded a JOIN exploded b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM pair_inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(inter AS DOUBLE)
            / CAST(sa.n_shingles + sb.n_shingles - inter AS DOUBLE) >= 0.5
    )
"""


def _spark_edges(spark, sf_dir):
    from pg_ducklake_spark.operators.dedup import jaccard_pairs

    docs = t(spark, sf_dir, "documents")
    return jaccard_pairs(
        rebalance(docs), text_col="text", id_col="doc_id", threshold=0.5
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


@query(
    "graph_triangle_census",
    oracle=f"""
    WITH {_DUCK_PAIRS},
    tri AS (
      SELECT COUNT(*) AS n_triangles FROM pairs e1
      JOIN pairs e2 ON e2.doc_a = e1.doc_b
      JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL SELECT doc_b FROM pairs) x
      GROUP BY node
    )
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST((SELECT n_triangles FROM tri) AS BIGINT) AS n_triangles,
           CAST((SELECT SUM((d * (d - 1)) // 2) FROM deg) AS BIGINT) AS n_wedges,
           ROUND(CASE WHEN (SELECT SUM((d * (d - 1)) // 2) FROM deg) > 0
                 THEN 3.0 * (SELECT n_triangles FROM tri)
                      / (SELECT SUM((d * (d - 1)) // 2) FROM deg)
                 ELSE 0.0 END, 6) AS clustering_coeff
    """,
)
def graph_triangle_census(spark, sf_dir):
    """Triangle census of the Jaccard-0.5 duplicate graph: node/edge
    counts, triangle count, wedge count, and the global clustering
    coefficient (3*triangles/wedges) — high coefficient = duplicates
    come in cliques (true template families), low = chains (shared
    boilerplate stitching distinct docs).

    Scale shape: triangles are enumerated over the ID-ORDERED edge
    list (doc_a < doc_b everywhere), so each triangle {{a<b<c}}
    matches exactly one (e1=(a,b), e2=(b,c), e3=(a,c)) join chain —
    two equi-joins over the (small, already-thresholded) edge set, no
    direction explosion. Wedges come from the degree aggregate in one
    pass. At 100 TB the edge set — not the corpus — bounds the cost,
    and the standard high-degree-cap applies before the join the same
    way it does for the pair generation itself."""
    edges = scoped_persist(_spark_edges(spark, sf_dir))
    e1 = edges
    e2 = edges.select(
        F.col("doc_a").alias("doc_b"), F.col("doc_b").alias("doc_c")
    )
    e3 = edges.select(
        F.col("doc_a").alias("doc_a"), F.col("doc_b").alias("doc_c")
    )
    # a<b<c ordering makes each triangle match exactly one join chain;
    # edges are distinct pairs, so the inner join count IS the census.
    tri_n = (
        e1.join(e2, "doc_b")
        .join(e3, ["doc_a", "doc_c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # r12 (guide §2.4): node count, wedge count AND edge count all come
    # from the one degree aggregate — sum(d) counts every edge exactly
    # twice, so n_edges = sum(d) DIV 2 (exact: the sum is even). The
    # separate COUNT(*) pass over edges and its broadcast exchange are
    # gone; same values. coalesce matches the oracle's COUNT(*) = 0
    # when the edge set is empty (sum over zero rows is NULL).
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("coalesce(sum(d) DIV 2, 0)").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    return (
        summary.crossJoin(F.broadcast(tri_n))  # bcast-ok: 1-row total
        .select(
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.col("n_wedges").cast("long").alias("n_wedges"),
            F.round(
                F.when(
                    F.col("n_wedges") > 0,
                    F.lit(3.0)
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
    )


@query(
    "graph_degree_histogram",
    oracle=f"""
    WITH {_DUCK_PAIRS},
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT doc_a AS node FROM pairs
        UNION ALL SELECT doc_b FROM pairs) x
      GROUP BY node
    )
    SELECT d AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d ORDER BY degree
    """,
)
def graph_degree_histogram(spark, sf_dir):
    """Degree histogram of the duplicate graph — (degree, node count)
    rows. A heavy tail here means a few huge duplicate families
    dominate (dedup will collapse whole sources); a spike at degree 1
    means isolated pairs. Two map-side-combined aggregates over the
    edge list; cost bounded by the edge set, not the corpus."""
    edges = _spark_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("doc_a").alias("node"))
        .unionByName(edges.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        deg.groupBy(F.col("d").alias("degree"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )
