"""Interleaved A/B probe of dedup_ngram_jaccard candidate-generation
variants (guide §1: measure in the shape the bench times).

Variants (all oracle-exact by construction):
  base  — the committed dedup_ngram_jaccard plan: posting lists keyed
          on the shingle STRING.
  hkey  — posting lists keyed on xxhash64(shingle); the string rides in
          the entry; pairs require exact string equality (verify per
          group before pairing — collision-proof).
  twopass — posting lists keyed on xxhash64(shingle) with NO string
          anywhere in the shuffle; hash-candidate pairs (a superset:
          equal strings => equal hashes) are exactly re-verified by
          re-reading the docs of candidate pairs and computing
          size(array_intersect(shingles_a, shingles_b)).

Usage: python tools/probe_ngram_variants.py [draws]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pg_ducklake_spark.operators.dedup import posting_pairs, shingle_arrays
from pg_ducklake_spark.plans import QUERIES, rebalance, t
from pg_ducklake_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
THRESH = 0.6


def _shingled(spark):
    """(id, shingles) of the documents, built as the committed plan does."""
    docs = t(spark, SF_DIR, "documents")
    return shingle_arrays(
        rebalance(docs.select("doc_id", "text"), src=docs), "text", "doc_id"
    )


def _exploded(spark):
    return _shingled(spark).select(
        "id",
        F.size("shingles").cast("long").alias("n"),
        F.explode_outer("shingles").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())


def _jaccard(inter, count_col="inter"):
    jac = F.col(count_col).cast("double") / (
        F.col("na") + F.col("nb") - F.col(count_col)
    ).cast("double")
    return inter.withColumn("jaccard", jac).filter(F.col("jaccard") >= THRESH)


def _pair_counts(pairs, count_col):
    return (
        pairs.select(
            F.col("a.id").alias("doc_a"),
            F.col("a.n").alias("na"),
            F.col("b.id").alias("doc_b"),
            F.col("b.n").alias("nb"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def base(spark):
    return QUERIES["dedup_ngram_jaccard"](spark, SF_DIR)


def hkey(spark):
    exploded = _exploded(spark).select(
        F.xxhash64("shingle").alias("h"), "shingle", "id", "n"
    )
    pairs = posting_pairs(exploded, "h", F.struct("shingle", "id", "n")).filter(
        F.col("a.shingle") == F.col("b.shingle")
    )
    return (
        _jaccard(_pair_counts(pairs, "inter"))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def twopass(spark):
    exploded = _exploded(spark).select(F.xxhash64("shingle").alias("h"), "id", "n")
    hinter = _pair_counts(posting_pairs(exploded, "h", F.struct("id", "n")), "hinter")
    cand = (
        _jaccard(hinter, "hinter")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    pairs_long = cand.select(
        F.struct("doc_a", "doc_b").alias("pid"),
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("role"), F.col("doc_a").alias("doc")),
                F.struct(F.lit("b").alias("role"), F.col("doc_b").alias("doc")),
            )
        ).alias("side"),
    ).select("pid", "side.role", "side.doc")
    attached = (
        _shingled(spark)
        .join(pairs_long, F.col("id") == F.col("doc"))
        .select("pid", "role", "shingles")
    )
    agg = attached.groupBy("pid").agg(
        F.max(F.when(F.col("role") == "a", F.col("shingles"))).alias("sa"),
        F.max(F.when(F.col("role") == "b", F.col("shingles"))).alias("sb"),
    )
    out = agg.select(
        F.col("pid.doc_a").alias("doc_a"),
        F.col("pid.doc_b").alias("doc_b"),
        F.size(F.array_intersect("sa", "sb")).cast("long").alias("inter"),
        F.size("sa").cast("long").alias("na"),
        F.size("sb").cast("long").alias("nb"),
    )
    return (
        _jaccard(out)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


VARIANTS = {"base": base, "hkey": hkey, "twopass": twopass}


def main() -> None:
    draws = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    spark = get_spark("probe_ngram")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    spark.sql("SELECT 1").collect()

    # correctness first: all variants must match base exactly
    ref = [tuple(r) for r in base(spark).collect()]
    for name, fn in VARIANTS.items():
        got = [tuple(r) for r in fn(spark).collect()]
        status = "OK" if got == ref else "MISMATCH"
        print(f"equal[{name}] = {status} ({len(got)} rows)", flush=True)
        if got != ref:
            return

    # job counts
    sc = spark.sparkContext
    for name, fn in VARIANTS.items():
        sc.setJobGroup(f"probe_{name}", name)
        fn(spark).collect()
        jobs = sc.statusTracker().getJobIdsForGroup(f"probe_{name}")
        sc.setJobGroup(None, None)
        print(f"jobs[{name}] = {len(jobs)}", flush=True)

    # warmup
    for _ in range(2):
        for fn in VARIANTS.values():
            fn(spark).collect()
    times = {n: [] for n in VARIANTS}
    for _ in range(draws):
        for name, fn in VARIANTS.items():
            t0 = time.time()
            df = fn(spark)
            df.collect()
            times[name].append(time.time() - t0)
    for name, ts in times.items():
        ts = sorted(ts)
        med = ts[len(ts) // 2]
        print(f"{name:8s} median={med:.3f} draws={[round(x,3) for x in ts]}", flush=True)


if __name__ == "__main__":
    main()
