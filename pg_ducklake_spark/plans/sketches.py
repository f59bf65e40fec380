"""Probabilistic sketch operators with cross-engine-exact registers.

Sketches are the 100 TB answer to "how many distinct / how frequent"
when exact distinct would shuffle the corpus: registers are tiny,
merge associatively (map-side combine does the heavy lifting), and the
error is a known function of sketch size. Engine-native sketch
implementations (Spark's HyperLogLog++ in approx_count_distinct,
DuckDB's approx_distinct) are NOT comparable across engines, so these
plans build the sketches from scratch out of md5-derived hashes
(functions/hashing.h32): every register value is an exact integer and
both engines compute the identical sketch — the estimates agree to the
last bit, which is also what makes them reproducible across cluster
sizes.

* ``stats_hll_distinct`` — HyperLogLog with m=512 registers per group;
  emits the raw harmonic estimate next to the exact distinct count so
  the report doubles as an accuracy audit. The bias-corrected branches
  (linear counting) need ln(), whose last-ulp behavior is libm-specific
  — deliberately left out of the cross-engine surface; a consumer
  applies them to the emitted (S, V) register summaries.

* ``text_cms_heavy_hitters`` — count-min sketch (d=4 rows x w=1024
  counters) over document tokens; probes the exact top-10 tokens and
  reports estimate vs truth (estimate >= truth always; equality shows
  the probe had no collisions). All counters are exact BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pg_ducklake_spark.functions.hashing import (
    minhash_coeffs,
    sql_h32,
    sql_minhash,
)
from pg_ducklake_spark.operators import scoped_persist
from pg_ducklake_spark.plans import query, rebalance, t

# ---------------------------------------------------------------------------
# HyperLogLog distinct-cardinality sketch
# ---------------------------------------------------------------------------

_HLL_P = 9
_HLL_M = 1 << _HLL_P  # 512 registers
_HLL_WBITS = 32 - _HLL_P  # 23-bit suffix feeds the rho ladder
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)  # standard alpha_m, m >= 128


def _bitlen_case(w: str) -> str:
    """CASE ladder computing bit_length(w) for 0 <= w < 2^23 — integer
    comparisons only, so both engines agree exactly (no log2)."""
    whens = " ".join(
        f"WHEN {w} >= {1 << (b - 1)} THEN {b}" for b in range(_HLL_WBITS, 0, -1)
    )
    return f"(CASE {whens} ELSE 0 END)"


def _rho(w: str) -> str:
    # leading zeros of the 23-bit suffix + 1; w = 0 -> 24 (all zeros)
    return f"({_HLL_WBITS + 1} - {_bitlen_case(w)})"


@query(
    "stats_hll_distinct",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type, user_id,
             {sql_h32("CAST(user_id AS VARCHAR)")} AS h
      FROM events
    ),
    regs AS (
      SELECT event_type,
             h % {_HLL_M} AS bucket,
             MAX({_rho(f"(h // {_HLL_M})")}) AS reg,
             COUNT(DISTINCT user_id) AS bucket_users
      FROM hashed
      GROUP BY event_type, h % {_HLL_M}
    ),
    summed AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_regs,
             CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_WBITS + 1} - reg)) AS BIGINT)
               AS s_present,
             CAST(SUM(bucket_users) AS BIGINT) AS n_exact
      FROM regs GROUP BY event_type
    )
    SELECT s.event_type,
           s.n_exact,
           CAST({_HLL_M} - s.n_regs AS BIGINT) AS empty_registers,
           CAST(s.s_present
                + ({_HLL_M} - s.n_regs) * {1 << (_HLL_WBITS + 1)} AS BIGINT)
             AS register_sum,
           ROUND(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
                 * {1 << (_HLL_WBITS + 1)}
                 / CAST(s.s_present + ({_HLL_M} - s.n_regs)
                        * {1 << (_HLL_WBITS + 1)} AS DOUBLE), 4) AS hll_raw
    FROM summed s
    ORDER BY s.event_type
    """,
)
def stats_hll_distinct(spark, sf_dir):
    """HLL(p=9) distinct-user sketch per event type, audited against
    the exact count.

    Scale shape: the sketch pass is groupBy(type, bucket) max(rho) —
    at most 512 registers per group survive the map-side combine, so
    the exchange carries O(groups x 512) rows no matter the corpus
    size; the register rollup is O(groups). The exact COUNT(DISTINCT)
    sits alongside as the audit column (itself a two-phase expand) —
    a production run at 100 TB would drop it and keep only the sketch.

    Exactness: rho comes from an integer CASE ladder on the 23-bit
    hash suffix (no log2), registers are exact BIGINT maxima, and the
    harmonic sum is pre-scaled by 2^24 so it is an exact BIGINT too —
    the only float op is the final alpha*m^2/S division, identical on
    both engines. The libm-dependent small/large-range corrections are
    intentionally excluded (see module docstring).

    Why md5 stays (r10, SCALEBENCH hll_kernel md5 lane): swapping the
    register hash for an integer universal hash saves Spark ~0.3 s at
    sf10 but saves DuckDB the SAME ~0.3 s — md5 throughput is at
    absolute parity — while collapsing DuckDB's total to ~0.07 s, so
    the ratio would get WORSE, and the linear hash's
    arithmetic-progression structure biases max-rho (measured 12–28%
    estimate error vs md5's ~5% at p=9). The sf10 ratio is
    floor + md5-parity, an engine bound, not a plan defect."""
    ev = t(spark, sf_dir, "events")
    # The exact-count audit is FUSED into the register pass: a user
    # lands in exactly one (type, bucket) — bucket is a pure function
    # of h(user) — so SUM of per-bucket distinct users IS the per-type
    # distinct count. One scan, no join (previously a second scan +
    # countDistinct expand + broadcast join). r7 made the distinct an
    # EXPLICIT two-phase aggregate (no Expand); r8 moves ALL hash work
    # BEHIND it: the raw dedup on (event_type, user_id) touches only
    # the two key columns (map-side combined, so the exchange carries
    # ≤ distinct pairs), and md5 + base-16 conv + the 23-branch rho
    # CASE ladder evaluate once per DISTINCT user instead of once per
    # event — a ~13× kernel-work cut at the fixtures' events-per-user
    # rate, and the per-event path a 100 TB scan actually pays is now
    # just the hash-partition on the group key.
    regs = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.expr(
                "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .select(
            "event_type",
            (F.col("h") % _HLL_M).alias("bucket"),
            F.expr(_rho(f"(h DIV {_HLL_M})")).alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.max("rho").alias("reg"),
            F.count(F.lit(1)).alias("bucket_users"),
        )
    )
    summed = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - reg)")
        ).alias("s_present"),
        F.sum("bucket_users").alias("n_exact"),
    )
    s_total = F.col("s_present") + (F.lit(_HLL_M) - F.col("n_regs")) * F.lit(
        1 << (_HLL_WBITS + 1)
    )
    return (
        summed.select(
            "event_type",
            F.col("n_exact").cast("long").alias("n_exact"),
            (F.lit(_HLL_M) - F.col("n_regs")).cast("long").alias("empty_registers"),
            s_total.cast("long").alias("register_sum"),
            F.round(
                F.lit(_HLL_ALPHA * _HLL_M * _HLL_M * (1 << (_HLL_WBITS + 1)))
                / s_total.cast("double"),
                4,
            ).alias("hll_raw"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy-hitter estimates
# ---------------------------------------------------------------------------

_CMS_W = 1024
_CMS_D = 4  # independent rows

# The d=4 row hashes are four disjoint 32-bit slices of ONE md5 (128
# bits = exactly 4x32): one hash computation per token instead of four
# seeded ones — the standard derive-d-hashes-from-one trick — and the
# slices are independent bits of a cryptographic hash, which is the
# property CMS needs. Both engines slice the identical hex string.


def _cms_bucket_spark(md5col: str, row: int) -> str:
    off = 1 + 8 * row
    return (
        f"(CAST(conv(substr({md5col}, {off}, 8), 16, 10)"
        f" AS BIGINT) % {_CMS_W})"
    )


def _cms_bucket_duck(md5col: str, row: int) -> str:
    off = 1 + 8 * row
    terms = []
    for j in range(8):
        mult = 16 ** (7 - j)
        terms.append(
            f"(strpos('0123456789abcdef', substr({md5col}, {off + j}, 1)) - 1)"
            f" * CAST({mult} AS BIGINT)"
        )
    return "((" + " + ".join(terms) + f") % {_CMS_W})"


@query(
    "text_cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
    ),
    clean AS (SELECT token, md5(token) AS h128 FROM toks WHERE token <> ''),
    cells AS (
      {" UNION ALL ".join(
          f"SELECT {i} AS row_id, {_cms_bucket_duck('h128', i)} AS bucket,"
          f" CAST(COUNT(*) AS BIGINT) AS c FROM clean GROUP BY 1, 2"
          for i in range(_CMS_D))}
    ),
    top AS (
      SELECT token, md5(token) AS h128,
             CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM clean GROUP BY token
      ORDER BY exact_count DESC, token ASC LIMIT 10
    ),
    probed AS (
      SELECT t.token, t.exact_count, MIN(c.c) AS cms_estimate
      FROM top t
      JOIN cells c
        ON (
          {" OR ".join(
              f"(c.row_id = {i} AND c.bucket = {_cms_bucket_duck('t.h128', i)})"
              for i in range(_CMS_D))}
        )
      GROUP BY t.token, t.exact_count
    )
    SELECT token, exact_count, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_count AS BIGINT) AS overcount
    FROM probed
    ORDER BY exact_count DESC, token ASC
    """,
)
def text_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch (4 x 1024) estimates for the exact top-10
    tokens, reported against their true counts.

    Scale shape: ONE token aggregation feeds everything — the corpus
    collapses to (token, n) with map-side combine, then the 4-cell
    fan-out, hashing, and counter sums run over the VOCABULARY (a
    weighted sum Σn per bucket — identical counters to per-instance
    counting, at |vocab| cost instead of |tokens|; measured 0.65 s vs
    1.12 s at sf0.1). The counter exchange is O(4096) regardless of
    corpus size; the top-10 probe reuses the same persisted aggregate
    and broadcasts. CMS guarantees estimate >= truth; the overcount
    column shows the collision mass directly.

    Exactness: counters are exact BIGINT weighted sums of md5-derived
    buckets; MIN over 4 exact integers is exact — both engines emit
    identical estimates."""
    docs = rebalance(t(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = scoped_persist(
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n")),
    )
    hashed = counts.withColumn("h128", F.md5("token"))
    cells = (
        hashed.select(
            F.explode(
                F.expr(
                    "array("
                    + ", ".join(
                        f"struct(CAST({i} AS INT) AS row_id, "
                        f"{_cms_bucket_spark('h128', i)} AS bucket)"
                        for i in range(_CMS_D)
                    )
                    + ")"
                )
            ).alias("cell"),
            "n",
        )
        .select("cell.row_id", "cell.bucket", "n")
        .groupBy("row_id", "bucket")
        .agg(F.sum("n").alias("c"))
    )
    top = (
        counts.select("token", F.col("n").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("token"))
        .limit(10)
    )
    probe = top.withColumn("h128", F.md5("token")).select(
        "token",
        "exact_count",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct(CAST({i} AS INT) AS row_id, "
                    f"{_cms_bucket_spark('h128', i)} AS bucket)"
                    for i in range(_CMS_D)
                )
                + ")"
            )
        ).alias("cell"),
    ).select("token", "exact_count", "cell.row_id", "cell.bucket")
    return (
        F.broadcast(probe)  # bcast-ok: k-bounded probe token list
        .join(cells, on=["row_id", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count"))
            .cast("long")
            .alias("overcount"),
        )
        .orderBy(F.desc("exact_count"), F.asc("token"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (broadcast semi-join pruning audit)
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 17  # bits
_BLOOM_WORDS = _BLOOM_M // 32  # 32-bit words in BIGINTs (no sign-bit traps)
# k=4 seeded universal hashes over the shared md5-derived h32 (same
# family as minhash; seed 7) — identical integer positions on both
# engines.
_BLOOM_COEFFS = minhash_coeffs(4, seed=7)


def _bloom_pos_sql(i: int) -> str:
    a, b = _BLOOM_COEFFS[i]
    return f"(({sql_minhash('h', a, b)}) % {_BLOOM_M})"


@query(
    "stats_bloom_membership",
    oracle=f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS k
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    kh AS (SELECT k, {sql_h32("CAST(k AS VARCHAR)")} AS h FROM keys),
    bits AS (
      {" UNION ALL ".join(f"SELECT {_bloom_pos_sql(i)} AS pos FROM kh" for i in range(4))}
    ),
    bloom AS (
      SELECT pos // 32 AS word,
             bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS wv
      FROM bits GROUP BY 1
    ),
    probes AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             {sql_h32("CAST(c_custkey AS VARCHAR)")} AS h
      FROM customer
    ),
    ppos AS (
      {" UNION ALL ".join(f"SELECT k, seg, {_bloom_pos_sql(i)} AS pos FROM probes" for i in range(4))}
    ),
    checked AS (
      SELECT p.k, p.seg,
             CASE WHEN bool_and(
               b.wv IS NOT NULL AND
               (b.wv & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))) <> 0
             ) THEN 1 ELSE 0 END AS hit
      FROM ppos p LEFT JOIN bloom b ON p.pos // 32 = b.word
      GROUP BY p.k, p.seg
    ),
    truthed AS (
      SELECT c.k, c.seg, c.hit,
             CASE WHEN keys.k IS NOT NULL THEN 1 ELSE 0 END AS member
      FROM checked c LEFT JOIN keys ON c.k = keys.k
    )
    SELECT seg,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(member) AS BIGINT) AS n_members,
           CAST(SUM(hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(CASE WHEN hit = 1 AND member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives
    FROM truthed GROUP BY seg ORDER BY seg
    """,
)
def stats_bloom_membership(spark, sf_dir):
    """Bloom-filter membership with an exactness audit: build a
    2^17-bit / k=4 Bloom over the urgent-order customer set
    (operators/bloom.py — the reusable build/probe/prune operator),
    probe every customer, and report per-segment hits vs ground truth
    (every member hits by construction; the surplus is the measured
    false-positive count).

    This is THE lakehouse semi-join pruning tool at 100 TB: the bloom
    compiles the build side's key set into a ≤4096-row word table —
    metadata-sized no matter how large the key set — that broadcasts
    to the probe scan and filters it map-side, replacing a shuffle
    semi-join (Spark's own runtime bloom join does exactly this;
    building it explicitly makes it available across queries and
    engines). Build cost is one map-side-combined aggregate over the
    key set (bit_or partials commute); probe cost is a broadcast hash
    join per position — no corpus shuffle anywhere. Registers are
    exact BIGINT words from the shared md5-derived h32 + seeded
    universal-hash family, so both engines compute the identical
    filter bit-for-bit — this oracle row is the cross-engine proof of
    the operator itself."""
    from pg_ducklake_spark.operators.bloom import bloom_build, bloom_contains

    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    keys = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bloom = bloom_build(keys, "k", m=_BLOOM_M, k=4, seed=7)
    probes = cust.select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("seg")
    )
    checked = bloom_contains(probes, "k", bloom, m=_BLOOM_M, k=4, seed=7)
    truthed = checked.join(
        keys.withColumnRenamed("k", "mk"),
        F.col("k") == F.col("mk"),
        "left",
    ).select(
        "seg",
        F.when(F.col("bloom_hit"), F.lit(1)).otherwise(F.lit(0)).alias("hit"),
        F.when(F.col("mk").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias(
            "member"
        ),
    )
    return (
        truthed.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("member").alias("n_members"),
            F.sum("hit").alias("n_bloom_hits"),
            F.sum(
                F.when((F.col("hit") == 1) & (F.col("member") == 0), 1).otherwise(0)
            ).alias("n_false_positives"),
        )
        .orderBy("seg")
    )
