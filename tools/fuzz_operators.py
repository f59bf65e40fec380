"""Differential fuzzer for the operator library over DUPLICATE-HEAVY
random fixtures (VERDICT r8 item 7).

The r8 bloom bug class: a library operator that is correct on the
all-distinct synthetic keys its unit tests use, but wrong on realistic
data where full rows repeat. Every check here generates seeded tables
whose rows deliberately collide — Zipf-ish key domains, planted
duplicate (key, payload) tuples, tied timestamps, NULL keys — and
compares the Spark operator against plain DuckDB SQL computing the same
thing.

Checks: bloom (prune ∘ semi == semi, contains == IN), asof_join
(latest right <= left per key, ties included), group_order_statistic
(lower median per group), pack_sequences (bin arithmetic vs window
prefix sums), substring_spans (unicode/multi-space/all-whitespace
corpora vs the registered oracle), jaccard (planted pairs at, above
and below the n-gram Jaccard threshold; the same corpus through
MinHash+LSH), merge (update/delete/insert and the
change feed vs set-logic SQL, over a pruned multi-file target), bm25
(Zipf corpora, tied-score duplicates, tf>1 plants), hll (Zipf-heavy
repeated/negative user_ids, single-user types).

Usage: python tools/fuzz_operators.py [--seeds 1,2,3]
Exits 1 on any divergence.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

from tools.check_correctness import norm_rows


def _spark():
    from pg_ducklake_spark.session import get_spark

    return get_spark()


def _compare(name: str, spark_df, con, sql: str) -> list[str]:
    got_cols = spark_df.columns
    got = norm_rows(got_cols, [tuple(r) for r in spark_df.collect()])
    cur = con.execute(sql)
    want_cols = [d[0] for d in cur.description]
    want = norm_rows(want_cols, cur.fetchall())
    errs = []
    if sorted(got_cols) != sorted(want_cols):
        errs.append(f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}")
    elif got != want:
        diff_g = [r for r in got if r not in want][:3]
        diff_w = [r for r in want if r not in got][:3]
        errs.append(
            f"{name}: {len(got)} vs {len(want)} rows; "
            f"spark-only={diff_g} oracle-only={diff_w}"
        )
    return errs


def _dup_heavy_facts(rng: np.random.Generator, n: int, key_domain: int):
    """(k, v, payload) with Zipf-ish keys, repeated full rows, null keys."""
    k = (rng.zipf(1.3, size=n) % key_domain).astype("int64")
    v = rng.integers(0, 50, size=n).astype("int64")
    payload = np.array([f"p{x}" for x in rng.integers(0, 20, size=n)])
    # plant exact duplicate rows: repeat a random 20% slice verbatim
    idx = rng.integers(0, n, size=n // 5)
    k = np.concatenate([k, k[idx]])
    v = np.concatenate([v, v[idx]])
    payload = np.concatenate([payload, payload[idx]])
    nulls = rng.random(len(k)) < 0.03
    rows = [
        (None if nulls[i] else int(k[i]), int(v[i]), str(payload[i]))
        for i in range(len(k))
    ]
    return rows


def check_bloom(spark, con, rng, tmp) -> list[str]:
    from pg_ducklake_spark.operators.bloom import (
        bloom_build,
        bloom_contains,
        bloom_prune,
    )
    from pyspark.sql import functions as F

    facts = spark.createDataFrame(
        _dup_heavy_facts(rng, 4000, 300), "k bigint, v bigint, payload string"
    )
    key_vals = [int(x) for x in (rng.zipf(1.3, size=400) % 500)]
    keys = spark.createDataFrame([(x,) for x in key_vals], "kk bigint")
    facts.write.mode("overwrite").parquet(f"{tmp}/facts")
    keys.write.mode("overwrite").parquet(f"{tmp}/keys")
    con.execute(f"CREATE OR REPLACE VIEW facts AS FROM '{tmp}/facts/*.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW keys AS FROM '{tmp}/keys/*.parquet'")

    bloom = bloom_build(keys, "kk", m=1 << 13, k=4)
    pruned = bloom_prune(facts, "k", bloom, m=1 << 13, k=4)
    exact = (
        pruned.join(keys.distinct(), pruned.k == F.col("kk"), "left_semi")
        .groupBy("payload")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
        )
    )
    errs = _compare(
        "bloom_prune_semi",
        exact,
        con,
        """SELECT payload, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(v) AS BIGINT) AS s
           FROM facts WHERE k IN (SELECT kk FROM keys)
           GROUP BY payload""",
    )
    # contains: hit column must be true for every true member (no false
    # negatives) and row count must equal the input exactly.
    probed = bloom_contains(facts, "k", bloom, m=1 << 13, k=4)
    n_in, n_out = facts.count(), probed.count()
    if n_in != n_out:
        errs.append(f"bloom_contains: multiplicity {n_in} -> {n_out}")
    fn = probed.filter(
        (~F.col("bloom_hit")) & F.col("k").isin(list(set(key_vals)))
    ).count()
    if fn:
        errs.append(f"bloom_contains: {fn} false negatives")
    return errs


def check_asof(spark, con, rng, tmp) -> list[str]:
    from pg_ducklake_spark.operators.asof import asof_join

    n_l, n_r, groups = 1500, 800, 6
    # integer "timestamps" with heavy ties (small domain)
    lt = rng.integers(0, 200, size=n_l).astype("int64")
    lby = rng.integers(0, groups, size=n_l).astype("int64")
    lv = rng.integers(0, 100, size=n_l).astype("int64")
    rt = rng.integers(0, 200, size=n_r).astype("int64")
    rby = rng.integers(0, groups, size=n_r).astype("int64")
    rv = np.arange(n_r).astype("int64")  # unique so the winner is testable
    left = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(lt, lby, lv)],
        "ts bigint, g bigint, lv bigint",
    )
    right = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(rt, rby, rv)],
        "ts bigint, g bigint, rv bigint",
    )
    left.write.mode("overwrite").parquet(f"{tmp}/aleft")
    right.write.mode("overwrite").parquet(f"{tmp}/aright")
    con.execute(f"CREATE OR REPLACE VIEW aleft AS FROM '{tmp}/aleft/*.parquet'")
    con.execute(f"CREATE OR REPLACE VIEW aright AS FROM '{tmp}/aright/*.parquet'")

    out = asof_join(left, right, on="ts", by=["g"]).select(
        "ts", "g", "lv", "r_ts"
    )
    # Duplicate right (ts, g) rows make r_rv ambiguous; r_ts (the
    # matched timestamp) is deterministic — compare that.
    return _compare(
        "asof_join",
        out,
        con,
        """SELECT l.ts, l.g, l.lv,
                  (SELECT MAX(r.ts) FROM aright r
                   WHERE r.g = l.g AND r.ts <= l.ts) AS r_ts
           FROM aleft l""",
    )


def check_quantile(spark, con, rng, tmp) -> list[str]:
    from pg_ducklake_spark.operators.quantile import group_order_statistic

    n, groups = 3000, 8
    g = rng.integers(0, groups, size=n).astype("int64")
    v = rng.integers(-40, 40, size=n).astype("int64")  # heavy value ties
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(g, v)], "g bigint, v bigint"
    )
    df.write.mode("overwrite").parquet(f"{tmp}/qt")
    con.execute(f"CREATE OR REPLACE VIEW qt AS FROM '{tmp}/qt/*.parquet'")
    out = group_order_statistic(df, ["g"], "v", out_col="med")
    return _compare(
        "group_order_statistic",
        out,
        con,
        """SELECT g, CAST(v AS BIGINT) AS med FROM (
             SELECT g, v,
                    row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                    count(*) OVER (PARTITION BY g) AS n
             FROM qt) WHERE rn = (n + 1) // 2""",
    )


def check_packing(spark, con, rng, tmp) -> list[str]:
    from pg_ducklake_spark.operators.packing import pack_sequences

    n = 2000
    toks = rng.integers(1, 60, size=n).astype("int64")
    rows = [(i, int(t)) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok bigint")
    df.write.mode("overwrite").parquet(f"{tmp}/pk")
    con.execute(f"CREATE OR REPLACE VIEW pk AS FROM '{tmp}/pk/*.parquet'")
    out = pack_sequences(
        df, "n_tok", 128, order_col="doc_id", id_cols=["doc_id"]
    ).select("doc_id", "bin_id", "bin_offset", "seg_tokens", "doc_token_start")
    return _compare(
        "pack_sequences",
        out,
        con,
        """WITH c AS (
             SELECT doc_id, n_tok,
                    COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c0
             FROM pk WHERE n_tok > 0),
           seg AS (
             SELECT doc_id, n_tok, c0, c0 + n_tok AS c1,
                    unnest(range(CAST(c0 // 128 AS BIGINT),
                                 CAST((c0 + n_tok - 1) // 128 + 1 AS BIGINT))) AS bin_id
             FROM c)
           SELECT doc_id, CAST(bin_id AS BIGINT) AS bin_id,
                  CAST(GREATEST(c0, bin_id * 128) - bin_id * 128 AS BIGINT) AS bin_offset,
                  CAST(LEAST(c1, (bin_id + 1) * 128) - GREATEST(c0, bin_id * 128) AS BIGINT) AS seg_tokens,
                  CAST(GREATEST(c0, bin_id * 128) - c0 AS BIGINT) AS doc_token_start
           FROM seg""",
    )


def check_substring_spans(spark, con, rng, tmp) -> list[str]:
    """dedup_substring_spans on adversarial text: unicode tokens
    (accents, CJK, ZWJ emoji — both engines count code points,
    verified), multi-space runs, leading/trailing spaces, empty and
    sub-window docs, exact duplicates, and long shared token runs at
    DIFFERENT offsets (the alignment case a stride grid misses). The
    oracle is the library's own registered SQL — this proves the
    token-slice construction is engine-exact beyond the ASCII driver
    fixtures."""
    from pg_ducklake_spark.plans import ORACLES, QUERIES

    vocab = (
        [f"tok{i}" for i in range(30)]
        + ["héllo", "naïve", "中文词", "日本語", "données", "emoji👨‍👩x", "ß"]
    )
    docs = []
    n_base = 60
    for i in range(n_base):
        k = int(rng.integers(0, 40))
        toks = [vocab[int(rng.integers(0, len(vocab)))] for _ in range(k)]
        sep = "  " if rng.random() < 0.2 else " "  # multi-space runs
        text = sep.join(toks)
        if rng.random() < 0.15:
            text = " " + text + "  "  # leading/trailing spaces
        docs.append((i, text))
    # exact duplicates + shared runs at different offsets
    shared = " ".join(vocab[int(rng.integers(0, len(vocab)))] for _ in range(18))
    for j in range(10):
        src = docs[int(rng.integers(0, n_base))][1]
        docs.append((n_base + j, src))  # verbatim copy
    for j in range(8):
        pfx = " ".join("p%d" % x for x in rng.integers(0, 9, size=int(rng.integers(0, 6))))
        docs.append((n_base + 10 + j, (pfx + " " + shared).strip()))
    docs.append((200, ""))  # empty
    docs.append((201, "short"))  # below window length
    # >= L chars but tokenizes EMPTY (ADVICE r9: unguarded this crashed
    # Spark via sequence(1,0) -> slice(toks, 0, W) while DuckDB's empty
    # range succeeded — crash-vs-success divergence)
    docs.append((202, " " * 80))
    docs.append((203, " " * int(rng.integers(50, 200))))
    # NULL text (ADVICE r10: _windows_kernel crashed on None while the
    # oracle yields zero windows — crash-vs-success divergence)
    docs.append((204, None))
    docs.append((205, None))
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/spans/documents.parquet")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"FROM '{tmp}/spans/documents.parquet/*.parquet'"
    )
    errs = _compare(
        "substring_spans",
        QUERIES["dedup_substring_spans"](spark, f"{tmp}/spans"),
        con,
        ORACLES["dedup_substring_spans"],
    )
    # Same adversarial corpus through the window-hash detector — its
    # kernel (plans/dedup2.py) shares the NULL/whitespace failure class.
    errs += _compare(
        "substring_windows",
        QUERIES["dedup_substring_windows"](spark, f"{tmp}/spans"),
        con,
        ORACLES["dedup_substring_windows"],
    )
    return errs


def check_jaccard(spark, con, rng, tmp) -> list[str]:
    """dedup_ngram_jaccard (operators/dedup.jaccard_pairs over the
    posting-pair kernel) at its 0.6 threshold: planted pairs whose
    trigram Jaccard is just above (0.65), exactly at (0.6) and just
    below (0.55) it, plus Zipf-token random docs (repeated trigrams,
    hot shingles with long posting lists), verbatim copies, mixed case,
    multi-space runs, docs under 3 tokens, empty and NULL text. The
    same corpus goes through dedup_minhash_lsh. Oracles are the
    library's registered SQL."""
    from pg_ducklake_spark.plans import ORACLES, QUERIES

    docs = []
    # A doc of 22 distinct tokens has 20 trigrams; a copy of its first
    # p tokens shares p - 2 of them: Jaccard (p - 2) / 20.
    for b in range(6):
        toks = [f"b{b}w{j}" for j in range(22)]
        docs.append((len(docs), " ".join(toks)))
        for p in (15, 14, 13):  # 13/20, 12/20, 11/20
            docs.append((len(docs), " ".join(toks[:p])))
    vocab = ["the", "a", "of", "Data", "data", "lake", "naïve", "É", "x"]
    for _ in range(40):
        k = int(rng.integers(0, 14))
        idx = (rng.zipf(1.6, size=k) - 1) % len(vocab)
        sep = "  " if rng.random() < 0.15 else " "
        docs.append((len(docs), sep.join(vocab[int(i)] for i in idx)))
    for _ in range(4):
        docs.append((len(docs), docs[int(rng.integers(0, len(docs)))][1]))
    docs += [(len(docs), ""), (len(docs) + 1, "two words"), (len(docs) + 2, None)]
    order = rng.permutation(len(docs))  # ids no longer follow plant order
    rows = [(int(order[i]), docs[i][1]) for i in range(len(docs))]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/jac/documents.parquet")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"FROM '{tmp}/jac/documents.parquet/*.parquet'"
    )
    return [
        err
        for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh")
        for err in _compare(name, QUERIES[name](spark, f"{tmp}/jac"), con, ORACLES[name])
    ]


def check_merge(spark, con, rng, tmp) -> list[str]:
    """Upsert then delete-merge against set-logic SQL. The target spans
    four files by key range and the source keys only the middle two, so
    file pruning has files to skip; one target key sits in two files
    (one source row updates both rows); one target row whose key the
    source carries is DV-deleted first (so it is inserted, not
    matched); two source rows have a NULL key (inserted, never
    matched). The upsert's change feed is compared change type by
    change type."""
    from pg_ducklake_spark.lake import Lake
    from pg_ducklake_spark.operators.merge import merge

    lake = Lake(spark, os.path.join(tmp, "lake"))
    dom = 400
    bk = np.sort(rng.permutation(dom)[:300]).astype("int64")  # unique
    chunks = [
        [(int(k), int(v)) for k, v in zip(c, rng.integers(0, 100, size=len(c)))]
        for c in np.array_split(bk, 4)
    ]
    dup_k = chunks[1][len(chunks[1]) // 2][0]
    chunks[2].append((dup_k, int(rng.integers(0, 100))))  # same key, 2nd file
    gone_k = chunks[2][len(chunks[2]) // 3][0]
    lo, hi = chunks[1][0][0], chunks[2][-2][0]
    sk = rng.permutation(np.arange(lo, hi + 1))[: (hi - lo) // 2]
    sk = sorted({int(x) for x in sk} | {dup_k, gone_k})
    src_rows = [(k, int(rng.integers(1000, 1100))) for k in sk]
    src_rows += [(None, 1100), (None, 1101)]
    lake.create_table("mt", "k bigint, v bigint")
    for c in chunks:
        lake.insert("mt", spark.createDataFrame(c, "k bigint, v bigint"))
    lake.delete("mt", f"k = {gone_k}")
    base = [r for c in chunks for r in c if r[0] != gone_k]
    con.execute("CREATE OR REPLACE TABLE mbase (k BIGINT, v BIGINT)")
    con.executemany("INSERT INTO mbase VALUES (?, ?)", base)
    con.execute("CREATE OR REPLACE TABLE msrc (k BIGINT, v BIGINT)")
    con.executemany("INSERT INTO msrc VALUES (?, ?)", src_rows)
    merge(
        lake, "mt", spark.createDataFrame(src_rows, "k bigint, v bigint"),
        on=["k"], when_matched_update={"v": "source.v"},
        when_not_matched_insert=True,
    )
    v_up = lake.current_snapshot("mt")
    new_rows = "SELECT s.k, s.v FROM msrc s WHERE s.k IS NULL OR s.k NOT IN (SELECT k FROM mbase)"
    con.execute(
        "CREATE OR REPLACE TABLE mafter AS "
        "SELECT b.k, COALESCE(s.v, b.v) AS v FROM mbase b LEFT JOIN msrc s USING (k) "
        f"UNION ALL {new_rows}"
    )
    errs = _compare("merge_upsert", lake.table("mt"), con, "SELECT * FROM mafter")
    errs += _compare(
        "merge_upsert_changes",
        lake.table_changes("mt", v_up, v_up).select("k", "v", "_change_type"),
        con,
        f"""SELECT b.k, b.v, 'update_preimage' AS _change_type
            FROM mbase b JOIN msrc s USING (k)
            UNION ALL SELECT b.k, s.v, 'update_postimage'
            FROM mbase b JOIN msrc s USING (k)
            UNION ALL SELECT k, v, 'insert' FROM ({new_rows})""",
    )
    # second round: delete the matched half
    del_keys = [(k,) for k in sk[: len(sk) // 2]]
    merge(
        lake, "mt",
        spark.createDataFrame(del_keys, "k bigint"),
        on=["k"], when_matched_delete=True, when_not_matched_insert=False,
    )
    con.execute("CREATE OR REPLACE TABLE mdel (k BIGINT)")
    con.executemany("INSERT INTO mdel VALUES (?)", del_keys)
    errs += _compare(
        "merge_delete",
        lake.table("mt"),
        con,
        "SELECT k, v FROM mafter WHERE k IS NULL OR k NOT IN (SELECT k FROM mdel)",
    )
    return errs


def check_bm25(spark, con, rng, tmp) -> list[str]:
    """text_bm25_topk on adversarial corpora (VERDICT r9 #7 — standing
    guard for floor-chasing rewrites): Zipf-shaped term frequencies
    over a vocabulary that CONTAINS the literal query terms, exact
    duplicate documents (tied scores — rnk must tie-break by doc_id on
    both engines), docs with none of the terms, empty docs, multi-space
    runs, and repeated terms within one doc (tf > 1). Oracle is the
    library's own registered SQL."""
    from pg_ducklake_spark.plans import ORACLES, QUERIES
    from pg_ducklake_spark.plans.retrieval import _BM25_QUERIES

    terms = [w for _, w in _BM25_QUERIES]
    noise = [f"w{i}" for i in range(40)]
    vocab = terms + noise
    docs = []
    for i in range(120):
        k = int(rng.integers(0, 30))
        # Zipf-ish draw biased toward the head so query terms get real
        # postings with varied df
        idx = rng.zipf(1.4, size=k) % len(vocab)
        toks = [vocab[int(j)] for j in idx]
        if rng.random() < 0.3:  # force tf > 1 for a query term
            toks += [terms[int(rng.integers(0, len(terms)))]] * int(
                rng.integers(2, 5)
            )
        sep = "  " if rng.random() < 0.2 else " "
        docs.append((i, sep.join(toks)))
    # exact duplicates: tied score_micro, rnk must break by doc_id ASC
    for j in range(8):
        src = docs[int(rng.integers(0, 120))][1]
        docs.append((120 + j, src))
    docs.append((300, ""))  # empty doc
    docs.append((301, " ".join(noise[:5])))  # no query terms
    spark.createDataFrame(docs, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/bm25/documents.parquet")
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"FROM '{tmp}/bm25/documents.parquet/*.parquet'"
    )
    return _compare(
        "bm25_topk",
        QUERIES["text_bm25_topk"](spark, f"{tmp}/bm25"),
        con,
        ORACLES["text_bm25_topk"],
    )


def check_hll(spark, con, rng, tmp) -> list[str]:
    """stats_hll_distinct on adversarial events (VERDICT r9 #7):
    Zipf-heavy repeated users (the distinct pass has real work),
    negative user_ids (CAST to string must agree), single-user types,
    one type whose users all land via few distinct values, and tied
    register maxima. user_id stays NOT NULL — the schema contract of
    the events table (a NULL user would hit COUNT(DISTINCT) vs
    count(1) semantics both engines define differently across the
    fused audit). Oracle is the library's registered SQL."""
    from pg_ducklake_spark.plans import ORACLES, QUERIES

    types = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i, et in enumerate(types):
        n = int(rng.integers(200, 2000))
        users = (rng.zipf(1.5, size=n) % (10 ** (i + 1))).astype("int64")
        if i == 0:
            users = users % 3  # tiny distinct set -> mostly empty regs
        sign = rng.random(n) < 0.2
        for u, s in zip(users, sign):
            rows.append((et, int(-u if s else u)))
    rows.append(("solo", 42))  # single-user type
    spark.createDataFrame(rows, "event_type string, user_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{tmp}/hll/events.parquet")
    con.execute(
        "CREATE OR REPLACE VIEW events AS "
        f"FROM '{tmp}/hll/events.parquet/*.parquet'"
    )
    return _compare(
        "hll_distinct",
        QUERIES["stats_hll_distinct"](spark, f"{tmp}/hll"),
        con,
        ORACLES["stats_hll_distinct"],
    )


CHECKS = [
    check_bloom,
    check_asof,
    check_quantile,
    check_packing,
    check_substring_spans,
    check_jaccard,
    check_merge,
    check_bm25,
    check_hll,
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    spark = _spark()
    failures = 0
    for seed in seeds:
        tmp = tempfile.mkdtemp(prefix=f"fuzzop{seed}_")
        con = duckdb.connect()
        rng = np.random.default_rng(seed)
        errs: list[str] = []
        for chk in CHECKS:
            errs += chk(spark, con, rng, tmp)
        con.close()
        shutil.rmtree(tmp, ignore_errors=True)
        if errs:
            failures += len(errs)
            for e in errs:
                print(f"seed {seed}: FAIL {e}")
        else:
            print(f"seed {seed}: {len(CHECKS)} operator checks agree")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
