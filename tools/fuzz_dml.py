"""Randomized differential DML: apply a seeded random sequence of
lakehouse mutations (batch inserts, inline-path inserts, predicate
updates, predicate deletes, merges, vacuum, inline flush) to a Lake table AND
mirror every data-changing op onto a plain DuckDB table, comparing the
full table contents after every step — then spot-check TIME TRAVEL by
replaying the DuckDB mirror up to an earlier op and comparing it with
the lake as of that op's snapshot.

This drives the surfaces the curated tests pin (deletion vectors,
copy-on-write updates, the inline buffer, vacuum rewrite/merge,
snapshot isolation) through op ORDERINGS no hand-written test tries —
e.g. update-over-deleted-rows-then-vacuum-then-delete-again — with an
independent engine as the referee.

Usage: python tools/fuzz_dml.py [--ops N] [--seed S] [--seeds a,b,c]
Exit code 1 on any divergence.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SCHEMA = "id bigint, grp string, val bigint"
DUCK_SCHEMA = "id BIGINT, grp VARCHAR, val BIGINT"
GROUPS = ["a", "b", "c", "d", "e"]


def _preds(rng: random.Random, next_id: int):
    """A random DML predicate. The BETWEEN and top-level-OR shapes
    exercise file pruning (operators/pruning.py); DuckDB gives OR the
    same precedence, so the mirror referees the pruned match."""
    kind = rng.randrange(6)
    if kind == 0:
        return f"grp = '{rng.choice(GROUPS)}'"
    if kind == 1:
        return f"id % {rng.randint(2, 7)} = {rng.randint(0, 1)}"
    if kind == 2:
        return f"val > {rng.randint(0, 900)}"
    if kind == 3:
        lo = rng.randint(0, max(next_id, 1))
        return f"id BETWEEN {lo} AND {lo + rng.randint(0, 12)}"
    if kind == 4:
        return (
            f"grp = '{rng.choice(GROUPS)}' AND val <= {rng.randint(100, 900)}"
            f" OR id < {rng.randint(0, max(next_id, 1))}"
        )
    return (
        f"grp = '{rng.choice(GROUPS)}' AND val <= {rng.randint(100, 900)}"
    )


def _ordered(rows) -> list:
    """Rows sorted with NULLs first per column (merge inserts NULL ids)."""
    return sorted(rows, key=lambda r: tuple((v is not None, v) for v in r))


def _merge_op(rng: random.Random, next_id: int):
    """A random MERGE on ``id``: source rows hitting live, deleted and
    never-used ids (fresh ids start at ``next_id``), sometimes a NULL id
    (never matches: inserted); updates or deletes the matched rows,
    inserts the rest or not. Returns the source rows, the
    ``Lake.merge`` options and the mirror's equivalent statements,
    which stage the source with a pre-merge ``hit`` flag first so the
    update/delete and the insert both see the table as it was."""
    ids = set(rng.sample(range(max(next_id, 1)), k=min(next_id, rng.randint(1, 6))))
    ids |= {next_id + i for i in range(rng.randint(0 if ids else 1, 3))}
    keys = sorted(ids) + ([None] if rng.random() < 0.3 else [])
    rows = [(k, rng.choice(GROUPS), rng.randint(0, 999)) for k in keys]
    action = rng.choice(["update", "delete"])
    insert = rng.random() < 0.8
    kw = {
        "when_matched_update": {"val": "target.val + source.val"} if action == "update" else None,
        "when_matched_delete": action == "delete",
        "when_not_matched_insert": insert,
    }
    vals = ", ".join(
        f"({'NULL' if k is None else k}, '{g}', {v})" for k, g, v in rows
    )
    sql = [
        "CREATE OR REPLACE TEMP TABLE m AS SELECT CAST(s.id AS BIGINT) AS id,"
        " s.grp, CAST(s.val AS BIGINT) AS val,"
        " EXISTS (SELECT 1 FROM f WHERE f.id = s.id) AS hit"
        f" FROM (VALUES {vals}) s(id, grp, val)",
        "UPDATE f SET val = f.val + m.val FROM m WHERE m.hit AND f.id = m.id"
        if action == "update"
        else "DELETE FROM f WHERE id IN (SELECT id FROM m WHERE hit)",
    ]
    if insert:
        sql.append("INSERT INTO f SELECT id, grp, val FROM m WHERE NOT hit")
    return rows, kw, "; ".join(sql)


class Mirror:
    """The DuckDB side: one table, plus the op log for replays."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE f ({DUCK_SCHEMA})")
        self.log: list[str] = []

    def apply(self, sql: str) -> None:
        self.con.execute(sql)
        self.log.append(sql)

    def rows(self):
        return _ordered(self.con.execute("SELECT * FROM f").fetchall())

    def replay(self, upto: int):
        con = duckdb.connect()
        con.execute(f"CREATE TABLE f ({DUCK_SCHEMA})")
        for sql in self.log[:upto]:
            con.execute(sql)
        return _ordered(con.execute("SELECT * FROM f").fetchall())


def run(ops: int, seed: int, spark=None) -> list[str]:
    from pg_ducklake_spark import Lake
    from pg_ducklake_spark.errors import LakeError

    if spark is None:
        from pg_ducklake_spark.session import get_spark

        spark = get_spark("fuzz_dml")
    rng = random.Random(seed)
    tmp = tempfile.mkdtemp(prefix=f"fuzz_dml_{seed}_")
    problems: list[str] = []
    try:
        lake = Lake(spark, tmp)
        lake.create_table(
            "f", SCHEMA, options={"data_inlining_row_limit": 4}
        )
        mirror = Mirror()
        next_id = 0
        versions: list[int] = []  # lake snapshot after each mirrored op

        def lake_rows():
            return _ordered(tuple(r) for r in lake.table("f").collect())

        for step in range(ops):
            op = rng.choices(
                ["insert", "insert_inline", "update", "delete",
                 "merge", "vacuum", "flush"],
                weights=[30, 15, 20, 20, 15, 8, 7],
            )[0]
            if op == "insert":
                n = rng.randint(3, 12)
                rows = [
                    (next_id + i, rng.choice(GROUPS), rng.randint(0, 999))
                    for i in range(n)
                ]
                next_id += n
                lake.insert(
                    "f", spark.createDataFrame(rows, SCHEMA)
                )
                mirror.apply(
                    "INSERT INTO f VALUES "
                    + ", ".join(f"({i}, '{g}', {v})" for i, g, v in rows)
                )
            elif op == "insert_inline":
                n = rng.randint(1, 3)  # under the inline limit
                rows = [
                    {"id": next_id + i, "grp": rng.choice(GROUPS),
                     "val": rng.randint(0, 999)}
                    for i in range(n)
                ]
                next_id += n
                lake.insert_rows("f", rows)
                mirror.apply(
                    "INSERT INTO f VALUES "
                    + ", ".join(
                        f"({r['id']}, '{r['grp']}', {r['val']})" for r in rows
                    )
                )
            elif op == "update":
                pred = _preds(rng, next_id)
                delta = rng.randint(1, 50)
                lake.update("f", {"val": f"val + {delta}"}, pred)
                mirror.apply(f"UPDATE f SET val = val + {delta} WHERE {pred}")
            elif op == "delete":
                pred = _preds(rng, next_id)
                lake.delete("f", pred)
                mirror.apply(f"DELETE FROM f WHERE {pred}")
            elif op == "merge":
                rows, kw, sql = _merge_op(rng, next_id)
                next_id += len(rows)
                src = spark.createDataFrame(rows, SCHEMA)
                try:
                    lake.merge("f", src, ["id"], **kw)
                except LakeError as e:  # matched an unflushed inline row
                    if "flush" not in str(e):
                        raise
                    lake.flush_inlined_data()
                    lake.merge("f", src, ["id"], **kw)
                mirror.apply(sql)
            elif op == "vacuum":
                lake.vacuum("f")  # no mirror: must not change contents
            else:
                lake.flush_inlined_data()  # ditto
            if op in ("insert", "insert_inline", "update", "delete", "merge"):
                versions.append(lake.current_snapshot("f"))
            got, want = lake_rows(), mirror.rows()
            if got != want:
                problems.append(
                    f"step {step} ({op}): lake={len(got)} rows,"
                    f" duck={len(want)}; first diff:"
                    f" {next((a, b) for a, b in zip(got, want) if a != b) if len(got) == len(want) else (got[:2], want[:2])}"
                )
                break

        # time-travel spot checks: lake@version_k == mirror replayed to k
        if not problems and len(versions) >= 2:
            for k in sorted(rng.sample(range(1, len(versions) + 1),
                                       k=min(3, len(versions)))):
                v = versions[k - 1]
                tt = _ordered(
                    tuple(r) for r in lake.table("f", version=v).collect()
                )
                rep = mirror.replay(k)
                if tt != rep:
                    problems.append(
                        f"time travel v{v} (op {k}): lake={len(tt)} rows,"
                        f" replay={len(rep)}"
                    )

        # change-feed spot checks: for random (k1 < k2), the feed's net
        # effect between those snapshots must transform the mirror's
        # state at k1 into its state at k2 (multiset arithmetic):
        #   replay(k1) + inserts&postimages - deletes&preimages == replay(k2)
        if not problems and len(versions) >= 3:
            from collections import Counter

            for _ in range(2):
                k1, k2 = sorted(rng.sample(range(1, len(versions) + 1), 2))
                if k1 == k2:
                    continue
                v1, v2 = versions[k1 - 1], versions[k2 - 1]
                feed = lake.table_changes("f", v1 + 1, v2).collect()
                plus = Counter(
                    (r.id, r.grp, r.val)
                    for r in feed
                    if r._change_type in ("insert", "update_postimage")
                )
                minus = Counter(
                    (r.id, r.grp, r.val)
                    for r in feed
                    if r._change_type in ("delete", "update_preimage")
                )
                state = Counter(mirror.replay(k1))
                state.update(plus)
                state.subtract(minus)
                want = Counter(mirror.replay(k2))
                if +state != want:
                    delta = (+state) - want
                    missing = want - (+state)
                    problems.append(
                        f"change feed v{v1}..v{v2} (ops {k1}..{k2}) does not"
                        f" reconcile: extra={dict(list(delta.items())[:2])}"
                        f" missing={dict(list(missing.items())[:2])}"
                    )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ops", type=int, default=30)
    ap.add_argument("--seed", type=int, default=20260814)
    ap.add_argument("--seeds", type=str, default=None,
                    help="comma-separated list; overrides --seed")
    args = ap.parse_args()
    seeds = (
        [int(s) for s in args.seeds.split(",")]
        if args.seeds
        else [args.seed]
    )
    bad = 0
    for s in seeds:
        problems = run(args.ops, s)
        for p in problems:
            print(f"seed {s} DIVERGED: {p}")
        bad += len(problems)
        if not problems:
            print(f"seed {s}: {args.ops} ops + time-travel checks agree")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
