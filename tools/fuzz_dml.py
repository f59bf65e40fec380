"""Randomized differential DML: apply a seeded random sequence of
lakehouse mutations (batch inserts, inline-path inserts, predicate
updates, predicate deletes, merges, vacuum, inline flush, and now and
then a schema change: ADD COLUMN with or without DEFAULT, RENAME, DROP,
DROP then re-ADD) to a Lake table AND mirror every data- or
schema-changing op onto a plain DuckDB table, comparing the full table
contents after every step — then spot-check TIME TRAVEL by replaying the
DuckDB mirror up to an earlier op and comparing it with the lake as of
that op's snapshot, reconcile the change feed, and check that a frozen
export reads like the mirror.

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
DUCK_TYPES = {"bigint": "BIGINT", "string": "VARCHAR"}


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    return f"'{v}'" if isinstance(v, str) else str(v)


class Columns:
    """The table's columns after ``id, grp, val``: name -> lake type.
    The DML predicates only name the first three, so schema changes
    only touch these. Schema changes and the values of these columns
    draw from their own generator, so a seed runs the same DML ops
    with and without them."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"columns-{seed}")
        self.extra: dict[str, str] = {}
        self.freed: list[str] = []  # dropped or renamed-away names
        self.n = 0

    def ddl(self) -> str:
        return ", ".join([SCHEMA] + [f"{c} {t}" for c, t in self.extra.items()])

    def names(self) -> list[str]:
        return ["id", "grp", "val"] + list(self.extra)

    def values(self) -> tuple:
        rng = self.rng
        return tuple(
            None if rng.random() < 0.2
            else rng.randint(0, 99) if t == "bigint"
            else rng.choice(GROUPS)
            for t in self.extra.values()
        )

    def alter(self, lake, mirror) -> str:
        """Apply one random schema change to both sides."""
        rng = self.rng
        kinds = ["add", "add_default"]
        if self.extra:
            kinds += ["rename", "drop", "drop_readd"]
        kind = rng.choice(kinds)
        if kind.startswith("add"):
            if self.freed and rng.random() < 0.5:  # name reuse
                name = self.freed.pop(rng.randrange(len(self.freed)))
            else:
                name, self.n = f"x{self.n}", self.n + 1
            typ = rng.choice(["bigint", "string"])
            default = None
            if kind == "add_default":
                default = str(rng.randint(0, 99)) if typ == "bigint" else "'dflt'"
            lake.add_column("f", name, typ, default=default)
            mirror.apply(
                f"ALTER TABLE f ADD COLUMN {name} {DUCK_TYPES[typ]}"
                + (f" DEFAULT {default}" if default is not None else "")
            )
            self.extra[name] = typ
            return f"{kind} {name} {typ}"
        name = rng.choice(list(self.extra))
        if kind == "rename":
            new, self.n = f"x{self.n}", self.n + 1
            lake.rename_column("f", name, new)
            mirror.apply(f"ALTER TABLE f RENAME COLUMN {name} TO {new}")
            self.extra = {(new if c == name else c): t for c, t in self.extra.items()}
            self.freed.append(name)
            return f"rename {name} {new}"
        typ = self.extra.pop(name)
        lake.drop_column("f", name)
        if kind == "drop":
            mirror.apply(f"ALTER TABLE f DROP COLUMN {name}")
            self.freed.append(name)
            return f"drop {name}"
        lake.add_column("f", name, typ)
        mirror.apply(
            f"ALTER TABLE f DROP COLUMN {name};"
            f" ALTER TABLE f ADD COLUMN {name} {DUCK_TYPES[typ]}"
        )
        self.extra[name] = typ
        return f"drop_readd {name}"


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


def _merge_op(rng: random.Random, next_id: int, cols: Columns):
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
    rows = [
        (k, rng.choice(GROUPS), rng.randint(0, 999)) + cols.values()
        for k in keys
    ]
    action = rng.choice(["update", "delete"])
    insert = rng.random() < 0.8
    kw = {
        "when_matched_update": {"val": "target.val + source.val"} if action == "update" else None,
        "when_matched_delete": action == "delete",
        "when_not_matched_insert": insert,
    }
    names = cols.names()
    vals = ", ".join(f"({', '.join(_sql_lit(v) for v in r)})" for r in rows)
    extra = "".join(
        f", CAST(s.{c} AS {DUCK_TYPES[t]}) AS {c}" for c, t in cols.extra.items()
    )
    sql = [
        "CREATE OR REPLACE TEMP TABLE m AS SELECT CAST(s.id AS BIGINT) AS id,"
        f" s.grp, CAST(s.val AS BIGINT) AS val{extra},"
        " EXISTS (SELECT 1 FROM f WHERE f.id = s.id) AS hit"
        f" FROM (VALUES {vals}) s({', '.join(names)})",
        "UPDATE f SET val = f.val + m.val FROM m WHERE m.hit AND f.id = m.id"
        if action == "update"
        else "DELETE FROM f WHERE id IN (SELECT id FROM m WHERE hit)",
    ]
    if insert:
        sql.append(f"INSERT INTO f SELECT {', '.join(names)} FROM m WHERE NOT hit")
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

    def replay(self, upto: int, alters_upto: int | None = None):
        """The table after the first ``upto`` logged ops, then the
        schema changes among the ops up to ``alters_upto``: the rows of
        op ``upto`` as a later schema shows them."""
        con = duckdb.connect()
        con.execute(f"CREATE TABLE f ({DUCK_SCHEMA})")
        for i, sql in enumerate(self.log[: alters_upto or upto]):
            if i < upto or sql.startswith("ALTER TABLE"):
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
        cols = Columns(seed)
        next_id = 0
        versions: list[int] = []  # lake snapshot after each mirrored op

        def lake_rows():
            return _ordered(tuple(r) for r in lake.table("f").collect())

        for step in range(ops):
            op = "alter" if cols.rng.random() < 0.08 else rng.choices(
                ["insert", "insert_inline", "update", "delete",
                 "merge", "vacuum", "flush"],
                weights=[30, 15, 20, 20, 15, 8, 7],
            )[0]
            if op in ("insert", "insert_inline"):
                # the inline path stays under the inline limit
                n = rng.randint(3, 12) if op == "insert" else rng.randint(1, 3)
                rows = [
                    (next_id + i, rng.choice(GROUPS), rng.randint(0, 999))
                    + cols.values()
                    for i in range(n)
                ]
                next_id += n
                if op == "insert":
                    lake.insert("f", spark.createDataFrame(rows, cols.ddl()))
                else:
                    lake.insert_rows("f", [dict(zip(cols.names(), r)) for r in rows])
                mirror.apply(
                    "INSERT INTO f VALUES "
                    + ", ".join(
                        f"({', '.join(_sql_lit(v) for v in r)})" for r in rows
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
                rows, kw, sql = _merge_op(rng, next_id, cols)
                next_id += len(rows)
                src = spark.createDataFrame(rows, cols.ddl())
                try:
                    lake.merge("f", src, ["id"], **kw)
                except LakeError as e:  # matched an unflushed inline row
                    if "flush" not in str(e):
                        raise
                    lake.flush_inlined_data()
                    lake.merge("f", src, ["id"], **kw)
                mirror.apply(sql)
            elif op == "alter":
                op = f"alter {cols.alter(lake, mirror)}"
            elif op == "vacuum":
                lake.vacuum("f")  # no mirror: must not change contents
            else:
                lake.flush_inlined_data()  # ditto
            if op not in ("vacuum", "flush"):
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
                    tuple(r)[:-3]
                    for r in feed
                    if r._change_type in ("insert", "update_postimage")
                )
                minus = Counter(
                    tuple(r)[:-3]
                    for r in feed
                    if r._change_type in ("delete", "update_preimage")
                )
                # The rows at k1 as the schema at k2 shows them: the
                # feed reports every row under its end schema.
                state = Counter(mirror.replay(k1, alters_upto=k2))
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

        # freeze: a frozen export reads like the mirror
        if not problems:
            from pg_ducklake_spark.freeze import FrozenLake

            out = os.path.join(tmp, "frozen.ducklake")
            lake.freeze(out)
            fro = _ordered(
                tuple(r) for r in FrozenLake(spark, out).table("f").collect()
            )
            if fro != mirror.rows():
                problems.append(
                    f"frozen read: {len(fro)} rows, mirror"
                    f" {len(mirror.rows())}; first: {fro[:2]}"
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
            print(f"seed {s}: {args.ops} ops + time-travel, feed and freeze checks agree")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
