"""The benchmark's workloads.

A workload prepares its state (``setup``, repeated to time it), then
yields operations pass by pass. Each operation is ``(name, kind, fn)``:
the runner times ``fn()`` alone, in a closed loop on one thread. Code
between two yields — DuckDB referee updates, result checks, state
probes — runs outside every op clock.

- ``olap_sweep``: 16 short read queries from the plan library, in a
  seeded order per pass, each result checked against its DuckDB oracle.
- ``lake_dml``: a seeded write+read op stream on a fresh clone of a Lake
  table, mirrored op by op on a DuckDB table that referees every read.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb
from pyspark.sql import functions as F
from tools.check_correctness import norm_rows

import datagen

OLAP_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume_customer",
    "events_by_type",
    "events_daily",
    "events_sessionized_gap",
    "events_retention",
    "rel_window_rank",
    "ts_asof_join",
    "ts_time_bucket_rollup",
    "stats_price_quantity_corr",
)


class Workload:
    name = ""
    tables: tuple[str, ...] = ()
    # Untimed passes before timing starts, and timed passes per run, at
    # the least. The op tail needs 20 samples before it is a percentile
    # rather than the slowest single op.
    warmup_passes = 1
    timed_passes = 1

    def __init__(self, spark, tracer, inputs: str, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.problems: list[str] = []
        self.wrong = 0  # ops whose result the referee rejected
        self.pass_facts: list[dict] = []

    def setup(self, rep: int) -> None:
        raise NotImplementedError

    def after_setup(self) -> None:
        """Untimed preparation once the timed set-ups are done."""

    def passes(self):
        """Yield one op generator per pass, forever."""
        raise NotImplementedError

    def fail(self, msg: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(msg)


# ---------------------------------------------------------------- olap


class OlapSweep(Workload):
    name = "olap_sweep"
    tables = datagen.TABLES
    # The JIT keeps speeding passes up after the first (8.6, 7.6, 6.9 s
    # at 4 cores), so two warm up. 32 timed samples put the tail at the
    # p69 op, in the dense band of 0.55-0.7 s queries, not the single
    # tpch_q18 sample that is the maximum of one pass.
    warmup_passes = 2
    timed_passes = 2

    def setup(self, rep: int) -> None:
        # The program's per-dataset set-up: the plan library reads each
        # table's schema once per (session, directory). Every repetition
        # gets a fresh hard-linked copy of the inputs so none is memoized.
        from pg_ducklake_spark.plans import t

        d = os.path.join(self.work, f"olap_in_{rep}")
        os.makedirs(d)
        for f in os.listdir(self.inputs):
            os.link(os.path.join(self.inputs, f), os.path.join(d, f))
        for tbl in sorted(f[:-8] for f in os.listdir(d) if f.endswith(".parquet")):
            t(self.spark, d, tbl)
        self.data = d

    def after_setup(self) -> None:
        # Oracle results, once per run, on the same parquet files.
        from pg_ducklake_spark.plans import ORACLES

        con = duckdb.connect()
        for f in os.listdir(self.data):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.data, f)}')"
                )
        self.expected = {}
        for name in OLAP_QUERIES:
            res = con.execute(ORACLES[name])
            cols = [c[0] for c in res.description]
            self.expected[name] = sorted(cols), norm_rows(cols, res.fetchall())
        con.close()

    def passes(self):
        while True:
            yield self._one_pass()

    def _one_pass(self):
        from pg_ducklake_spark.plans import QUERIES

        order = list(OLAP_QUERIES)
        self.rng.shuffle(order)
        for name in order:
            out = {}

            def op(name=name, out=out):
                with self.tracer.span("plans.build"):
                    df = QUERIES[name](self.spark, self.data)
                self.tracer.note_df(df)
                out["rows"] = [tuple(r) for r in df.collect()]
                out["df"] = df
                return len(out["rows"])

            yield name, "read", op
            if "rows" in out:
                cols = out["df"].columns
                if (sorted(cols), norm_rows(cols, out["rows"])) != self.expected[name]:
                    self.fail(f"{name}: result differs from the DuckDB oracle")
                    self.wrong += 1


# ---------------------------------------------------------------- lake

_LI_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
)
# An exact, order-free fingerprint of a set of rows: integer sums only,
# so both engines agree bit for bit.
_FP = (
    "count(*) AS n",
    "sum(l_orderkey) AS k",
    "sum(l_linenumber) AS ln",
    "sum(CAST(round(l_quantity * 100) AS BIGINT)) AS q",
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS p",
)
_FP_SQL = ", ".join(_FP)
HISTORY_COMMITS = 24  # set-up commits, so every pass crosses v32
INLINE_LIMIT = 16
N_INSERT_ORDERS = 1_250  # ~5k rows per insert
RANGE_ORDERS = 300  # ~1.2k rows per delete / update
MERGE_ORDERS = 200
READ_ORDERS = 2_000
MAX_KEY = 150_000


def _fp(row) -> tuple[int, ...]:
    return tuple(int(x or 0) for x in row)


def _add(a: tuple, b: tuple) -> tuple:
    return tuple(x + y for x, y in zip(a, b))


_ZERO = (0, 0, 0, 0, 0)


class LakeDml(Workload):
    name = "lake_dml"
    tables = ("lineitem",)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from pg_ducklake_spark import Lake

        self.lake = Lake(self.spark, os.path.join(self.work, "lake"))
        self.src_path = os.path.join(self.inputs, "lineitem.parquet")
        self.li = self.spark.read.parquet(self.src_path).filter(f"l_orderkey < {MAX_KEY}")
        self.next_key = MAX_KEY + 1
        self.mirror = duckdb.connect()
        self.mirror.execute(
            f"CREATE TABLE src AS SELECT * FROM read_parquet('{self.src_path}') "
            f"WHERE l_orderkey < {MAX_KEY}"
        )
        self.mirror.execute("CREATE TABLE base AS SELECT * FROM src")
        # Set-up history: small inline commits, the same in every set-up.
        self.history = [self._inline_rows(4) for _ in range(HISTORY_COMMITS)]
        self.bases: list[str] = []
        self.base_fps: dict[int, tuple] = {}
        self.n_pass = 0

    # -- mirror helpers --

    def m_fp(self, where: str = "true", table: str = "t") -> tuple:
        return _fp(
            self.mirror.execute(f"SELECT {_FP_SQL} FROM {table} WHERE {where}").fetchone()
        )

    def _inline_rows(self, n: int) -> list[dict]:
        rows = []
        for i in range(n):
            rows.append({
                "l_orderkey": self.next_key, "l_partkey": self.rng.randrange(20_000),
                "l_suppkey": self.rng.randrange(1_000), "l_linenumber": 1,
                "l_quantity": float(self.rng.randint(1, 50)),
                "l_extendedprice": round(self.rng.uniform(900, 105_000), 2),
                "l_discount": self.rng.randint(0, 10) / 100,
                "l_tax": self.rng.randint(0, 8) / 100,
                "l_returnflag": "N", "l_linestatus": "O",
                "l_shipdate": dt.datetime(1999, 1, 1) + dt.timedelta(days=i),
            })
            self.next_key += 1
        return rows

    def _mirror_insert_rows(self, table: str, rows: list[dict]) -> None:
        self.mirror.executemany(
            f"INSERT INTO {table} VALUES ({', '.join('?' * len(_LI_COLS))})",
            [[r[c] for c in _LI_COLS] for r in rows],
        )

    # -- set-up --

    def setup(self, rep: int) -> None:
        """CTAS the base table from lineitem (range-partitioned on the
        order key into 16 files), enable the inline buffer, and give it
        a history of small commits so each pass's writes cross the
        catalog's 32-snapshot checkpoint boundary."""
        name = f"base{rep}"
        self.lake.create_table_as(name, self.li.repartitionByRange(16, "l_orderkey"))
        self.lake.set_option("data_inlining_row_limit", INLINE_LIMIT, table=name)
        for rows in self.history:
            self.lake.insert_rows(name, rows)
        self.bases.append(name)

    def after_setup(self) -> None:
        *spare, self.base = self.bases
        for name in spare:
            self.lake.drop_table(name)
        # Replay the set-up into the mirror: one fingerprint per version.
        fp = self.m_fp(table="base")
        self.base_fps = {1: fp, 2: fp}
        for rows in self.history:
            self._mirror_insert_rows("base", rows)
            self.base_fps[len(self.base_fps) + 1] = self.m_fp(table="base")
        v = self.lake.current_snapshot(self.base)
        if v != len(self.base_fps):
            self.fail(f"set-up made {v} snapshots, expected {len(self.base_fps)}")

    # -- passes --

    def passes(self):
        while True:
            yield self._one_pass()

    def _dir_files(self, name: str) -> dict[str, int]:
        root = os.path.join(self.lake.path, name)
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[p] = os.stat(p).st_size
        return out

    def _one_pass(self):
        from pg_ducklake_spark.catalog import LOG_DIR, SnapshotLog

        lake, rng, m = self.lake, self.rng, self.mirror
        name = f"p{self.n_pass}"
        self.n_pass += 1
        fps = dict(self.base_fps)
        m.execute("CREATE OR REPLACE TABLE t AS SELECT * FROM base")
        res: dict = {}

        def run(fn):
            """A write op; its result is kept for the referee."""
            def op():
                res.clear()
                res["v"] = fn()
                return 0
            return op

        def read(fn):
            """A read op returning fingerprints: one row, or one per
            change type. Returns (rows returned, rows qualified)."""
            def op():
                res.clear()
                res["v"] = v = fn()
                fps = list(v.values()) if isinstance(v, dict) else [v]
                return len(fps), sum(fp[0] for fp in fps)
            return op

        yield "clone_table", "commit", run(lambda: lake.clone_table(self.base, name))
        files0 = self._dir_files(name)
        changed_rows = 0

        def record() -> None:
            v = lake.current_snapshot(name)
            cur = self.m_fp()
            for k in range(max(fps) + 1, v + 1):
                fps[k] = cur

        record()
        v_start = max(fps)
        feed = {}

        # insert_rows: a small batch into the inline buffer.
        rows = self._inline_rows(8)
        yield "insert_rows", "commit", run(lambda: lake.insert_rows(name, rows))
        self._mirror_insert_rows("t", rows)
        feed["insert"] = _add(feed.get("insert", _ZERO), self.m_fp(
            f"l_orderkey BETWEEN {rows[0]['l_orderkey']} AND {rows[-1]['l_orderkey']}"))
        changed_rows += len(rows)
        record()

        # insert: ~5k rows copied from lineitem under fresh order keys.
        s = rng.randrange(0, MAX_KEY - N_INSERT_ORDERS)
        off = self.next_key - s
        self.next_key += N_INSERT_ORDERS
        sel = [f"l_orderkey + {off} AS l_orderkey"] + list(_LI_COLS[1:])
        where = f"l_orderkey BETWEEN {s} AND {s + N_INSERT_ORDERS - 1}"
        ins = self.li.filter(where).selectExpr(*sel)
        yield "insert", "commit", run(lambda: lake.insert(name, ins))
        m.execute(f"INSERT INTO t SELECT {', '.join(sel)} FROM src WHERE {where}")
        new = f"l_orderkey BETWEEN {s + off} AND {s + off + N_INSERT_ORDERS - 1}"
        got = self.m_fp(new)
        feed["insert"] = _add(feed["insert"], got)
        changed_rows += got[0]
        record()

        # delete: a key range, as positional deletion vectors.
        a = rng.randrange(0, MAX_KEY - RANGE_ORDERS)
        pred = f"l_orderkey BETWEEN {a} AND {a + RANGE_ORDERS}"
        gone = self.m_fp(pred)
        yield "delete", "commit", run(lambda: lake.delete(name, pred))
        m.execute(f"DELETE FROM t WHERE {pred}")
        feed["delete"] = gone
        changed_rows += gone[0]
        record()

        # update: copy-on-write rewrite of a key range.
        b = rng.randrange(0, MAX_KEY - RANGE_ORDERS)
        pred_u = f"l_orderkey BETWEEN {b} AND {b + RANGE_ORDERS}"
        pre = self.m_fp(pred_u)
        yield "update", "commit", run(
            lambda: lake.update(name, {"l_quantity": "l_quantity + 1"}, pred_u)
        )
        m.execute(f"UPDATE t SET l_quantity = l_quantity + 1 WHERE {pred_u}")
        feed["update_preimage"] = pre
        feed["update_postimage"] = self.m_fp(pred_u)
        changed_rows += pre[0]
        record()

        # merge: upsert of lineitem rows with shifted line numbers (some
        # keys exist, some are new). (l_orderkey, l_linenumber) is not a
        # key of lineitem, so the source keeps one row per key — the first
        # in the order of all its columns, the same row in both engines —
        # or a target row would match several source rows.
        c = rng.randrange(0, MAX_KEY - MERGE_ORDERS)
        msel = [
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber + 3 AS l_linenumber",
            "l_quantity", "l_extendedprice + 1 AS l_extendedprice", "l_discount",
            "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        ]
        mwhere = f"l_orderkey BETWEEN {c} AND {c + MERGE_ORDERS}"
        first = (
            "row_number() OVER (PARTITION BY l_orderkey, l_linenumber "
            f"ORDER BY {', '.join(_LI_COLS[1:])}) = 1"
        )
        source = (
            self.li.filter(mwhere).selectExpr(*msel)
            .withColumn("_first", F.expr(first)).filter("_first").drop("_first")
        )
        m.execute(
            f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM (SELECT {', '.join(msel)} "
            f"FROM src WHERE {mwhere}) QUALIFY {first}"
        )
        hit = "EXISTS (SELECT 1 FROM s WHERE s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber)"
        pre = self.m_fp(hit)
        yield "merge", "commit", run(lambda: lake.merge(
            name, source, ["l_orderkey", "l_linenumber"],
            when_matched_update={"l_extendedprice": "source.l_extendedprice"},
        ))
        m.execute(
            "UPDATE t SET l_extendedprice = s.l_extendedprice FROM s "
            "WHERE s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber"
        )
        post = self.m_fp(hit)
        ins_fp = _fp(m.execute(
            f"SELECT {_FP_SQL} FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE "
            "s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber)"
        ).fetchone())
        m.execute(
            "INSERT INTO t SELECT * FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE "
            "s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber)"
        )
        feed["update_preimage"] = _add(feed["update_preimage"], pre)
        feed["update_postimage"] = _add(feed["update_postimage"], post)
        feed["insert"] = _add(feed["insert"], ins_fp)
        changed_rows += pre[0] + ins_fp[0]
        record()
        v_end = max(fps)

        # Reads: full aggregate through the DV mask, a pruned range
        # aggregate through Lake.sql, a time-travel read, the change feed.
        def agg(df):
            self.tracer.note_df(df)
            return _fp(df.collect()[0])

        yield "read_full", "read", read(lambda: agg(lake.table(name).selectExpr(*_FP)))
        self._check("read_full", res.get("v"), self.m_fp())

        e = rng.randrange(0, MAX_KEY - READ_ORDERS)
        rpred = f"l_orderkey BETWEEN {e} AND {e + READ_ORDERS}"
        yield "read_range_sql", "read", read(
            lambda: agg(lake.sql(f"SELECT {_FP_SQL} FROM {name} WHERE {rpred}"))
        )
        self._check("read_range_sql", res.get("v"), self.m_fp(rpred))

        tv = rng.randrange(1, v_end)
        yield "read_time_travel", "read", read(
            lambda: agg(lake.table(name, version=tv).selectExpr(*_FP))
        )
        self._check(f"read_time_travel@{tv}", res.get("v"), fps[tv])

        def changes():
            df = lake.table_changes(name, v_start + 1, v_end).groupBy("_change_type").agg(
                *[F.expr(x) for x in _FP]
            )
            self.tracer.note_df(df)
            return {r[0]: _fp(r[1:]) for r in df.collect()}

        yield "table_changes", "read", read(changes)
        self._check(
            f"table_changes v{v_start + 1}..v{v_end}",
            res.get("v"),
            {k: v for k, v in feed.items() if v[0]},
        )

        # State the reads saw, before maintenance folds it away.
        state = SnapshotLog(os.path.join(lake.path, name)).replay()
        facts = {
            "files_live": len(state.files),
            "dv_files": len(state.dvs),
            "inline_rows": len(state.inline_rows),
        }

        yield "checkpoint", "commit", run(lambda: lake.checkpoint(name))
        if self.n_pass <= self.warmup_passes:  # warm-up checks and measures no more
            lake.drop_table(name)
            return
        if "v" in res:  # maintenance must not change the contents
            res["v"] = _fp(lake.table(name).selectExpr(*_FP).collect()[0])
        self._check("after checkpoint", res.get("v"), self.m_fp())
        # Space and write amplification of the pass.
        files1 = self._dir_files(name)
        log_dir = os.path.join(lake.path, name, LOG_DIR)
        ref = os.path.join(self.work, f"ref_{name}.parquet")
        m.execute(
            f"COPY (SELECT * FROM t ORDER BY l_orderkey, l_linenumber) TO '{ref}' "
            "(FORMAT parquet, COMPRESSION snappy)"
        )
        facts.update({
            "space_amp": sum(files1.values()) / os.path.getsize(ref),
            "write_bytes_per_changed_row": sum(
                sz for p, sz in files1.items() if p not in files0
            ) / max(1, changed_rows),
            "checkpoint_writes": sum(
                1 for p in files1 if p not in files0 and p.endswith(".ckpt.json")
            ),
            "log_bytes": sum(sz for p, sz in files1.items() if p.startswith(log_dir)),
        })
        os.unlink(ref)
        self.pass_facts.append(facts)
        lake.drop_table(name)

    def _check(self, what: str, got, want) -> None:
        if got is None:
            return  # the op raised; already counted
        if got != want:
            self.fail(f"{what}: lake {got} != mirror {want}")
            self.wrong += 1


WORKLOADS = {w.name: w for w in (OlapSweep, LakeDml)}
