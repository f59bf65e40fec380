"""Profile per-query DataFrame BUILD cost: wall time + py4j RPC count.

The bench's plan_build_sec is pure driver-side work: every DataFrame /
Column API call makes one or more py4j control-channel round trips
(F.col 3, a 2-column select 15). A round trip over TCP loopback has a
median of 0.1-1 ms on a 4-core host, depending on load (500
``System.nanoTime()`` calls). This tool ranks the headline
queries by build wall time and RPC count so RPC-reduction work (guide
§7.3 — planning overhead) targets the right builders.

Usage: python tools/profile_build.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, _apply_query_conf  # noqa: E402
from pg_ducklake_spark.plans import QUERIES, TABLES, t as _t  # noqa: E402
from pg_ducklake_spark.session import get_spark  # noqa: E402

_RPC = {"n": 0}


def _patch_rpc_counter() -> None:
    import py4j.clientserver as cs

    orig = cs.ClientServerConnection.send_command

    def counted(self, command):
        _RPC["n"] += 1
        return orig(self, command)

    cs.ClientServerConnection.send_command = counted


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("profile_build")
    _patch_rpc_counter()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    spark.sql("SELECT 1").collect()
    for tbl in TABLES:
        if os.path.exists(f"{sf_dir}/{tbl}.parquet"):
            _t(spark, sf_dir, tbl)
    names = [n for n in HEADLINE if n in QUERIES]
    # one warm build each (first build may import/compile helper modules)
    for name in names:
        _apply_query_conf(spark, name)
        QUERIES[name](spark, sf_dir)
    rows = []
    for name in names:
        _apply_query_conf(spark, name)
        best = None
        for _ in range(3):
            n0 = _RPC["n"]
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir)
            dt = time.perf_counter() - t0
            rpc = _RPC["n"] - n0
            if best is None or dt < best[0]:
                best = (dt, rpc)
        rows.append((best[0], best[1], name))
    rows.sort(reverse=True)
    tot_t = sum(r[0] for r in rows)
    tot_r = sum(r[1] for r in rows)
    print(f"{'build_s':>8} {'rpcs':>6}  query")
    for dt, rpc, name in rows:
        print(f"{dt:8.3f} {rpc:6d}  {name}")
    print(f"{tot_t:8.3f} {tot_r:6d}  TOTAL ({len(rows)} queries)")


if __name__ == "__main__":
    main()
