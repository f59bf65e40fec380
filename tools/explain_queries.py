"""Dump ``.explain("formatted")`` for headline queries to plans/<tag>/.

Usage: python tools/explain_queries.py <tag> [suffix] [name_filter ...]

Writes ``plans/<tag>/<query>_<suffix>.txt`` (suffix defaults to
``before``) for every headline bench query whose name contains one of
the filters (all of them without filters), plus any filter that is the
exact name of a registered non-headline query — the optimization round's
plan-evidence artifacts. Plans are built with the same per-query conf
the bench applies, so the captured shape is the shape the bench times.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pg_ducklake_spark.plans import QUERIES
from pg_ducklake_spark.session import get_spark


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    filters = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench

    spark = get_spark("explain")
    # Mirror bench.py's session-level settings so the captured plan is
    # the one the bench executes (AQE off => plans show final shape).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)
    names = [n for n in bench.HEADLINE if n in QUERIES]
    if filters:
        names = [n for n in names if any(f in n for f in filters)]
        names += [f for f in filters if f in QUERIES and f not in names]
    for name in names:
        bench._apply_query_conf(spark, name)
        try:
            df = QUERIES[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # capture the failure instead of dying
            txt = f"EXPLAIN FAILED: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
