"""Regression net for the r12 gate failure (plans/__init__.py rebalance
conf probe).

Every builder-side check used to run through ``get_spark``, whose
defaults (``spark.sql.files.maxPartitionBytes`` in particular) masked a
``rebalance()`` conf-probe crash that only fires on a STOCK
SparkSession — exactly what the driver's plain-session oracle harness
uses. CORRECTNESS_r12 caught 3 of ~40 latently-affected queries as hard
errors.

This test builds AND collects one tagged-rebalance query per affected
family in a subprocess whose SparkSession has ZERO confs set (builder
with only a master), so a conf-masked crash can never ship again.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# One representative per rebalance-tagged family (the first three are
# the exact queries CORRECTNESS_r12 crashed).
PLAIN_SESSION_SAMPLE = [
    "text_distinctive_terms",  # text family — crashed in r12
    "pipe_length_buckets",  # pipeline family — crashed in r12
    "pipe_train_eval_split",  # pipeline family — crashed in r12
    "dedup_simhash_pairs",  # dedup family
    "dedup_semantic_prune",  # semdedup family (applyInPandas kernel)
    "sim_lsh_bucket_topk",  # similarity family
    "graph_degree_histogram",  # graph family (via _spark_edges)
    "text_pii_scan",  # pii family
    "text_cms_heavy_hitters",  # sketches family
]

_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# STOCK session: master only, no confs — the driver-contract shape.
spark = (
    SparkSession.builder.appName("plain_session_regression")
    .master("local[4]")
    .getOrCreate()
)
from pg_ducklake_spark.plans import QUERIES

for name in {names!r}:
    df = QUERIES[name](spark, {sf!r})
    df.collect()
    print("PLAIN_OK", name, flush=True)
spark.stop()
"""


def test_tagged_rebalance_queries_on_stock_session():
    env = dict(os.environ)
    # Python workers (pandas kernels) must be able to import the package.
    existing = env.get("PYTHONPATH", "")
    if REPO not in existing.split(os.pathsep):
        env["PYTHONPATH"] = f"{REPO}{os.pathsep}{existing}" if existing else REPO
    script = _SCRIPT.format(repo=REPO, names=PLAIN_SESSION_SAMPLE, sf=SF_DIR)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
        env=env,
    )
    assert proc.returncode == 0, (
        "stock-session query run failed\n"
        f"--- stdout ---\n{proc.stdout[-4000:]}\n"
        f"--- stderr ---\n{proc.stderr[-6000:]}"
    )
    for name in PLAIN_SESSION_SAMPLE:
        assert f"PLAIN_OK {name}" in proc.stdout, f"{name} did not complete"


_LAKE_SCRIPT = """
import sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.appName("plain_session_lake")
    .master("local[2]")
    .getOrCreate()
)
from pg_ducklake_spark import Lake

lake = Lake(spark, tempfile.mkdtemp() + "/lake")
lake.create_table("t", "a bigint, s string",
                  options={{"data_inlining_row_limit": 10}})
lake.insert("t", spark.createDataFrame([(1, "f")], "a bigint, s string"))
lake.insert_rows("t", [{{"a": 2, "s": "x"}}, {{"a": 3, "s": None}}])
frames = {{
    "table": lake.table("t"),
    "changes": lake.table_changes("t", 1, lake.current_snapshot("t")),
}}
for what, df in frames.items():
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" not in plan, (what, plan)
    print("PLAIN_LAKE", what, sorted(r.a for r in df.collect()), flush=True)
spark.stop()
"""


def test_inline_lake_reads_have_no_python_rdd_on_stock_session():
    """The Arrow-backed inline buffer does not depend on the Arrow
    confs ``get_spark`` sets: a stock session plans it as a
    LocalRelation too."""
    proc = subprocess.run(
        [sys.executable, "-c", _LAKE_SCRIPT.format(repo=REPO)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        f"--- stdout ---\n{proc.stdout[-4000:]}\n"
        f"--- stderr ---\n{proc.stderr[-6000:]}"
    )
    assert "PLAIN_LAKE table [1, 2, 3]" in proc.stdout
    assert "PLAIN_LAKE changes [1, 2, 3]" in proc.stdout
