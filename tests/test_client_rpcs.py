"""The session runs the stock PySpark client with Python call-site
capture off (``spark.python.sql.dataFrameDebugging.enabled=false``).
With it on, every DataFrame/Column API call pays extra py4j round trips
to record the caller's line for error messages.
"""

from pyspark.sql import functions as F


def test_rpc_counts_stay_slim(spark):
    """Pin the per-call RPC budget of the stock client under the
    session's conf, so a conf regression or a pyspark upgrade can't
    silently reinstate the call-site capture chatter (with it on:
    F.col = 13 RPCs, 2-col select = 65). Counts are code-path-
    deterministic."""
    import py4j.clientserver as cs

    df = spark.range(3)
    counts = {"n": 0}
    orig = cs.ClientServerConnection.send_command

    def counted(self, command):
        counts["n"] += 1
        return orig(self, command)

    cs.ClientServerConnection.send_command = counted
    try:
        F.col("x")  # warm any one-time lookups
        df.select("id", (F.col("id") + 1).alias("b"))
        counts["n"] = 0
        F.col("x")
        col_rpcs = counts["n"]
        counts["n"] = 0
        df.select("id", (F.col("id") + 1).alias("b"))
        select_rpcs = counts["n"]
    finally:
        cs.ClientServerConnection.send_command = orig
    assert col_rpcs <= 3, f"F.col cost {col_rpcs} RPCs (capture on: 13)"
    assert select_rpcs <= 15, (
        f"2-col select cost {select_rpcs} RPCs (capture on: 65)"
    )


def test_dataframe_debugging_disabled_in_session(spark):
    assert (
        spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "true")
        == "false"
    )
