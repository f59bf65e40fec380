"""The repository's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload olap_sweep --seed 1 --seconds 5 --trace 0

Run from the repository root. The program is measured as shipped: a
``session.get_spark()`` session at its defaults (``local[nproc]``),
driven from one Python thread in a closed loop — each op waits for the
previous one. Inputs are generated from ``--seed`` under
``.perfbench_run/`` in the current directory, and every file the run
writes (inputs, the lake, Spark's local dirs, the trace) stays there.

Output: one JSON line of run facts, then, as the last line, the result
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` the run interleaves untraced and traced passes, reports
the per-layer ones, and writes the spans to
``.perfbench_run/trace-<workload>-<seed>.json``. See perfbench/README.md
for what each metric means and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from spans import union_length

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def process_age_s() -> float:
    """Seconds since this process started (kernel clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def shm_free_gib() -> float | None:
    """Free space on /dev/shm, which decides get_spark's scratch choice
    when SPARK_LOCAL_DIRS is unset."""
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return st.f_bavail * st.f_frsize / 1024**3


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). Below 20 samples that percentile would sit
    under the median, so the maximum is reported instead."""
    xs = sorted(values)
    k = len(xs) - 10  # 1-based rank of the tail sample
    if len(xs) < 20:
        return xs[-1], 100.0
    return xs[k - 1], 100.0 * k / len(xs)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs: list[float]) -> float:
    """Typical op latency. With one sample per query, the median of a
    pass sits between two queries' latencies and jumps when they swap
    order; the geometric mean weighs every op's relative change alike."""
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def calibrate(spark) -> dict[str, float]:
    """Fixed work on both engines, to read machine drift across runs."""
    import duckdb

    con = duckdb.connect()
    duck, sp = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute("SELECT sum(i % 7) FROM range(20000000) t(i)").fetchall()
        duck.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        spark.range(10**7).selectExpr("sum(id)").collect()
        sp.append(time.perf_counter() - t0)
    con.close()
    return {"duck_s": median(duck), "spark_s": median(sp)}


def install_tracing(tracer) -> None:
    from pg_ducklake_spark import changefeed, pgsyntax
    from pg_ducklake_spark.catalog import SnapshotLog
    from pg_ducklake_spark.lake import Lake

    for m in ("replay", "commit", "read_snapshot"):
        tracer.wrap(SnapshotLog, m, f"catalog.{m}")
    for m in ("table", "sql", "insert_rows", "insert", "delete", "update",
              "merge", "checkpoint", "clone_table"):
        tracer.wrap(Lake, m, f"lake.{m}")
    tracer.wrap(pgsyntax, "rewrite", "pgsyntax.rewrite")
    tracer.wrap(changefeed, "table_changes", "changefeed.build")
    tracer.install_py4j_counter()


class FsyncCounter:
    """Counts os.fsync / os.fdatasync calls made during timed commits."""

    def __init__(self):
        self.n = 0
        for name in ("fsync", "fdatasync"):
            orig = getattr(os, name)

            def counted(fd, orig=orig):
                self.n += 1
                return orig(fd)

            setattr(os, name, counted)


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def run_pass(gen, tracer, workload, traced: bool) -> list:
    """Run one pass's ops in a closed loop; return their OpRecords."""
    from spans import OpRecord

    tracer.active = traced
    mine = []
    try:
        for name, kind, fn in gen:
            op = OpRecord(len(tracer.ops) + len(mine), name, kind)
            tracer.begin_op(op)
            try:
                out = fn()
                op.rows_out, op.rows_matched = out if isinstance(out, tuple) else (out, 0)
            except Exception:
                op.failed = True
                workload.fail(f"{name} raised: {traceback.format_exc(limit=3)}")
            tracer.end_op(op)
            mine.append(op)
    finally:
        tracer.active = False
    return mine


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb
        import pyspark

        import pg_ducklake_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    import datagen
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {sorted(WORKLOADS)})", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_run")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    # Spark's shuffle/spill directories and Python temp files stay in
    # the checkout too. This overrides get_spark's own choice of scratch
    # (tmpfs when /dev/shm has 8 GiB free); the facts record both.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    spark = None
    try:
        t0 = time.perf_counter()
        inputs = datagen.write_inputs(
            os.path.join(work, "inputs"), args.seed, WORKLOADS[args.workload].tables)
        input_gen_s = time.perf_counter() - t0

        from pg_ducklake_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        to_session_s = process_age_s() - input_gen_s
        sc = spark.sparkContext
        fsyncs = FsyncCounter()

        tracer = Tracer(spark)
        if args.trace:
            install_tracing(tracer)

        wl = WORKLOADS[args.workload](spark, tracer, inputs, work, args.seed)
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        wl.after_setup()

        passes = wl.passes()
        t0 = time.perf_counter()
        warm = []
        for _ in range(wl.warmup_passes):
            warm += run_pass(next(passes), tracer, wl, False)
        warmup_s = time.perf_counter() - t0
        setup_s = to_session_s + median(setup_times) + warmup_s

        calib0 = calibrate(spark)
        timed: list[list] = []
        persist_growth: list[int] = []
        t_start = time.perf_counter()
        fsync0 = fsyncs.n
        # The traced run interleaves untraced, traced, untraced passes: the
        # untraced pair brackets the traced pass, so JIT warming between
        # passes does not read as tracing overhead.
        min_passes = max(wl.timed_passes, 3 if args.trace else 1)
        while time.perf_counter() - t_start < args.seconds or len(timed) < min_passes:
            traced = bool(args.trace) and len(timed) % 2 == 1
            rdds0 = persisted_rdds(spark)
            ops = run_pass(next(passes), tracer, wl, traced)
            persist_growth.append(persisted_rdds(spark) - rdds0)
            tracer.ops.extend(ops)
            timed.append(ops)
        measure_s = time.perf_counter() - t_start
        fsync_n = fsyncs.n - fsync0

        calib1 = calibrate(spark)

        all_ops = warm + [o for p in timed for o in p]
        failed = sum(o.failed for o in all_ops) + wl.wrong
        untraced = [p for p in timed if not p[0].traced]
        traced_p = [p for p in timed if p[0].traced]
        walls = [o.wall for p in untraced for o in p if not o.failed]
        op_tail, tail_pct = tail(walls)
        pass_s = median([sum(o.wall for o in p) for p in untraced])

        def split(kind):
            xs = [o.wall for p in untraced for o in p if o.kind == kind and not o.failed]
            if not xs:
                return {}
            v, pct = tail(xs)
            return {f"{kind}_p50_s": median(xs), f"{kind}_tail_s": v,
                    f"{kind}_tail_pct": pct, f"{kind}_samples": len(xs)}

        local_dir = os.environ["SPARK_LOCAL_DIRS"]
        try:
            from pyspark.sql.functions import builtin as _b

            rpcslim = _b._get_jvm_function.__module__.startswith("pg_ducklake_spark")
        except AttributeError:
            rpcslim = False
        facts = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": sc.defaultParallelism,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0],
            "scratch_dir": spark.conf.get("spark.local.dir", None) or local_dir,
            "scratch_dir_kind": "tmpfs" if fs_type(
                spark.conf.get("spark.local.dir", None) or local_dir) == "tmpfs" else "disk",
            "scratch_dir_override": "SPARK_LOCAL_DIRS (run directory)",
            "dev_shm_free_gib": shm_free_gib(),
            "rpcslim_active": rpcslim,
            "lake_root_fs": fs_type(work),
            "flush_policy": (
                f"{fsync_n} fsync calls in timed ops"
                + (" (commits are not flushed)" if fsync_n == 0 else "")
            ),
            "peak_rss_mb": vm_hwm_mb("self")
            + vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()),
            "calib.duck_s": {"start": calib0["duck_s"], "end": calib1["duck_s"]},
            "calib.spark_s": {"start": calib0["spark_s"], "end": calib1["spark_s"]},
            "input_gen_s": input_gen_s,
            "session_start_s": session_start_s,
            "setup_rep_s": setup_times,
            "warmup_s": warmup_s,
            "measure_s": measure_s,
            "passes": len(timed),
            "pass_s_each": [sum(o.wall for o in p) for p in timed],
            "op_samples": len(walls),
            "op_p50_s": median(walls),
            "op_p50_s_by_name": {
                n: median([o.wall for p in untraced for o in p if o.name == n])
                for n in dict.fromkeys(o.name for p in untraced for o in p)
            },
            "op_tail_pct": tail_pct,
            "fail_share": failed / max(1, len(all_ops)),
            "problems": wl.problems,
        }
        facts.update(split("read"))
        facts.update(split("commit"))
        facts["persisted_rdds_growth"] = persist_growth
        for key in ("space_amp", "write_bytes_per_changed_row"):
            vals = [f[key] for f in wl.pass_facts if key in f]
            if vals:
                facts[key] = median(vals)

        if args.trace:
            metrics = layer_metrics(tracer, wl, traced_p, untraced, sc.defaultParallelism,
                                    session_start_s, median(persist_growth))
            metrics["process.peak_rss_mb"] = (facts["peak_rss_mb"], "MB")
            facts["trace_file"] = os.path.join(
                base, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(facts["trace_file"], facts)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "op_geomean_s": (geomean(walls), "s"),
                "op_tail_s": (op_tail, "s"),
            }
        print(json.dumps({"facts": facts}, default=str))
        print(json.dumps({
            "correct": failed == 0 and not wl.problems,
            "attempted": len(all_ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tracer, wl, traced_p, untraced, cores, session_start_s, persist_growth):
    """Per-layer metrics from the traced passes: per-pass medians of
    sums, and ratios over all traced ops."""
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.op_id is not None:
            by_op.setdefault(s.op_id, []).append(i)

    def outer(i: int, name: str) -> bool:
        p = tracer.spans[i].parent
        while p is not None:
            if tracer.spans[p].name == name:
                return False
            p = tracer.spans[p].parent
        return True

    attributed_layers = ("plans.build", "catalog.replay", "catalog.commit",
                         "catalog.read_snapshot", "pgsyntax.rewrite", "changefeed.build")
    per_pass: list[dict[str, float]] = []
    tot = {"task_run_s": 0.0, "job_s": 0.0, "rows_out": 0, "shuffle_write_records": 0.0,
           "gap_s": 0.0, "wall_s": 0.0, "lake_in": 0.0, "lake_out": 0}
    for ops in traced_p:
        acc: dict[str, float] = {}

        def add(k, v):
            acc[k] = acc.get(k, 0.0) + v

        for o in ops:
            spans = by_op.get(o.op_id, [])
            add("py4j.calls", o.py4j_calls)
            add("py4j.call_s", o.py4j_s)
            for ph in ("analysis", "optimization", "planning"):
                add(f"catalyst.{ph}_s", o.catalyst.get(ph, 0.0))
            job_s = sum(j.get("s", 0.0) for j in o.jobs)
            add("spark.jobs", len(o.jobs))
            add("spark.stages", sum(j["stages"] - j["skipped"] for j in o.jobs))
            add("spark.stages_skipped", sum(j["skipped"] for j in o.jobs))
            add("spark.job_s", job_s)
            for k, v in o.stages.items():
                add(f"spark.{k}", v)
            layer_iv = [(tracer.spans[i].start, tracer.spans[i].end) for i in spans
                        if tracer.spans[i].name in attributed_layers]
            covered = union_length(
                [(max(a, o.start), min(b, o.end)) for a, b in layer_iv + o.catalyst_iv + o.job_iv
                 if min(b, o.end) > max(a, o.start)]
            )
            gap = max(0.0, o.wall - covered)
            add("driver.gap_s", gap)
            tot["gap_s"] += gap
            tot["wall_s"] += o.wall
            tot["task_run_s"] += o.stages.get("task_run_s", 0.0)
            tot["job_s"] += union_length(o.job_iv)
            tot["rows_out"] += o.rows_out
            tot["shuffle_write_records"] += o.stages.get("shuffle_write_records", 0.0)
            if o.rows_matched:  # a lake read
                tot["lake_in"] += o.stages.get("input_records", 0.0)
                tot["lake_out"] += o.rows_matched
            if o.name == "table_changes":
                add("changefeed.jobs", len(o.jobs))
                add("changefeed.job_s", job_s)
            for i in spans:
                s = tracer.spans[i]
                d = s.end - s.start
                if s.name == "plans.build":
                    add("plans.build_s", d)
                elif s.name == "catalog.replay" and outer(i, s.name):
                    add("catalog.replays", 1)
                    add("catalog.replay_s", d)
                elif s.name == "catalog.read_snapshot":
                    add("catalog.snapshots_read", 1)
                elif s.name == "catalog.commit" and outer(i, s.name):
                    add("catalog.commits", 1)
                    add("catalog.commit_s", d)
                elif s.name == "pgsyntax.rewrite":
                    add("pgsyntax.rewrite_s", d)
                elif s.name == "changefeed.build":
                    add("changefeed.build_s", d)
                elif s.name == "lake.checkpoint":
                    add("lake.checkpoint_s", tracer.self_time(i))
                elif s.name.startswith("lake.") and outer(i, s.name):
                    add(f"{s.name}_s", d)
        per_pass.append(acc)

    def pm(key):  # per-pass median of a traced sum
        return median([p.get(key, 0.0) for p in per_pass])

    def pf(key):  # per-pass median of a lake state fact
        return median([f.get(key, 0) for f in wl.pass_facts]) if wl.pass_facts else 0

    def kind_p50(kind):  # lake op latency by kind, untraced
        if wl.name != "lake_dml":
            return 0.0
        return median([o.wall for p in untraced for o in p
                       if o.kind == kind and not o.failed])

    # Overhead: per op name, traced wall over the untraced median.
    def walls_by_name(ps):
        out: dict[str, list[float]] = {}
        for p in ps:
            for o in p:
                if not o.failed:
                    out.setdefault(o.name, []).append(o.wall)
        return out

    u_w, t_w = walls_by_name(untraced), walls_by_name(traced_p)
    ratios = [median(t_w[n]) / median(u_w[n]) for n in t_w if n in u_w and median(u_w[n]) > 0]
    S, C, B, R = "s", "count", "bytes", "ratio"
    out = {
        "session.start_s": (session_start_s, S),
        "py4j.calls": (pm("py4j.calls"), C),
        "py4j.call_s": (pm("py4j.call_s"), S),
        "plans.build_s": (pm("plans.build_s"), S),
        "catalyst.analysis_s": (pm("catalyst.analysis_s"), S),
        "catalyst.optimization_s": (pm("catalyst.optimization_s"), S),
        "catalyst.planning_s": (pm("catalyst.planning_s"), S),
        "spark.jobs": (pm("spark.jobs"), C),
        "spark.stages": (pm("spark.stages"), C),
        "spark.stages_skipped": (pm("spark.stages_skipped"), C),
        "spark.tasks": (pm("spark.tasks"), C),
        "spark.job_s": (pm("spark.job_s"), S),
        "spark.task_deser_s": (pm("spark.task_deser_s"), S),
        "driver.gap_s": (pm("driver.gap_s"), S),
        "spark.task_run_s": (pm("spark.task_run_s"), S),
        "spark.task_cpu_s": (pm("spark.task_cpu_s"), S),
        "spark.gc_s": (pm("spark.gc_s"), S),
        "spark.shuffle_write_bytes": (pm("spark.shuffle_write_bytes"), B),
        "spark.shuffle_read_bytes": (pm("spark.shuffle_read_bytes"), B),
        "spark.shuffle_write_records": (pm("spark.shuffle_write_records"), C),
        "spark.spill_bytes": (pm("spark.spill_bytes"), B),
        "spark.utilization": (
            tot["task_run_s"] / (tot["job_s"] * cores) if tot["job_s"] else 0.0, R),
        "op.rows_out_per_shuffle_record": (
            tot["rows_out"] / tot["shuffle_write_records"]
            if tot["shuffle_write_records"] else 0.0, R),
        "spark.input_records": (pm("spark.input_records"), C),
        "spark.output_bytes": (pm("spark.output_bytes"), B),
        "spark.failed_tasks": (pm("spark.failed_tasks"), C),
        "spark.persisted_rdds_growth": (persist_growth, C),
        "catalog.replays": (pm("catalog.replays"), C),
        "catalog.replay_s": (pm("catalog.replay_s"), S),
        "catalog.snapshots_read": (pm("catalog.snapshots_read"), C),
        "catalog.commits": (pm("catalog.commits"), C),
        "catalog.commit_s": (pm("catalog.commit_s"), S),
        "catalog.checkpoint_writes": (pf("checkpoint_writes"), C),
        "catalog.log_bytes": (pf("log_bytes"), B),
        "lake.table_s": (pm("lake.table_s"), S),
        "lake.sql_s": (pm("lake.sql_s"), S),
        "pgsyntax.rewrite_s": (pm("pgsyntax.rewrite_s"), S),
        "lake.rows_examined_per_row_out": (
            tot["lake_in"] / tot["lake_out"] if tot["lake_out"] else 0.0, R),
        "lake.files_live": (pf("files_live"), C),
        "lake.dv_files": (pf("dv_files"), C),
        "lake.inline_rows": (pf("inline_rows"), C),
        "lake.read_p50_s": (kind_p50("read"), S),
        "lake.commit_p50_s": (kind_p50("commit"), S),
        "lake.clone_table_s": (pm("lake.clone_table_s"), S),
        "lake.insert_rows_s": (pm("lake.insert_rows_s"), S),
        "lake.insert_s": (pm("lake.insert_s"), S),
        "lake.delete_s": (pm("lake.delete_s"), S),
        "lake.update_s": (pm("lake.update_s"), S),
        "lake.merge_s": (pm("lake.merge_s"), S),
        "lake.checkpoint_s": (pm("lake.checkpoint_s"), S),
        "lake.space_amp": (pf("space_amp"), R),
        "lake.write_bytes_per_changed_row": (pf("write_bytes_per_changed_row"), "bytes/row"),
        "changefeed.build_s": (pm("changefeed.build_s"), S),
        "changefeed.jobs": (pm("changefeed.jobs"), C),
        "changefeed.job_s": (pm("changefeed.job_s"), S),
        "trace.unattributed_share": (
            tot["gap_s"] / tot["wall_s"] if tot["wall_s"] else 0.0, R),
        "trace.overhead_share": (median(ratios) - 1 if ratios else 0.0, R),
    }
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
