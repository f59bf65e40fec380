"""Layer tracing for the benchmark, done from outside the program.

The tracer wraps the program's public entry points (plan builders, Lake
methods, the snapshot-log catalog, the change feed, the PG-syntax
rewriter) and py4j's ``send_command`` with span recorders, and reads
Spark's own status store once per operation. Nothing inside the
package is edited.

Spans live in memory — name, start, end, parent, op id — and are
written out once, at exit. Wrappers stay installed for the whole
traced process but record only while ``Tracer.active`` is set, so the
traced run can interleave traced and untraced passes and measure its
own overhead.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None


@dataclass
class OpRecord:
    """One timed operation, with the layer data the traced run adds."""

    op_id: int
    name: str
    kind: str  # "read" | "commit"
    start: float = 0.0
    end: float = 0.0
    failed: bool = False
    rows_out: int = 0  # rows the op returned
    rows_matched: int = 0  # rows a lake read qualified (its count(*))
    traced: bool = False
    py4j_calls: int = 0
    py4j_s: float = 0.0
    catalyst: dict[str, float] = field(default_factory=dict)
    # perf_counter intervals of Catalyst phases and of Spark jobs
    catalyst_iv: list[tuple[float, float]] = field(default_factory=list)
    job_iv: list[tuple[float, float]] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)
    stages: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


STAGE_FIELDS = {
    # status-store StageData accessor -> (metric, scale to SI)
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "executorDeserializeTime": ("task_deser_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleWriteRecords": ("shuffle_write_records", 1),
    # Spilled data at its size on disk. memoryBytesSpilled counts the
    # same data again at its deserialized size, so it is not added.
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputRecords": ("input_records", 1),
    "outputBytes": ("output_bytes", 1),
}


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self.active = False
        self._stack: list[int] = []
        self._op: OpRecord | None = None
        self._py4j = [0, 0.0]
        self._dfs: list = []
        self._group = ""

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append(
            Span(
                name,
                time.perf_counter(),
                parent=self._stack[-1] if self._stack else None,
                op_id=self._op.op_id if self._op else None,
            )
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def install_py4j_counter(self) -> None:
        import py4j.clientserver as cs

        orig = cs.ClientServerConnection.send_command
        counter = self._py4j

        def send_command(conn, command):
            t0 = time.perf_counter()
            try:
                return orig(conn, command)
            finally:
                counter[0] += 1
                counter[1] += time.perf_counter() - t0

        cs.ClientServerConnection.send_command = send_command

    def note_df(self, df) -> None:
        """Remember a DataFrame the op executes, for its Catalyst phases."""
        if self.active:
            self._dfs.append(df)

    # -- operations -------------------------------------------------------

    def begin_op(self, op: OpRecord) -> None:
        self._op = op
        self._dfs = []
        op.traced = self.active
        if self.active:
            self._group = f"perfbench-{op.op_id}"
            self.spark.sparkContext.setJobGroup(self._group, op.name)
            op.py4j_calls, op.py4j_s = -self._py4j[0], -self._py4j[1]
        op.start = time.perf_counter()

    def end_op(self, op: OpRecord) -> None:
        op.end = time.perf_counter()
        self._op = None
        if not op.traced:
            return
        # Everything below runs after the op's clock stopped.
        op.py4j_calls += self._py4j[0]
        op.py4j_s += self._py4j[1]
        try:
            self._collect_spark(op)
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _collect_spark(self, op: OpRecord) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # The status store is fed by the listener bus: drain it first.
        jsc.listenerBus().waitUntilEmpty()
        # perf_counter and the JVM's wall clock differ by a fixed offset.
        offset = time.perf_counter() - time.time()
        for df in self._dfs:
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                if opt.isDefined():
                    summ = opt.get()
                    op.catalyst[ph] = op.catalyst.get(ph, 0.0) + summ.durationMs() / 1e3
                    op.catalyst_iv.append(
                        (summ.startTimeMs() / 1e3 + offset, summ.endTimeMs() / 1e3 + offset)
                    )
        store = jsc.statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(self._group):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "status": str(jd.status().toString()),
                "stages": int(jd.stageIds().size()),
                "skipped": int(jd.numSkippedStages()),
            }
            if sub.isDefined() and comp.isDefined():
                a = sub.get().getTime() / 1e3 + offset
                b = comp.get().getTime() / 1e3 + offset
                job["s"] = b - a
                op.job_iv.append((a, b))
            op.jobs.append(job)
            ids = jd.stageIds()
            for i in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if str(sd.status().toString()) == "SKIPPED":
                    continue
                for acc, (key, scale) in STAGE_FIELDS.items():
                    op.stages[key] = op.stages.get(key, 0.0) + getattr(sd, acc)() * scale

    # -- output -----------------------------------------------------------

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return (s.end - s.start) - union_length(kids)

    def write(self, path: str, facts: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "facts": facts,
                    "spans": [s.__dict__ for s in self.spans],
                    "ops": [o.__dict__ for o in self.ops],
                },
                f,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of the intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total
