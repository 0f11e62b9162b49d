"""Op timing, spans and Spark-side counters for the benchmark.

`Recorder.op` is the one place a workload calls into the program
under test: it times the call (plan build + action), counts attempts
and failures, and in a traced run also keeps a span per op and reads
what Spark did for it from its status tracker, its status store and
the SQL plan graph. Spans and counters stay in memory until the run
ends; nothing is read from Spark inside the timed interval.

In a traced run every other instance of each op kind is traced and
the rest run exactly as in an untraced run, so the tracing overhead
is the traced minus the untraced median of the same op kinds.
"""

from __future__ import annotations

import math
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

# SQL metric names the Python/Arrow plan nodes (MapInPandas,
# ArrowEvalPython, FlatMapGroupsInPandas, ...) report
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '654.8 KiB' or, for
    per-task metrics, the first number of 'total (min, med, max ...)\\n
    654.8 KiB (...)' — in bytes or seconds."""
    line = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter() - self._t0, math.nan, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter() - self._t0

    def as_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op_id": s.op_id}
            for s in self.spans
        ]


class SparkCounters:
    """Reads per-op counters for one job group after the op ended."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        return int(self._sql.executionsCount())

    def read(self, group: str, sql_before: int) -> dict[str, float]:
        # status-store updates arrive through the async listener bus
        self._bus.waitUntilEmpty()
        out: dict[str, float] = defaultdict(float)
        tracker = self.sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        out["spark.jobs"] = len(job_ids)
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(int(sid))
            except Py4JJavaError:  # stage never ran (skipped, reused exchange)
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.failed_tasks"] += sd.numFailedTasks()
            out["exec.run_s"] += sd.executorRunTime() / 1e3
            out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
            out["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        n_new = self.sql_count() - sql_before
        if n_new > 0:
            execs = self._sql.executionsList(sql_before, n_new)
            for i in range(execs.size()):
                self._python_nodes(execs.apply(i).executionId(), out)
        return dict(out)

    def _python_nodes(self, exec_id, out: dict[str, float]) -> None:
        values = self._sql.executionMetrics(exec_id)
        nodes = self._sql.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            metrics = node.metrics()
            named = {}
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    named[m.name()] = parse_metric(v.get())
            if _PY_SENT not in named and _PY_RECV not in named:
                continue
            out["python.nodes"] += 1
            out["python.rows"] += named.get("number of output rows", 0.0)
            out["python.bytes_sent"] += named.get(_PY_SENT, 0.0)
            out["python.bytes_received"] += named.get(_PY_RECV, 0.0)
            out["python.worker_s"] += named.get(_PY_RUN, 0.0)

    def cache_state(self) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        rdds = self._store.rddList(True)
        mem = disk = 0
        for i in range(rdds.size()):
            r = rdds.apply(i)
            mem += r.memoryUsed()
            disk += r.diskUsed()
        return {
            "cache.persisted_rdds": float(self.sc._jsc.getPersistentRDDs().size()),
            "cache.memory_bytes": float(mem),
            "cache.disk_bytes": float(disk),
        }


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_s"] = kv._2().durationMs() / 1e3
    return out


class Recorder:
    """Times ops by kind; counts attempts and failures."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.traced: dict[str, list[float]] = defaultdict(list)
        self.untraced: dict[str, list[float]] = defaultdict(list)
        self.layers: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._n_op = 0

    def fail(self, kind: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{kind}: {why}")

    def op(self, kind: str, build, action="count", timed: bool = True):
        """Run one op: `build()` makes the plan (and, for verbs that
        execute eagerly, the result); `action` is 'count', 'collect',
        None, or a function applied to what `build()` returned (such as
        `MnemoSparkEngine.materialized`). Returns the action's result,
        or None if it raised."""
        self._n_op += 1
        op_id = self._n_op
        self.attempted += 1
        traced = self.tracer.enabled and timed and len(self.samples[kind]) % 2 == 0
        sc = self.spark.sparkContext
        group = f"op{op_id}"
        if traced:
            sc.setJobGroup(group, kind)
            sql_before = self.counters.sql_count()
        layers: dict[str, float] = {}
        try:
            with self.tracer.span(kind, op_id) if traced else nullcontext():
                t0 = time.perf_counter()
                with self.tracer.span("build", op_id) if traced else nullcontext():
                    df = build()
                t1 = time.perf_counter()
                with self.tracer.span("action", op_id) if traced else nullcontext():
                    result = self._act(df, action, layers if traced else None)
                t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.fail(kind, f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}")
            return None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if timed:
            self.samples[kind].append(t2 - t0)
            (self.traced if traced else self.untraced)[kind].append(t2 - t0)
        if traced:
            layers["plan.build_s"] = t1 - t0
            layers["plan.action_s"] = t2 - t1
            layers.update(self.counters.read(group, sql_before))
            for k, v in layers.items():
                self.layers[kind][k].append(v)
        return result

    @staticmethod
    def _act(df, action, layers):
        if action is None:
            return df
        if callable(action):
            return action(df)
        if layers is None:
            return df.count() if action == "count" else df.collect()
        # traced: the same action through a query execution we hold, so
        # its Catalyst phase times can be read back
        q = df.groupBy().count() if action == "count" else df
        qe = q._jdf.queryExecution()
        qe.executedPlan()
        rows = q.collect()
        layers.update(_phases(qe))
        return rows[0][0] if action == "count" else rows


# -- statistics ---------------------------------------------------------------


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else math.nan


def tail(xs, beyond: int = 10):
    """Highest percentile with at least `beyond` samples above it, as
    (percentile, value); None when the sample is too small."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    idx = n - beyond - 1
    return round(100.0 * (idx + 1) / n, 1), s[idx]


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else math.nan
