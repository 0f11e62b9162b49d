"""Seeded, output-checked benchmark of mnemo_spark on one local Spark.

Run from the repository root:

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

One process, one closed-loop client (the next op starts when the last
one returned) on local[<cpus>]. The seed makes every input; the
program only receives the generated tables and frames. Outputs are
checked outside the timed region.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics. The line before it is a JSON detail record: the
launch environment, per-op-kind medians, the workload's own named
metrics and, traced, the per-kind layer medians and the tracing
overhead.
Spans and counters of a traced run go to
.bench_out/trace-<workload>-seed<seed>.json.

Exit codes: 0 with a result, 2 when the program under test or a
dependency is missing (nothing printed on stdout).
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("registry", "agent-turns")


def host_env(work: Path) -> dict[str, str]:
    """Launch settings derived from the host, exported before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # a quarter of physical memory, 1-4 GiB: the workloads need ~1 GiB
    # and the program's 16g default does not fit small hosts
    heap_gb = max(1, min(4, phys // (4 << 30)))
    local_dirs = work / "spark-local"
    tmp = work / "tmp"
    for d in (local_dirs, tmp):
        d.mkdir(parents=True, exist_ok=True)
    py_path = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "MNEMO_SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": str(local_dirs),
        # temp files of Python and of every JVM (the launcher's too)
        # stay in the run's directory
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import mnemo_spark from the repo root
        "PYTHONPATH": py_path,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    env["phys_mem_gb"] = f"{phys / (1 << 30):.1f}"
    return env


def git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        path = ROOT / ".git" / ref[5:]
        return path.read_text().strip() if path.is_file() else None
    return ref


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave other guests (0 on bare metal)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def summarize(rec, ctx, spark, trace: bool) -> tuple[dict, dict]:
    """End-to-end or per-layer metrics, each per pass over the op
    mix: the sum over op kinds of the kind's median."""
    from tracing import geomean, median

    kinds = sorted(rec.samples)
    med = {k: median(rec.samples[k]) for k in kinds}
    detail: dict = {"op_median_s": {k: round(v, 4) for k, v in med.items()},
                    "op_samples": {k: len(rec.samples[k]) for k in kinds},
                    "peak_rss_mb": round(peak_rss_mb(spark), 1)}
    if not trace:
        metrics = {
            "setup_s": (ctx.setup_s, "s"),
            "pass_s": (sum(med.values()), "s"),
            "geomean_s": (geomean(med.values()), "s"),
        }
        return metrics, detail
    metrics = {
        name: (sum(median(rec.layers[k][name]) for k in kinds if rec.layers[k].get(name)), unit)
        for name, unit in PER_LAYER
    }
    metrics["session.start_s"] = (ctx.phases["session.start_s"], "s")
    metrics["io.table_warm_s"] = (ctx.phases["io.table_warm_s"], "s")
    metrics["mem.peak_rss_mb"] = (detail["peak_rss_mb"], "MB")
    for name, value in rec.counters.cache_state().items():
        metrics[name] = (value, PER_LAYER_UNITS[name])
    # layers only one workload has (query modules, engine verbs, txlog)
    # read 0 on the other
    for name, unit in WORKLOAD_LAYERS:
        metrics[name] = (ctx.layers.get(name, 0.0), unit)
    # tracing overhead: traced minus untraced medians of the same op kinds
    both = [k for k in kinds if rec.untraced[k] and rec.traced[k]]
    detail["trace_overhead_s"] = round(
        sum(median(rec.traced[k]) - median(rec.untraced[k]) for k in both), 4
    )
    detail["trace_overhead_kinds"] = len(both)
    detail["layers_by_kind"] = {
        k: {n: round(median(v), 6) for n, v in rec.layers[k].items()} for k in kinds
    }
    return metrics, detail


PER_LAYER = [
    ("plan.build_s", "s"),
    ("plan.action_s", "s"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("exec.run_s", "s"),
    ("exec.cpu_s", "s"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("python.nodes", "count"),
    ("python.rows", "count"),
    ("python.bytes_sent", "bytes"),
    ("python.bytes_received", "bytes"),
    ("python.worker_s", "s"),
]
PER_LAYER_UNITS = dict(PER_LAYER) | {
    "mem.peak_rss_mb": "MB",
    "cache.persisted_rdds": "count",
    "cache.memory_bytes": "bytes",
    "cache.disk_bytes": "bytes",
}
# the eleven modules that define mnemo_spark.registry.QUERIES
QUERY_MODULES = (
    "registry", "queries_tpch", "queries_analytics", "queries_engine", "queries_pipeline",
    "queries_embed", "queries_sql", "queries_lifecycle", "queries_interop", "queries_text",
    "queries_recall",
)
WORKLOAD_LAYERS = [(f"{m}.action_s", "s") for m in QUERY_MODULES] + [
    ("engine.remember_batch_s", "s"),
    ("engine.materialized_s", "s"),
    ("engine.recall_s", "s"),
    ("engine.forget_s", "s"),
    ("engine.verify_integrity_s", "s"),
    ("engine.store_partitions", "count"),
    ("engine.store_rows", "count"),
    ("txlog.save_s", "s"),
    ("txlog.load_s", "s"),
]


class Context:
    """What a workload gets: the session, the recorder, its seed, its
    time budget and a scratch dir; it fills in set-up phase times."""

    def __init__(self, spark, rec, tracer, seed, seconds, work, session_s):
        import numpy as np

        self.spark = spark
        self.rec = rec
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.phases: dict[str, float] = {"session.start_s": session_s}
        self.named: dict = {}
        self.layers: dict[str, float] = {}  # traced: the workload's own layers
        self.setup_s = float("nan")
        self._rep_excess = 0.0

    def repeat_setup(self, name: str, fn, reps: int):
        """Run a re-doable set-up step `reps` times; set-up time counts
        its median once (the repeats make set-up time steadier)."""
        from tracing import median

        times = []
        out = None
        for _ in range(reps):
            t0 = time.perf_counter()
            with self.tracer.span(name):
                out = fn()
            times.append(time.perf_counter() - t0)
        self.phases[name] = median(times)
        self._rep_excess += sum(times) - median(times)
        return out

    def phase(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.phases[name] = time.perf_counter() - t0
        return out

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROC - self._rep_excess


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "mnemo_spark" / "__init__.py").is_file():
        print(f"perfbench: no mnemo_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import duckdb  # noqa: F401
        import pyspark
    except ImportError as e:
        print(f"perfbench: missing dependency: {e}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".bench_out"
    work = out_dir / f"run-{os.getpid()}"
    env = host_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, env, work, out_dir, pyspark.__version__)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, env, work: Path, out_dir: Path, spark_version: str) -> int:
    from tracing import Recorder, Tracer

    import workload_agent
    import workload_registry

    tracer = Tracer(bool(args.trace))
    steal0 = cpu_steal_s()
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        from mnemo_spark.session import get_spark

        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        rec = Recorder(spark, tracer)
        ctx = Context(spark, rec, tracer, args.seed, args.seconds, work, session_s)
        module = workload_registry if args.workload == "registry" else workload_agent
        module.run(ctx)
        metrics, detail = summarize(rec, ctx, spark, bool(args.trace))
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        ctx.phases["stop_s"] = time.perf_counter() - t_stop

    detail.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        regime="warm",
        cpus=int(env["SPARK_GRAFT_CPUS"]),
        phys_mem_gb=float(env["phys_mem_gb"]),
        driver_heap=env["MNEMO_SPARK_DRIVER_MEM"],
        spark_local_dirs=env["SPARK_LOCAL_DIRS"],
        pythonpath=env["PYTHONPATH"],
        spark_version=spark_version,
        git_commit=git_commit(),
        phases_s={k: round(v, 4) for k, v in ctx.phases.items()},
        wall_s=round(time.perf_counter() - T_PROC, 2),
        cpu_steal_s=round(cpu_steal_s() - steal0, 2),
        fail_ratio=rec.failed / max(1, rec.attempted),
        errors=rec.errors,
        **ctx.named,
    )
    if args.trace:
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps({"detail": detail, "spans": tracer.as_json(),
                                    "metrics": {k: v for k, (v, _) in metrics.items()}}))
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
