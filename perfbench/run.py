"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one workload of the benchmark in a fresh process against the
engine in this checkout, then prints, as the last line of standard
output, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run also records spans and Spark counter probes around every call
into the engine's layers, and the metrics are the per-layer ones.
The line before it is the full report: every metric with its unit, the
run's environment and its checks. The report and, for a traced run,
the spans are also written under ``.perfbench/results/``.

Everything the run writes stays under ``.perfbench/`` in the checkout;
its lake state lives in a fresh temporary directory that is deleted at
exit, so every run starts from the same bytes. See perfbench/README.md
for the workloads and the metrics.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import contextmanager  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
# run as a script, the benchmark's own directory heads sys.path; its
# modules are imported as the ``perfbench`` package instead
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
OUT = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
DRIVER_MEM = "1g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


SPEC = _spec()
# metric name -> unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


class Op:
    def __init__(self, kind: str) -> None:
        self.kind = kind
        self.ok = True
        self.t0 = 0.0
        self.latency_s = 0.0


class Context:
    """What one run measures: its ops, checks and layer totals."""

    def __init__(self, seed: int, trace: bool, nproc: int) -> None:
        import numpy as np

        from perfbench.tracing import Tracer

        self.seed = seed
        self.nproc = nproc
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(trace)
        self.spark = None
        self.counters = None
        self.ops: list[Op] = []
        self.measured_s = 0.0
        self.totals: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.checks = {"attempted": 0, "failed": 0, "rounding_matches": 0}
        self.failures: list[str] = []

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    @contextmanager
    def op(self, kind: str, timed: bool = True):
        op = Op(kind)
        if timed:
            self.ops.append(op)
            self.tracer.op = len(self.ops) - 1
        with self.tracer.span("op", kind=kind):
            op.t0 = time.perf_counter()
            try:
                yield op
            finally:
                op.latency_s = time.perf_counter() - op.t0
        self.tracer.op = None
        if timed:
            self.measured_s += op.latency_s

    def layer_call(self, name: str, seconds: float) -> None:
        self.totals[name] += seconds * 1000.0
        self.calls[name] += 1

    def layer_add(self, name: str, value: float) -> None:
        self.totals[name] += float(value)

    def layer_phases(self, phases: dict[str, float]) -> None:
        for k, v in phases.items():
            self.totals[f"catalyst.{k}"] += v
        self.calls["catalyst"] += 1

    def note_check(self, what: str, verdict) -> None:
        self.checks["attempted"] += 1
        self.checks["rounding_matches"] += verdict.rounding_matches
        if not verdict.ok:
            self.checks["failed"] += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {verdict.detail}")

    def spark_snapshot(self):
        return self.counters.snapshot() if self.counters is not None else None

    def spark_diff(self, before, wall_s: float | None = None) -> None:
        """Attribute the Spark work since ``before`` to the last op."""
        if before is None:
            return
        d = self.counters.snapshot().minus(before)
        spill, _ = self.counters.spill_bytes(before.stages, before.stages + d.stages)
        wall = wall_s if wall_s is not None else self.ops[-1].latency_s
        for k, v in (
            ("exec.jobs", d.jobs), ("exec.stages", d.stages), ("exec.tasks", d.tasks),
            ("exec.input_bytes", d.input_bytes),
            ("exec.shuffle_read_bytes", d.shuffle_read_bytes),
            ("exec.shuffle_write_bytes", d.shuffle_write_bytes),
            ("exec.spill_bytes", spill), ("exec.gc_ms", d.gc_ms),
            ("exec.task_ms", d.task_ms), ("exec.wall_core_ms", wall * 1000.0 * self.counters.cores),
        ):
            self.totals[k] += v
        self.calls["exec.op"] += 1

    # -- derived figures -----------------------------------------------

    def per_call(self, name: str) -> float:
        return self.totals[name] / self.calls[name] if self.calls[name] else 0.0

    def ratio(self, num: str, den: str) -> float:
        return self.totals[num] / self.totals[den] if self.totals[den] else 0.0

    def per_layer(self, session_s: float, lake: dict) -> dict[str, float]:
        n_exec = self.calls["exec.op"]
        n_plan = self.calls["catalyst"]
        hits, misses = self.calls["engine.hit"], self.calls["engine.miss"]
        per_op = lambda k: self.totals[k] / n_exec if n_exec else 0.0  # noqa: E731
        return {
            "session.start_s": session_s,
            "sources.register_ms": self.per_call("sources.register"),
            "inventory.build_ms": self.per_call("inventory.build"),
            "inventory.build_jobs": (
                self.totals["inventory.build_jobs"] / self.calls["inventory.build"]
                if self.calls["inventory.build"] else 0.0
            ),
            "catalyst.analysis_ms": self.totals["catalyst.analysis"] / n_plan if n_plan else 0.0,
            "catalyst.optimization_ms": self.totals["catalyst.optimization"] / n_plan if n_plan else 0.0,
            "catalyst.planning_ms": self.totals["catalyst.planning"] / n_plan if n_plan else 0.0,
            "plans.rewrite_ms": self.per_call("plans.rewrite"),
            "plans.zonemap_fired_ratio": self.ratio("plans.zonemap_fired", "plans.queries"),
            "plans.files_read_ratio": self.ratio("plans.files_read", "plans.files_total"),
            "plans.mv_rewrite_ratio": self.ratio("plans.mv_rewrite", "plans.queries"),
            "plans.agg_metadata_ratio": self.ratio("plans.agg_metadata", "plans.queries"),
            "engine.result_cache_hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "engine.hit_ms": self.per_call("engine.hit"),
            "engine.miss_ms": self.per_call("engine.miss"),
            "engine.envelope_ms": self.per_call("engine.envelope"),
            "engine.burst_wait_ms": self.per_call("engine.burst_wait"),
            "exec.execute_ms": self.per_call("exec.execute"),
            "exec.jobs": per_op("exec.jobs"),
            "exec.stages": per_op("exec.stages"),
            "exec.tasks": per_op("exec.tasks"),
            "exec.input_bytes": per_op("exec.input_bytes"),
            "exec.shuffle_read_bytes": per_op("exec.shuffle_read_bytes"),
            "exec.shuffle_write_bytes": per_op("exec.shuffle_write_bytes"),
            "exec.spill_bytes": per_op("exec.spill_bytes"),
            "exec.core_utilization": self.ratio("exec.task_ms", "exec.wall_core_ms"),
            "exec.gc_ms": per_op("exec.gc_ms"),
            "lake.files_live": float(lake.get("files_live", 0)),
            "lake.stored_bytes": float(lake.get("stored_bytes", 0)),
        }


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive method)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def source_id() -> str:
    """The git commit of the checkout, else a digest of the engine's
    sources (a checkout without ``.git`` has no commit to name)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        lines = out.stdout.split()
        if out.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "quack_reduce_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a shared host,
    time stolen by other guests slows a run as a whole."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[1])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(workdir: str, nproc: int) -> None:
    """Keep Spark, the JVM and Python temp files inside the run dir.

    The driver heap is fixed at 1 GB (the engine's default is 12 GB): a
    heap that grows to whatever the collector allows makes the peak
    resident set vary from run to run, and the inputs need far less."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    local = os.path.join(workdir, "spark-local")
    jtmp = os.path.join(workdir, "jvm-tmp")
    for d in (local, jtmp):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.local.dir={local}"),
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["TMPDIR"] = jtmp
    tempfile.tempdir = jtmp


def import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import quack_reduce_spark

    where = os.path.dirname(os.path.abspath(quack_reduce_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"quack_reduce_spark imported from {where}, not {ROOT}")
    return quack_reduce_spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
        gw.shutdown()
    except (Py4JError, OSError) as e:
        # a call cut off by a signal leaves the bridge unusable
        print(f"[perfbench] session stop failed: {e!r:.200}", file=sys.stderr)
    if proc is None:
        return
    try:
        proc.stdin.close()  # the JVM exits when its stdin closes
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and deletes its lake state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start, total_start = cpu_times()
    try:
        import_engine()
        import duckdb
        import pyspark

        from perfbench.batch import BatchPipeline
        from perfbench.dashboard import Dashboard
        from perfbench.tracing import SparkCounters, cpu_seconds, descendants, peak_rss_mb
    except ImportError as e:
        print(f"perfbench: cannot import the engine or its dependencies: {e}", file=sys.stderr)
        return 2

    os.makedirs(OUT, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT)
    prepare_environment(workdir, nproc)
    ctx = Context(args.seed, bool(args.trace), nproc)
    spark = None
    try:
        from quack_reduce_spark.session import get_spark

        t0 = time.perf_counter()
        with ctx.tracer.span("session.start"):
            spark = ctx.spark = get_spark()
        session_start_s = time.perf_counter() - t0
        ready_s = time.perf_counter() - PROCESS_START
        if args.trace:
            ctx.counters = SparkCounters(spark)
        wl = (Dashboard if args.workload == "dashboard" else BatchPipeline)(ctx)
        # the inputs are the benchmark's own work, made once and untimed
        with ctx.tracer.span("generate"):
            wl.generate(os.path.join(workdir, "data"))
        setup_times = []
        for rep in range(SETUP_REPS):
            rep_dir = os.path.join(workdir, f"setup{rep}")
            t0 = time.perf_counter()
            with ctx.tracer.span("setup", rep=rep):
                wl.setup(rep_dir)
            setup_times.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                shutil.rmtree(rep_dir, ignore_errors=True)
        setup_s = ready_s + statistics.median(setup_times)
        wl.warm_up()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        cpu_start = cpu_seconds(descendants(jvm_pid) + [os.getpid()])
        t_run = time.perf_counter()
        wl.run(args.seconds)
        run_wall_s = time.perf_counter() - t_run
        run_cpu_s = cpu_seconds(descendants(jvm_pid) + [os.getpid()]) - cpu_start
        wl_report = wl.report()
        rss_mb = peak_rss_mb(descendants(jvm_pid) + [os.getpid()])
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    lat_ms = [op.latency_s * 1000.0 for op in ctx.ops]
    failed_ops = sum(not op.ok for op in ctx.ops)
    attempted = len(ctx.ops)
    # the gated figures: CPU time per op holds still when other guests
    # steal CPU from the host, wall-clock op latency does not
    e2e = {
        "setup_s": setup_s,
        "cpu_ms_per_op": run_cpu_s * 1000.0 / attempted,
        "peak_rss_mb": rss_mb,
    }
    # reported beside them, not gated: wall-clock op figures and errors
    wall = {
        "latency_p50_ms": (quantile(lat_ms, 50), "ms"),
        "latency_p90_ms": (quantile(lat_ms, 90), "ms"),
        "throughput_ops_s": (attempted / ctx.measured_s, "1/s"),
        "error_rate": (failed_ops / attempted, "ratio"),
    }
    per_layer = ctx.per_layer(session_start_s, wl_report)
    for got, want in ((e2e, END_TO_END), (per_layer, PER_LAYER)):
        if set(got) != set(want):
            raise RuntimeError(f"metrics {sorted(got)} do not match BENCHMARK.json {sorted(want)}")
    extra = {
        "ops": attempted,
        "samples_beyond_p90": sum(v > wall["latency_p90_ms"][0] for v in lat_ms),
        "measured_s": ctx.measured_s,
        "run_wall_s": run_wall_s,
        "run_cpu_s": run_cpu_s,
        "session_start_s": session_start_s,
        "setup_reps_s": setup_times,
        "op_ms": [[op.kind, round(op.latency_s * 1000.0, 3), op.ok] for op in ctx.ops],
    }
    load_end = os.getloadavg()[0]
    steal_end, total_end = cpu_times()
    env = {
        "source": source_id(),
        "nproc": nproc,
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load1_start": load_start,
        "load1_end": load_end,
        "load_flag": load_start > nproc,
        "cpu_steal_share": (steal_end - steal_start) / max(1, total_end - total_start),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "sql_many_threads": min(4, nproc),
    }
    if env["load_flag"]:
        ctx.log(f"load1 {load_start:.2f} at start exceeds the {nproc} cores: figures are suspect")
    correct = ctx.checks["failed"] == 0 and failed_ops == 0
    report = {
        "workload": args.workload,
        "env": env,
        "correct": correct,
        "checks": ctx.checks,
        "check_failures": ctx.failures,
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "end_to_end_ungated": {k: {"value": v, "unit": u} for k, (v, u) in wall.items()},
        "extra": extra,
        "workload_report": wl_report,
        "per_layer": (
            {k: {"value": v, "unit": PER_LAYER[k]} for k, v in per_layer.items()}
            if args.trace else None
        ),
    }
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        untraced = f"{stem[:-1]}0.json"
        if os.path.exists(untraced):
            with open(untraced) as f:
                old = json.load(f)
            base = {**old["end_to_end"], **old["end_to_end_ungated"]}
            report["untraced_end_to_end"] = base
            now = {**e2e, **{k: v for k, (v, _) in wall.items()}}
            report["tracing_overhead"] = {
                k: now[k] / base[k]["value"] for k in now if base[k]["value"]
            }
        ctx.tracer.dump(stem + ".spans.jsonl", dict(ctx.totals))
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps(report, default=str))
    metrics = per_layer if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed_ops,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
