"""``batch_pipeline``: inventory jobs forced by a ``noop`` write.

One op is one job: the inventory builder ``fn(spark, data_dir)``, then
``df.write.format("noop")``, so every column of the result is computed
and nothing is collected. A pass runs every job once, in an order drawn
from the seed. The engine's SQL envelope, result cache, zone maps and
materialized views are never touched.

Before timing, one untimed pass collects each job's result and checks
it against the job's DuckDB oracle over the same files; it also pays the
JVM's one-time warm-up, which would otherwise land on whichever jobs
the seed puts first.
"""

from __future__ import annotations

import os
import time

from perfbench import checks, datagen
from perfbench.tracing import tracker_phases_ms

JOBS = [
    "tpch_q9_product_type_profit",
    "tpch_q21_suppliers_who_kept_waiting",
    "text_quality",
    "sim_cosine_topk",
    "sketch_join_cardinality",
    "b_window_rank",
    "ts_asof_join",
]
# 30,000 lineitem rows; the jobs' time is mostly per-stage overhead
SCALE = 0.005
# a run times at least this many passes: the figures of one pass's
# seven jobs move with a single job's hiccup
MIN_PASSES = 2


class BatchPipeline:
    name = "batch_pipeline"

    def __init__(self, ctx) -> None:
        from quack_reduce_spark.inventory import all_oracles, all_queries

        self.ctx = ctx
        registry = all_queries()
        self.fns = {j: registry[j] for j in JOBS}
        self.oracles = all_oracles()
        self.data_dir = ""
        self.wrong: set[str] = set()

    def generate(self, data_dir: str) -> None:
        self.data_dir = data_dir
        datagen.generate(data_dir, self.ctx.seed, SCALE)

    def setup(self, workdir: str) -> None:
        """Nothing: the builders bind their own tables inside each job."""

    def warm_up(self) -> None:
        """Untimed pass: each job's collected rows against its oracle."""
        import duckdb

        ctx = self.ctx
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data_dir, t)}.parquet'"
            )
        for job in JOBS:
            with ctx.tracer.span("verify", job=job):
                df = self.fns[job](ctx.spark, self.data_dir)
                got = [r.asDict() for r in df.collect()]
                want, want_cols = checks.duck_rows(con, self.oracles[job])
                v = checks.compare(got, df.columns, want, want_cols)
            ctx.note_check(job, v)
            if not v.ok:
                self.wrong.add(job)
        con.close()

    def run(self, seconds: float) -> None:
        """Whole passes, each in a seeded order: at least ``MIN_PASSES``,
        and more until ``seconds`` have passed."""
        start = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - start < seconds:
            for i in self.ctx.rng.permutation(len(JOBS)):
                self._job(JOBS[i])
            passes += 1

    def _job(self, job: str) -> None:
        ctx = self.ctx
        tr = ctx.tracer
        ok = True
        with ctx.op(job) as op:
            before = ctx.spark_snapshot()
            try:
                t0 = time.perf_counter()
                with tr.span("inventory.build", job=job):
                    df = self.fns[job](ctx.spark, self.data_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    built = ctx.spark_snapshot()
                    ctx.layer_add("inventory.build_jobs", built.jobs - before.jobs)
                    with tr.span("catalyst.plan", job=job):
                        phases = tracker_phases_ms(df)
                    ctx.layer_phases(phases)
                t2 = time.perf_counter()
                with tr.span("exec.execute", job=job):
                    df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            except Exception as e:  # an op that raises is a failed op
                ctx.log(f"{job} failed: {e!r:.300}")
                ok = False
            op.ok = ok and job not in self.wrong
        if ok and tr.enabled:
            ctx.layer_call("inventory.build", t1 - t0)
            ctx.layer_call("exec.execute", t3 - t2)
            ctx.spark_diff(before)

    def report(self) -> dict:
        return {"jobs": JOBS, "scale": SCALE, "wrong_jobs": sorted(self.wrong)}
