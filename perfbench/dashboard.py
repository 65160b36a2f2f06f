"""``dashboard``: widget refreshes over a zone-mapped, MV-backed lake.

One op is one widget refresh: ``Engine.sql_many`` over four widget
queries with ``max_threads`` at most the core count:

(a) a range ``COUNT(*)`` on ``l_shipdate`` (the reference dashboard's
    row counter);
(b) the top-suppliers query ``SELECT l_suppkey, COUNT(*) ... GROUP BY 1
    ORDER BY 2 DESC LIMIT k``, which a materialized view built at
    setup answers;
(c) the same query under a range ``WHERE`` on ``l_shipdate``;
(d) an ``orders ⋈ customer ⋈ nation`` star query over the plain,
    unclustered tables, which neither zone maps nor the view can serve.

(a)-(c) read a copy of ``lineitem`` written with
``Engine.write_clustered`` (range-clustered on ``l_shipdate``, zone
mapped). Each refresh, the user changes one widget's parameters — its
range, or (b)'s ``k`` — taking (a), (c), (b), (c), (d) in turn, with
fresh seeded values; the other three queries repeat their last text
and come from the result cache. So a refresh plans and runs one query,
of a kind fixed by its position, and the median and p90 sit inside the
(c) and (d) latencies. (With every
widget drawn from a small skewed set instead, most refreshes are all
cache hits and the rest carry one to three misses, and the median and
p90 land between those modes differently from seed to seed.)

The lake takes no commits while the refreshes run: ``Engine.sql``
currently serves a manifest-answered ``COUNT(*)`` stale after an
append (see README.md, "Known engine defect"). Every widget answer is
checked against DuckDB over the same files, and before the timed
refreshes ``COUNT(*)`` through the engine and the view's total must
equal the rows written.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import numpy as np

from perfbench import checks, datagen
from perfbench.tracing import tracker_phases_ms

SCALE = 0.02  # 120,000 lineitem rows, about 2.2 MB of parquet
CLUSTER_FILES = 16
# a run times at least this many refreshes, whatever --seconds says
MIN_REFRESHES = 20
# (b) and (c) show the top k suppliers, k drawn from this range
TOP_K = (10, 200)
# one range length: the work per query then varies with position only
WINDOW_DAYS = 91
WINDOW_SPAN_DAYS = datagen.SHIP_DAYS - WINDOW_DAYS

TABLE = "lineitem_c"
MV = "supp_mv"
MV_QUERY = f"SELECT l_suppkey, COUNT(*) AS n FROM {TABLE} GROUP BY l_suppkey"
MV_COUNT = "n__star"  # the view's stored COUNT(*) partial
DIMS = ["orders", "customer", "nation"]


def _ts(d: dt.datetime) -> str:
    return f"TIMESTAMP '{d:%Y-%m-%d %H:%M:%S}'"


def _range(rng: np.random.Generator, col: str) -> str:
    lo = datagen.SHIP_LO + dt.timedelta(days=int(rng.integers(0, WINDOW_SPAN_DAYS)))
    hi = lo + dt.timedelta(days=WINDOW_DAYS)
    return f"{col} >= {_ts(lo)} AND {col} < {_ts(hi)}"


_TOP = (
    "SELECT l_suppkey, COUNT(*) AS n FROM {t}{where} "
    "GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT {k}"
)

# one function per widget, each drawing that widget's parameters
WIDGETS = [
    lambda rng: f"SELECT COUNT(*) AS n FROM {TABLE} WHERE {_range(rng, 'l_shipdate')}",
    lambda rng: _TOP.format(t=TABLE, where="", k=rng.integers(*TOP_K, endpoint=True)),
    lambda rng: _TOP.format(
        t=TABLE, where=f" WHERE {_range(rng, 'l_shipdate')}", k=rng.integers(*TOP_K, endpoint=True)
    ),
    lambda rng: (
        "SELECT n_name, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE {_range(rng, 'o_orderdate')} "
        f"AND c_mktsegment = '{rng.choice(datagen.SEGMENTS)}' "
        "GROUP BY n_name ORDER BY n_orders DESC, n_name ASC LIMIT 10"
    ),
]
# the widget the user changes, one per refresh, in turn: (c) twice, so
# that the median falls inside one kind of query, not between two
ROTATION = [0, 2, 1, 2, 3]


class Dashboard:
    name = "dashboard"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.threads = min(4, ctx.nproc)
        self.eng = None
        self.lake = self.data = ""
        self.rows = 0
        first = np.random.default_rng([ctx.seed, 1])
        self.current = [w(first) for w in WIDGETS]
        self.refreshes = 0
        self.seen: set[str] = set()
        self.hits = self.queries = 0
        self.con = None
        self.refs: dict[str, tuple] = {}

    # -- setup ----------------------------------------------------------

    def generate(self, data_dir: str) -> None:
        self.data = data_dir
        n = datagen.generate(data_dir, self.ctx.seed, SCALE, ["lineitem"] + DIMS)
        self.rows = n["lineitem"]

    def setup(self, workdir: str) -> None:
        from quack_reduce_spark import Engine
        from quack_reduce_spark.sources import read_parquet_table

        ctx = self.ctx
        tr = ctx.tracer
        self.lake = os.path.join(workdir, "lake")
        self.refs = {}
        if self.con is not None:
            self.con.close()
        self.con = None
        eng = self.eng = Engine(spark=ctx.spark)
        for t in DIMS:
            self._register(t, os.path.join(self.data, f"{t}.parquet"))
        t0 = time.perf_counter()
        with tr.span("lake.write_clustered"):
            src = read_parquet_table(ctx.spark, os.path.join(self.data, "lineitem.parquet"))
            eng.write_clustered(src, self._table_path(), ["l_shipdate"], n_files=CLUSTER_FILES)
        ctx.layer_call("lake.write_clustered", time.perf_counter() - t0)
        self._register(TABLE, self._table_path())
        t0 = time.perf_counter()
        with tr.span("engine.create_materialized_view"):
            eng.create_materialized_view(MV, MV_QUERY, os.path.join(self.lake, MV))
        ctx.layer_call("engine.create_materialized_view", time.perf_counter() - t0)

    def _table_path(self) -> str:
        return os.path.join(self.lake, TABLE)

    def _register(self, name: str, path: str) -> None:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sources.register", table=name):
            self.eng.register(name, path)
        self.ctx.layer_call("sources.register", time.perf_counter() - t0)

    # -- the measured loop ---------------------------------------------

    def warm_up(self) -> None:
        """One untimed round of the rotation, checked like the timed
        refreshes (the first query of each kind pays for code generation
        and the JIT), and the row totals."""
        for _ in ROTATION:
            self._refresh(timed=False)
        self._check_totals()

    def run(self, seconds: float) -> None:
        start = time.perf_counter()
        n = 0
        while n < MIN_REFRESHES or time.perf_counter() - start < seconds:
            self._refresh(timed=True)
            n += 1

    def _check_totals(self) -> None:
        """``COUNT(*)`` through the engine and the view's total must
        equal the rows written."""
        ctx = self.ctx
        with ctx.tracer.span("verify.totals"):
            n = self.eng.sql(f"SELECT COUNT(*) AS n FROM {TABLE}", limit=None).records[0]["n"]
            mv_total = self._mv_frame().agg({MV_COUNT: "sum"}).collect()[0][0]
        ok = n == self.rows and mv_total == self.rows
        ctx.note_check("totals", checks.Verdict(ok, detail=f"count={n} mv={mv_total} want={self.rows}"))

    def _mv_frame(self):
        return self.ctx.spark.read.parquet(os.path.join(self.lake, MV))

    def _refresh(self, timed: bool) -> None:
        """The user changes one widget's range; all four re-run."""
        ctx = self.ctx
        w = ROTATION[self.refreshes % len(ROTATION)]
        self.refreshes += 1
        self.current[w] = WIDGETS[w](ctx.rng)
        queries = list(self.current)
        ok = True
        with ctx.op("refresh", timed=timed) as op:
            before = ctx.spark_snapshot()
            try:
                with ctx.tracer.span("engine.sql_many"):
                    results = self.eng.sql_many(queries, limit=None, max_threads=self.threads)
            except Exception as e:  # an op that raises is a failed op
                ctx.log(f"refresh failed: {e!r:.300}")
                ok = False
            t_end = time.perf_counter()
        if ok:
            ok = self._check(queries, results)
            op.ok = ok
        if not timed or not ok:
            return
        for q, r in zip(queries, results):
            self.queries += 1
            self.hits += bool(r.metadata.get("result_cache", {}).get("hit"))
            self.seen.add(q)
        if ctx.tracer.enabled:
            ctx.spark_diff(before, wall_s=t_end - op.t0)
            slowest = max(r.metadata["timeMs"] for r in results)
            ctx.layer_call("engine.burst_wait", op.latency_s - slowest / 1000.0)
            for q, r in zip(queries, results):
                self._trace_query(q, r)

    def _check(self, queries: list[str], results) -> bool:
        ok = True
        for q, r in zip(queries, results):
            want = self.refs.get(q)
            if want is None:
                with self.ctx.tracer.span("verify.duckdb"):
                    want = self.refs[q] = checks.duck_rows(self._duck(), q)
            cols = list(r.records[0].keys()) if r.records else want[1]
            v = checks.compare(r.records, cols, *want)
            self.ctx.note_check("widget", v)
            ok &= v.ok
        return ok

    def _duck(self):
        import duckdb

        if self.con is not None:
            return self.con
        con = self.con = duckdb.connect()
        con.execute(
            f"CREATE VIEW {TABLE} AS SELECT * FROM "
            f"read_parquet('{self._table_path()}/*.parquet')"
        )
        for t in DIMS:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data, t)}.parquet'")
        return con

    def _trace_query(self, q: str, r) -> None:
        """Per-layer split of one widget query, taken after the op.

        A hit only probed the cache. A miss is replayed, unmeasured by
        the op, layer by layer: analysis alone (``spark.sql``), the
        engine's planning with its rewrites (``Engine.df``), Catalyst's
        phases on that frame, its execution, and the whole envelope
        with the result cache off."""
        ctx = self.ctx
        eng = self.eng
        tr = ctx.tracer
        ms = r.metadata["timeMs"] / 1000.0
        if r.metadata.get("result_cache", {}).get("hit"):
            ctx.layer_call("engine.hit", ms)
            return
        ctx.layer_call("engine.miss", ms)
        with tr.span("probe", query=q[:80]):
            t0 = time.perf_counter()
            with tr.span("catalyst.analysis"):
                ctx.spark.sql(q)
            t1 = time.perf_counter()
            eng.last_mv_rewrite = eng.last_agg_plan = None
            with tr.span("plans.rewrite"):
                df = eng.df(q)
            t2 = time.perf_counter()
            ctx.layer_call("plans.rewrite", max(0.0, (t2 - t1) - (t1 - t0)))
            zm = eng.last_zonemap_report or {}
            ctx.layer_add("plans.queries", 1)
            ctx.layer_add("plans.zonemap_fired", bool(zm))
            for rep in zm.values():
                ctx.layer_add("plans.files_read", rep.get("files_read", rep.get("files_scanned", 0)))
                ctx.layer_add("plans.files_total", rep.get("files_total", 0))
            ctx.layer_add("plans.mv_rewrite", eng.last_mv_rewrite is not None)
            ctx.layer_add("plans.agg_metadata", eng.last_agg_plan is not None)
            with tr.span("catalyst.plan"):
                ctx.layer_phases(tracker_phases_ms(df))
            t3 = time.perf_counter()
            with tr.span("exec.execute"):
                df.collect()
            t4 = time.perf_counter()
            ctx.layer_call("exec.execute", t4 - t3)
            eng.result_cache = False
            try:
                t5 = time.perf_counter()
                with tr.span("engine.envelope"):
                    eng.sql(q, limit=None)
                t6 = time.perf_counter()
            finally:
                eng.result_cache = True
            ctx.layer_call("engine.envelope", max(0.0, (t6 - t5) - (t2 - t1) - (t4 - t3)))

    def report(self) -> dict:
        """Lake and cache figures at the end of the run."""
        stored = 0
        for root in (self._table_path(), os.path.join(self.lake, MV)):
            for dirpath, _, files in os.walk(root):
                stored += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return {
            "rows": self.rows,
            "files_live": len(glob.glob(os.path.join(self._table_path(), "*.parquet"))),
            "stored_bytes": stored,
            "stream_repeat_share": 1.0 - len(self.seen) / max(1, self.queries),
            "result_cache_hit_ratio": self.hits / max(1, self.queries),
        }
