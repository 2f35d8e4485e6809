"""The three workloads and the run that drives one of them.

Every call into the engine goes through its public API.  A run:

1. builds the seeded world and writes its base tables as parquet;
2. starts one Spark session on ``local[nproc]``;
3. sets up ``SETUP_REPS`` times (fresh engine, table registration,
   ``create_immv`` of every view) and keeps the last engine;
4. runs untimed warm-up batches (``WARMUP_BATCHES``, ``WARMUP_S``);
5. measures for ``seconds``;
6. checks every view against a DuckDB recompute (outside the timed region);
7. stops the stream, the session and the JVM, and removes its work
   directory.

Every failed operation is recorded with its workload, operation, view and
exception class, and counted against the attempted ones.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

import probes
from oracle import diff, recompute
from world import MULT_COL, World

SF = 0.01
SETUP_REPS = 5
# untimed batches after set-up: at least this many, and for at least WARMUP_S
WARMUP_BATCHES = 2
WARMUP_S = 12.0
# delta size per batch as a share of the table's initial rows
AGG_DELTA_SHARE = 0.01
JOIN_DELTA_SHARE = 0.001
# stream_store: one delta file every FILE_PERIOD_S, a view read every READ_PERIOD_S.
# A micro-batch of one file took 0.5-0.9 s at the median on 4 cores and up to
# 1.7 s in slow spells of a shared host, so one file per 3 s keeps the offered
# load near half of what the stream can take one file per batch even then.
FILE_PERIOD_S = 3.0
READ_PERIOD_S = 0.5
# closed loops: after each batch, this many rounds of reading every view once
READ_ROUNDS = 2
STORE_BUCKETS = 16
READ_GROUP = "perfbench-read"
# phases of one trigger, in the order Structured Streaming runs them
STREAM_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]
    views: dict[str, str]
    # (world, initial row count per table) -> {table: signed delta}
    churn: Callable[[World, dict], dict]


AGG = Workload(
    "agg_churn",
    ("lineitem",),
    {
        # plain SUM/COUNT/AVG with few groups
        "agg_flags": "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS sum_cents, "
        "avg(l_quantity) AS avg_qty, count(*) AS n_lines "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        # MIN/MAX/COUNT(DISTINCT): maintained under deletes through aux state
        "agg_modes": "SELECT l_shipmode, min(l_quantity) AS min_qty, "
        "max(l_discount) AS max_discount, count(DISTINCT l_suppkey) AS n_suppliers, "
        "count(*) AS n_lines FROM lineitem GROUP BY l_shipmode",
    },
    lambda world, n: {
        "lineitem": world.lineitem_churn(round(AGG_DELTA_SHARE * n["lineitem"]))},
)

JOIN = Workload(
    "join_churn",
    ("orders", "customer", "nation"),
    {
        "join_nation_seg": "SELECT n_name, c_mktsegment, count(*) AS n_orders, "
        "sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name, c_mktsegment",
        # customer-preserving outer join: state is about |orders| rows
        "join_cust_orders": "SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice "
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey",
        # band join: each nation owns a 400-wide account-balance band
        "join_balance_band": "SELECT n_name, count(*) AS n_customers, "
        "sum(cast(round(c_acctbal * 100) AS BIGINT)) AS bal_cents "
        "FROM customer JOIN nation ON c_acctbal >= n_nationkey * 400 - 1000 "
        "AND c_acctbal < n_nationkey * 400 - 600 GROUP BY n_name",
    },
    lambda world, n: {
        "orders": world.orders_churn(round(JOIN_DELTA_SHARE * n["orders"])),
        "customer": world.customer_churn(max(1, round(JOIN_DELTA_SHARE * n["customer"]))),
    },
)

STREAM = Workload(
    "stream_store",
    ("orders", "customer"),
    {
        "stream_nation_seg": "SELECT c_nationkey, c_mktsegment, count(*) AS n_orders, "
        "sum(cast(round(o_totalprice * 100) AS BIGINT)) AS cents "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        "GROUP BY c_nationkey, c_mktsegment",
    },
    # one delta file; several files may land in one micro-batch
    lambda world, n: {"orders": world.orders_churn(
        round(JOIN_DELTA_SHARE * n["orders"]), base_rows_only=True)},
)

WORKLOADS = {w.name: w for w in (AGG, JOIN, STREAM)}


class OracleMismatch(Exception):
    """A maintained view differs from the from-scratch recompute."""


@dataclass
class Failure:
    workload: str
    op: str
    view: str
    exc: str
    message: str


@dataclass
class Result:
    workload: str
    attempted: dict = field(default_factory=dict)
    failures: list = field(default_factory=list)
    oracle: dict = field(default_factory=dict)
    e2e: dict = field(default_factory=dict)  # name -> (value, n, percentile)
    samples: dict = field(default_factory=dict)  # raw timings in ms, in run order
    layer: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)


class Run:
    """One benchmark run of one workload."""

    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool,
                 work: str, out_dir: str, sf: float | None = None) -> None:
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work, self.out_dir, self.sf = work, out_dir, sf or SF
        self.res = Result(wl.name)
        self.counter: probes.Py4JCounter | None = None
        self.tracer: probes.Tracer | None = None
        self.spark = None

    def run(self) -> Result:
        ctx = self.res.context
        ctx.update(seed=self.seed, sf=self.sf, trace=self.trace,
                   nproc=len(os.sched_getaffinity(0)), calib_start_s=probes.calib_sec())
        steal0, total0 = probes.cpu_times()
        self.world = World(self.sf, self.seed)
        try:
            self.start_spark()
            if self.wl is STREAM:
                self.stream()
            else:
                self.closed_loop()
            if self.tracer is not None:
                self.tracer.dump(os.path.join(
                    self.out_dir, f"trace-{self.wl.name}-seed{self.seed}.json"))
        except Exception as e:
            self.fail("run", "*", e)
        finally:
            self.stop_spark()
            steal1, total1 = probes.cpu_times()
            ctx["cpu_steal_share"] = round(
                (steal1 - steal0) / max(1, total1 - total0), 4)
            ctx["calib_end_s"] = probes.calib_sec()
        return self.res

    # -- bookkeeping ---------------------------------------------------------

    def attempt(self, op: str, view: str, fn):
        """Run ``fn``; on an exception record the failure and return None."""
        self.res.attempted[op] = self.res.attempted.get(op, 0) + 1
        try:
            return True, fn()
        except Exception as e:  # every failure is recorded and counted
            self.fail(op, view, e)
            return False, None

    def fail(self, op: str, view: str, e: BaseException) -> None:
        msg = str(e).strip().splitlines()[0][:300] if str(e).strip() else ""
        self.res.failures.append(Failure(self.wl.name, op, view, type(e).__name__, msg))
        print(f"FAILED {self.wl.name} {op} {view}: {type(e).__name__}: {msg}",
              file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def e2e(self, name: str, samples: list[float]) -> None:
        self.res.samples[name] = [round(x, 3) for x in samples]
        p50 = probes.median(samples)
        tail, pct = probes.tail(samples)
        self.res.e2e[f"{name}_p50_ms"] = (p50, len(samples), 50.0)
        self.res.e2e[f"{name}_tail_ms"] = (tail, len(samples), pct)

    # -- session -------------------------------------------------------------

    def start_spark(self) -> None:
        from pyspark.sql import SparkSession

        cpus = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        t0 = time.perf_counter()
        self.spark = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName(f"perfbench-{self.wl.name}")
            # a heap committed at start: without it peak RSS follows when the
            # JVM chose to grow its heap (agg_churn spread 0.13 over five seeds
            # against 0.02 with it); it still grows with what the run retains
            .config("spark.driver.memory", "1g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms1g -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
            .config("spark.local.dir", local)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(cpus))
            # With whole-stage codegen on, agg_churn's batch time settled at a
            # level that followed the seed (seed 11 at 1.0-1.3 s, seed 12 at
            # 1.7-2.2 s, in three runs each on a 4-core host), so over five
            # seeds the batch p50 spread 0.27-0.41.  Off, ten seeds spread
            # 0.14.  Expression codegen still compiles per query shape.
            .config("spark.sql.codegen.wholeStage", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            # the status store keeps every job of the run for the traced run
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
            # one source-log file per batch, so freshness can map files to batches
            .config("spark.sql.streaming.fileSource.log.compactInterval", "1000000")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.res.context.update(
            cpus=cpus,
            session_start_s=round(time.perf_counter() - t0, 3),
            pyspark=self.spark.version,
            java=self.spark._jvm.java.lang.System.getProperty("java.version"),
        )
        if self.trace:
            self.counter = probes.Py4JCounter(self.spark)
            # stream reads run beside the stream: count only their own thread
            self.tracer = probes.Tracer(self.counter, thread_only=self.wl is STREAM)

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for both."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        mx = self.spark._jvm.java.lang.management.ManagementFactory
        self.res.context.update(
            jvm_gc_s=sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans())
            / 1000,
            jvm_jit_s=mx.getCompilationMXBean().getTotalCompilationTime() / 1000,
        )

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
        finally:
            if self.counter is not None:
                self.counter.uninstall()
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None

    # -- shared phases -------------------------------------------------------

    def write_bases(self, world: World) -> dict[str, str]:
        paths = {}
        for t in self.wl.tables:
            paths[t] = os.path.join(self.work, f"{t}.parquet")
            pq.write_table(world.tables()[t].to_arrow(), paths[t])
        return paths

    def setup(self, paths: dict[str, str], make_engine):
        """SETUP_REPS times: fresh engine, register every table, create every
        view.  Returns the last engine; setup_s is the median rep."""
        from ivm_extension_spark import parse_view_sql

        spark = self.spark
        reps, creates, parses, rts = [], [], [], []
        eng = None
        for rep in range(SETUP_REPS):
            rt0 = self.counter.total() if self.counter else 0
            if self.counter:
                self.counter.active = True
            t0 = time.perf_counter()
            eng = make_engine(rep)
            for t, p in paths.items():
                eng.register_table(t, spark.read.parquet(p))
            create = 0.0
            for v, sql in self.wl.views.items():
                tc = time.perf_counter()
                eng.create_immv(v, sql=sql)
                create += time.perf_counter() - tc
            reps.append(time.perf_counter() - t0)
            creates.append(create)
            if self.counter:
                self.counter.active = False
                rts.append(self.counter.total() - rt0)
                tp = time.perf_counter()
                for v, sql in self.wl.views.items():
                    parse_view_sql(v, sql)
                parses.append(time.perf_counter() - tp)
        self.res.e2e["setup_s"] = (probes.median(reps), len(reps), 50.0)
        self.res.context["setup_reps_s"] = [round(r, 3) for r in reps]
        if self.trace:
            self.res.layer["engine.create_s"] = probes.median(creates)
            self.res.layer["plans.parse_ms"] = probes.median(parses) * 1000
            self.res.layer["py4j.rt_setup"] = probes.median(rts)
        return eng

    def check_views(self, eng, world: World) -> None:
        """The correctness gate: each view against DuckDB over the world."""
        tables = {t: world.tables()[t].to_arrow() for t in self.wl.tables}
        for v, sql in self.wl.views.items():
            def check(v=v, sql=sql):
                got = [tuple(r) for r in eng.read_view(v).collect()]
                why = diff(got, recompute(tables, sql))
                if why is not None:
                    raise OracleMismatch(f"view {v}: {why}")
                return len(got)

            ok, n = self.attempt("oracle", v, check)
            self.res.oracle[v] = f"ok ({n} rows)" if ok else "MISMATCH"
            print(f"oracle {self.wl.name} {v}: {self.res.oracle[v]}", file=sys.stderr)

    def spark_state(self) -> tuple[float, int]:
        return probes.storage_mb(self.spark), probes.temp_views(self.spark)

    def finish_layers(self, before: tuple[float, int], threads_max: int) -> None:
        storage, views = self.spark_state()
        self.res.layer["spark.storage_mb_growth"] = storage - before[0]
        self.res.layer["spark.temp_views_growth"] = views - before[1]
        self.res.layer["pin.threads_max"] = threads_max

    def span_self_times(self, names: list[str], per: str) -> None:
        """Median per ``per`` unit (batch id) of each span name's summed self
        time, as span.<name>.self_ms."""
        tr = self.tracer
        selfs = tr.self_times()
        sums: dict[str, dict] = {n: {} for n in names}
        for i, s in enumerate(tr.spans):
            if s.name in sums and s.batch is not None:
                sums[s.name][s.batch] = sums[s.name].get(s.batch, 0.0) + selfs[i]
        for n in names:
            self.res.layer[f"span.{n}.self_ms"] = probes.median(list(sums[n].values())) * 1000
        self.res.context["span_units"] = per

    # -- closed loop: agg_churn, join_churn -----------------------------------

    def closed_loop(self) -> None:
        from ivm_extension_spark import IVMEngine
        from pyspark.sql import types as T

        wl, spark = self.wl, self.spark
        world = self.world
        paths = self.write_bases(world)
        eng = self.setup(paths, lambda rep: IVMEngine(spark))
        schemas = {
            t: T.StructType(
                eng.table(t).schema.fields + [T.StructField(MULT_COL, T.BooleanType())]
            )
            for t in paths
        }
        views = list(wl.views)
        initial = {t: len(world.tables()[t].live_idx()) for t in paths}
        seq = itertools.count()

        def next_frames():
            i = next(seq)
            frames, rows = {}, 0
            for t, arrow in wl.churn(world, initial).items():
                p = os.path.join(self.work, f"delta-{i:05d}-{t}.parquet")
                pq.write_table(arrow, p)
                frames[t] = spark.read.schema(schemas[t]).parquet(p)
                rows += arrow.num_rows
            return frames, rows

        def one_batch(b: int, frames: dict, tr) -> None:
            where = ["*"]

            def run():
                with tr.span("batch", batch=b):
                    for t, df in frames.items():
                        where[0] = t
                        with tr.span("engine.register_delta", b, table=t):
                            eng.register_delta(t, df)
                    for v in views:
                        where[0] = v
                        with tr.span("engine.ivm_upsert", b, view=v):
                            eng.ivm_upsert(v)
                    where[0] = ",".join(views)
                    with tr.span("engine.merge_views", b):
                        eng.merge_views(views)
                    for t in frames:
                        where[0] = t
                        with tr.span("engine.apply_delta", b, table=t):
                            eng.apply_delta(t)

            self.res.attempted["batch"] = self.res.attempted.get("batch", 0) + 1
            try:
                run()
                return True
            except Exception as e:
                self.fail("batch", where[0], e)
                return False

        def read_round(b: int, tr) -> float | None:
            """Read every view once; the round's time in ms, None if a read
            failed."""
            t0 = time.perf_counter()
            ok_all = True
            with tr.span("reads", batch=b):
                for v in views:
                    with tr.span("engine.read_view", b, view=v):
                        ok, _ = self.attempt(
                            "read", v, lambda v=v: eng.read_view(v).collect())
                    ok_all = ok_all and ok
            return (time.perf_counter() - t0) * 1000 if ok_all else None

        null = probes.NullTracer()
        t0 = time.perf_counter()
        w = 0
        while w < WARMUP_BATCHES or time.perf_counter() - t0 < WARMUP_S:
            w += 1
            frames, _ = next_frames()
            one_batch(-w, frames, null)
            read_round(-w, null)
        self.res.context.update(warmup_s=round(time.perf_counter() - t0, 3), warmup_batches=w)

        before = self.spark_state() if self.trace else None
        batch_ms = {True: [], False: []}
        reads, fresh = [], []
        rows_done, secs_done = 0, 0.0
        threads_max, patch, merges = probes.pin_threads(), 0, 0
        b = 0
        deadline = time.perf_counter() + self.seconds
        while time.perf_counter() < deadline:
            traced = self.trace and b % 2 == 0
            tr = self.tracer if traced else null
            frames, rows = next_frames()
            if self.counter:
                self.counter.active = traced
            t0 = time.perf_counter()
            ok = one_batch(b, frames, tr)
            t1 = time.perf_counter()
            got = [read_round(b, tr) for _ in range(READ_ROUNDS)]
            if self.counter:
                self.counter.active = False
            if ok:
                batch_ms[traced].append((t1 - t0) * 1000)
                rows_done += rows
                secs_done += t1 - t0
                if got[0] is not None:
                    # the batch is visible once the first read round returns
                    fresh.append((t1 - t0) * 1000 + got[0])
            reads += [r for r in got if r is not None]
            if traced:
                threads_max = max(threads_max, probes.pin_threads())
                for v in views:
                    merges += 1
                    patch += eng.stats(v)["last_merge_strategy"] == "patch"
            b += 1

        self.e2e("batch", batch_ms[self.trace])
        self.res.e2e["delta_rows_per_s"] = (
            rows_done / secs_done if secs_done else 0.0, len(batch_ms[self.trace]), None)
        self.e2e("read", reads)
        self.e2e("fresh", fresh)
        self.res.e2e["peak_rss_mb"] = (probes.peak_rss_mb(), 1, None)
        self.res.context["batches"] = b

        if self.trace:
            self.finish_layers(before, threads_max)
            stats = [eng.stats(v) for v in views]
            self.res.layer["engine.state_rows"] = sum(s["state_rows"] or 0 for s in stats)
            self.res.layer["engine.aux_rows"] = sum(s["aux_rows"] or 0 for s in stats)
            self.res.layer["engine.patch_share"] = patch / merges if merges else 0.0
            self.res.layer["trace.overhead_ms"] = (
                probes.median(batch_ms[True]) - probes.median(batch_ms[False]))
            self.res.context["overhead_basis"] = (
                f"batch p50 traced (n={len(batch_ms[True])}) minus untraced "
                f"(n={len(batch_ms[False])})")
            self.closed_loop_layers()
        self.check_views(eng, world)

    def closed_loop_layers(self) -> None:
        tr = self.tracer
        jobs = probes.spark_jobs(self.spark)
        per = {"upsert": {}, "merge": {}, "fold": {}}
        key = {"engine.ivm_upsert": "upsert", "engine.merge_views": "merge",
               "engine.apply_delta": "fold"}
        batch_rt, read_rt = [], []
        jobs_n, stages_n, tasks_n, shuffle = [], [], [], []
        busy, wall = 0.0, 0.0
        for s in tr.spans:
            if s.batch is None or s.batch < 0:
                continue
            if s.name in key:
                d = per[key[s.name]]
                d[s.batch] = d.get(s.batch, 0.0) + (s.end - s.start)
            elif s.name == "batch":
                batch_rt.append(s.py4j)
                js = probes.jobs_in(jobs, s.start, s.end)
                s.attrs.update(jobs=len(js), stages=sum(j.stages for j in js),
                               tasks=sum(j.tasks for j in js),
                               shuffle_bytes=sum(j.shuffle_bytes for j in js))
                jobs_n.append(s.attrs["jobs"])
                stages_n.append(s.attrs["stages"])
                tasks_n.append(s.attrs["tasks"])
                shuffle.append(s.attrs["shuffle_bytes"])
                busy += probes.busy_seconds(js, s.start, s.end)
                wall += s.end - s.start
            elif s.name == "engine.read_view":
                read_rt.append(s.py4j)
        L = self.res.layer
        L["engine.upsert_ms"] = probes.median(list(per["upsert"].values())) * 1000
        L["engine.merge_ms"] = probes.median(list(per["merge"].values())) * 1000
        L["engine.fold_ms"] = probes.median(list(per["fold"].values())) * 1000
        L["py4j.rt_per_batch"] = probes.median(batch_rt)
        L["py4j.rt_per_read"] = probes.median(read_rt)
        L["spark.jobs_per_batch"] = probes.median(jobs_n)
        L["spark.stages_per_batch"] = probes.median(stages_n)
        L["spark.tasks_per_batch"] = probes.median(tasks_n)
        L["spark.shuffle_bytes_per_batch"] = probes.median(shuffle)
        L["spark.busy_share"] = busy / wall if wall else 0.0
        # the other leaf spans' self time is their duration, already in engine.*_ms
        self.span_self_times(
            ["batch", "engine.register_delta", "reads", "engine.read_view"], "batch")

    # -- open loop: stream_store ----------------------------------------------

    def stream(self) -> None:
        from ivm_extension_spark import IVMEngine
        from ivm_extension_spark.sources.lakehouse import LakehouseStore
        from ivm_extension_spark.streaming import StreamingViewMaintainer
        from pyspark.sql import types as T

        wl, spark, world = self.wl, self.spark, self.world
        (view,) = wl.views
        paths = self.write_bases(world)
        stores: list[LakehouseStore] = []

        def make_engine(rep: int):
            for old in stores:  # the previous rep's engine is dropped with it
                shutil.rmtree(old.root, ignore_errors=True)
            stores[:] = [LakehouseStore(spark, os.path.join(self.work, f"store-{rep}"),
                                        n_buckets=STORE_BUCKETS)]
            return IVMEngine(spark, state_store=stores[0])

        eng = self.setup(paths, make_engine)
        schema = T.StructType(
            eng.table("orders").schema.fields + [T.StructField(MULT_COL, T.BooleanType())]
        )
        src = os.path.join(self.work, "stream-src")
        ckpt = os.path.join(self.work, "stream-ckpt")
        os.makedirs(src)
        initial = {t: len(world.tables()[t].live_idx()) for t in paths}
        file_rows: dict[str, int] = {}

        def write_file(name: str) -> None:
            (arrow,) = wl.churn(world, initial).values()
            tmp = os.path.join(src, f".{name}.tmp")  # hidden: the source skips it
            pq.write_table(arrow, tmp)
            os.replace(tmp, os.path.join(src, name))
            file_rows[name] = arrow.num_rows

        maint = StreamingViewMaintainer(eng, view, "orders")
        query = maint.start(
            spark.readStream.schema(schema).parquet(src), ckpt, trigger_available_now=False
        )

        def drain(timeout: float) -> bool:
            """Wait until every written file is in a completed micro-batch.
            (The progress row counts cannot tell: foreachBatch runs several
            jobs over each batch and every run adds to them.)"""
            end = time.perf_counter() + timeout
            while time.perf_counter() < end:
                if query.exception() is not None or not query.isActive:
                    return False
                last = query.lastProgress
                if last is not None:
                    done = probes.log_offset(json.loads(last.json)["sources"][0]["endOffset"])
                    if set(file_rows) <= set(probes.source_log_files(ckpt, range(done + 1))):
                        return True
                time.sleep(0.1)
            return False

        due: dict[str, float] = {}
        late: list[float] = []
        reads: list[float] = []
        stop_gen = threading.Event()
        gen = None
        try:
            t0 = time.perf_counter()
            w = 0
            while w < WARMUP_BATCHES or time.perf_counter() - t0 < WARMUP_S:
                write_file(f"warm-{w}.parquet")
                w += 1
                if not drain(120):
                    raise RuntimeError("stream did not take the warm-up files")
            self.res.context.update(warmup_s=round(time.perf_counter() - t0, 3),
                                    warmup_batches=w)
            first_version = stores[0].current_version(view)
            before = self.spark_state() if self.trace else None
            # set after start: the stream's thread must not inherit the group
            spark.sparkContext.setJobGroup(READ_GROUP, "view reads")
            if self.counter:
                self.counter.active = True
            main_tid = threading.get_ident()
            rt_main0 = self.counter.of_thread(main_tid) if self.counter else 0
            rt_all0 = self.counter.total() if self.counter else 0
            start_wall = time.time()
            start = time.perf_counter()
            stop_at = start + self.seconds
            n_files = int(self.seconds / FILE_PERIOD_S)
            gen_error: list[BaseException] = []

            def generate():
                try:
                    for i in range(n_files):
                        if stop_gen.is_set():
                            return
                        at = start + i * FILE_PERIOD_S
                        time.sleep(max(0.0, at - time.perf_counter()))
                        name = f"d-{i:06d}.parquet"
                        due[name] = start_wall + i * FILE_PERIOD_S
                        write_file(name)
                        late.append((time.perf_counter() - at) * 1000)
                except BaseException as e:  # reported on the main thread
                    gen_error.append(e)

            gen = threading.Thread(target=generate, name="perfbench-loadgen")
            gen.start()
            j, threads_max = 0, probes.pin_threads()
            tr = self.tracer or probes.NullTracer()
            while True:
                at = start + j * READ_PERIOD_S
                if at >= stop_at:
                    break
                time.sleep(max(0.0, at - time.perf_counter()))
                traced = self.trace and j % 2 == 0
                if self.counter and not traced:
                    self.counter.muted.add(main_tid)
                r0 = time.perf_counter()
                with (tr if traced else probes.NullTracer()).span(
                        "engine.read_view", batch=j, view=view):
                    ok, _ = self.attempt("read", view,
                                         lambda: eng.read_view(view).collect())
                if ok:
                    reads.append(((time.perf_counter() - r0) * 1000, traced))
                if self.counter:
                    self.counter.muted.discard(main_tid)
                threads_max = max(threads_max, probes.pin_threads())
                j += 1
            gen.join(timeout=120)
            if gen.is_alive() or gen_error:
                raise RuntimeError(f"load generator failed: {gen_error}")
            drained = drain(120)
            end_wall = time.time()
            if self.counter:
                self.counter.active = False
                rt_main = self.counter.of_thread(main_tid) - rt_main0
                rt_stream = self.counter.total() - rt_all0 - rt_main
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            progress = [json.loads(p.json) for p in query.recentProgress]
        finally:
            stop_gen.set()
            if gen is not None:
                gen.join(timeout=60)
            query.stop()
        err = query.exception()
        if err is not None:
            self.res.attempted["stream_batch"] = self.res.attempted.get("stream_batch", 0) + 1
            self.fail("stream_batch", view, err)
        elif not drained:
            self.res.attempted["stream_batch"] = self.res.attempted.get("stream_batch", 0) + 1
            self.fail("stream_batch", view, TimeoutError("stream did not drain"))

        # micro-batches that committed measured files, and per-file freshness
        batches, fresh = [], []
        for p in progress:
            s = p["sources"][0]
            files = probes.source_log_files(
                ckpt, range(probes.log_offset(s.get("startOffset")) + 1,
                            probes.log_offset(s.get("endOffset")) + 1))
            measured = [f for f in files if f in due]
            if not measured:
                continue
            begin = probes.progress_epoch(p["timestamp"])
            end = begin + p["durationMs"]["triggerExecution"] / 1000
            batches.append((p, begin, end, len(files), sum(file_rows[f] for f in files)))
            fresh += [(end - due[f]) * 1000 for f in measured]
        self.res.attempted["stream_batch"] = (
            self.res.attempted.get("stream_batch", 0) + len(batches))

        trig = [p["durationMs"]["triggerExecution"] for p, *_ in batches]
        self.e2e("batch", trig)
        rows = sum(n for *_, n in batches)
        self.res.e2e["delta_rows_per_s"] = (
            rows / (sum(trig) / 1000) if trig else 0.0, len(trig), None)
        self.e2e("read", [ms for ms, traced in reads if traced == self.trace])
        self.e2e("fresh", fresh)
        self.res.e2e["peak_rss_mb"] = (probes.peak_rss_mb(), 1, None)
        self.res.context.update(files=len(due), micro_batches=len(batches))

        if self.trace:
            L = self.res.layer
            self.finish_layers(before, threads_max)
            st = eng.stats(view)
            L["engine.state_rows"] = st["state_rows"] or 0
            L["engine.aux_rows"] = st["aux_rows"] or 0
            L["engine.patch_share"] = float(st["last_merge_strategy"] == "patch")
            traced_r = [ms for ms, t in reads if t]
            plain_r = [ms for ms, t in reads if not t]
            L["trace.overhead_ms"] = probes.median(traced_r) - probes.median(plain_r)
            self.res.context["overhead_basis"] = (
                f"read p50 traced (n={len(traced_r)}) minus untraced (n={len(plain_r)})")
            L["py4j.rt_per_batch"] = rt_stream / len(batches) if batches else 0.0
            L["py4j.rt_per_read"] = probes.median(
                [s.py4j for s in self.tracer.spans if s.name == "engine.read_view"])
            jobs = [j for j in probes.spark_jobs(spark) if j.group != READ_GROUP]
            window = probes.jobs_in(jobs, start_wall, end_wall)
            nb = max(1, len(batches))
            L["spark.jobs_per_batch"] = len(window) / nb
            L["spark.stages_per_batch"] = sum(j.stages for j in window) / nb
            L["spark.tasks_per_batch"] = sum(j.tasks for j in window) / nb
            L["spark.shuffle_bytes_per_batch"] = sum(j.shuffle_bytes for j in window) / nb
            busy = sum(probes.busy_seconds(window, b, e) for _, b, e, *_ in batches)
            L["spark.busy_share"] = busy / (sum(trig) / 1000) if trig else 0.0
            lake = probes.lakehouse_stats(
                os.path.join(stores[0].root, view), STORE_BUCKETS, first_version)
            L["lakehouse.bytes_per_commit"] = lake["bytes_per_commit"]
            L["lakehouse.files_per_commit"] = lake["files_per_commit"]
            L["lakehouse.bucket_rewrite_share"] = lake["bucket_rewrite_share"]
            L["lakehouse.versions_live"] = lake["versions_live"]
            L["stream.addbatch_ms"] = probes.median(
                [p["durationMs"].get("addBatch", 0) for p, *_ in batches])
            L["stream.trigger_ms"] = probes.median(trig)
            L["stream.rows_per_batch"] = probes.median([n for *_, n in batches])
            L["stream.backlog_max_files"] = max((b[3] for b in batches), default=0)
            L["loadgen.late_ms_max"] = max(late, default=0.0)
            for i, (p, begin, end, *_) in enumerate(batches):
                root = self.tracer.add("stream.trigger", begin, end, None, i)
                at = begin
                for part in STREAM_PHASES:
                    d = p["durationMs"].get(part, 0) / 1000
                    self.tracer.add(f"stream.{part}", at, at + d, root, i)
                    at += d
            self.span_self_times(
                ["stream.trigger", *[f"stream.{p}" for p in STREAM_PHASES if p != "addBatch"],
                 "engine.read_view"], "micro-batch (stream.*) or read (engine.read_view)")
        self.check_views(eng, world)


