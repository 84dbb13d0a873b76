"""The benchmark's workloads: each generates its inputs from the seed,
sets the engine up, warms it, runs a closed loop of operations through
the public API for a fixed wall time, then checks every measured
operation's output against DuckDB.

Every operation carries a label: the kind of request it is (a new or a
repeated point-in-time request, a materialization, a lookup, one named
registry query). Each operation's wall time and the CPU time the whole
process tree (this process, the JVM, Spark's Python workers) spent on
it are recorded; the gated figures are built per label from the CPU
times, so they do not depend on how often each label occurs in a run.

In a traced run every other operation of each kind runs under the
tracer (spans, job groups, status-store metrics, py4j counts); the
untraced ones in between give the same-window baseline for
``trace.overhead_frac``.
"""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Any, Callable, Optional

import numpy as np
import pandas as pd

import gen
import stats
import tables
from reference import Oracle, Reference, lookup_reference, same, same_rows
from tracing import GroupMetrics, Span, Tracer, scan_partitions_read

from feast_hive_spark import ckpt, registry, sinks
from feast_hive_spark.plans import memo
from feast_hive_spark.plans.pit import FeatureView
from feast_hive_spark.sources.source import ParquetSource
from feast_hive_spark.sources.tables import register_views
from feast_hive_spark.store import SparkOfflineStore, SparkOfflineStoreConfig

import feast_hive_spark.registry_analytics  # noqa: F401  (registers queries)
import feast_hive_spark.registry_corpus  # noqa: F401
import feast_hive_spark.registry_ext  # noqa: F401
import feast_hive_spark.registry_rel  # noqa: F401

ENTITY_VIEW = "bench_entities"

PIT_COLUMNS = {
    "user_id": "int",
    "event_timestamp": "ts",
    "user_stats__clicks": "int",
    "user_stats__spend": "float",
    "user_profile__score": "float",
    "user_profile__tier": "int",
}
ONLINE_COLUMNS = {
    "user_id": "int",
    "clicks": "int",
    "spend": "float",
    "event_ts": "ts",
    "created_ts": "ts",
}


@dataclass
class Op:
    """One measured operation and what its check needs."""

    op_id: int
    kind: str
    label: str = ""
    seconds: float = 0.0
    cpu_s: float = 0.0
    phases: dict = field(default_factory=dict)
    traced: bool = False
    measured: bool = True
    error: Optional[str] = None
    check: Optional[Callable[[], bool]] = None
    ok: Optional[bool] = None
    layer: dict = field(default_factory=dict)


class Run:
    """State shared by the workloads: session, tracer, measured
    operations."""

    def __init__(self, cfg: dict, name: str, seed: int, seconds: float, trace: bool, work: str, cpus: int):
        self.data = cfg["data"]
        self.params = cfg["workloads"][name]
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.store_cfg = SparkOfflineStoreConfig(master=f"local[{cpus}]")
        self.spark = None
        self.tracer: Optional[Tracer] = None
        self.ops: list[Op] = []
        self.extra: dict[str, Any] = {}
        self._next_op = 0
        self._measured_by_label: dict[str, int] = {}

    # -- set-up --------------------------------------------------------
    def setup(self, prepare: Callable[[Any], None]) -> None:
        """Start the session, on the JVM this starts, and ``prepare`` it
        (source validation, view registration): the run's one cold
        set-up, ``setup_s``; the start alone is ``session.start_s``."""
        t0 = time.perf_counter()
        self.spark = self.store_cfg.get_spark()
        t1 = time.perf_counter()
        prepare(self.spark)
        self.extra["setup_s"] = time.perf_counter() - t0
        self.extra["session_start_s"] = t1 - t0
        if self.trace:
            self.tracer = Tracer(self.spark)

    # -- op plumbing ---------------------------------------------------
    def run_op(self, kind: str, body: Callable[[Op], None], measured: bool, label: str = "", trace: Optional[bool] = None) -> Op:
        """Run one operation, labelled ``label`` (default: its kind).
        In a traced run, ``trace`` says whether this one is traced; by
        default every other measured op of each label is, and no
        unmeasured one."""
        op = Op(op_id=self._next_op, kind=kind, label=label or kind, measured=measured)
        self._next_op += 1
        if trace is None and measured:
            seen = self._measured_by_label.get(op.label, 0)
            self._measured_by_label[op.label] = seen + 1
            trace = seen % 2 == 1
        op.traced = self.trace and bool(trace)
        c0 = stats.tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            body(op)
        except Exception as e:  # an engine failure is a failed op, not a crash
            op.error = f"{type(e).__name__}: {e}"[:500]
        op.seconds = time.perf_counter() - t0
        # this process, the JVM and Spark's Python workers
        op.cpu_s = stats.tree_cpu_seconds(os.getpid()) - c0
        if op.traced:
            self.tracer.spans.append(
                Span("bench.op", op.op_id, w0, w0 + op.seconds)
            )
            self.collect_layers(op)
        if measured:
            self.ops.append(op)
        return op

    def collect_layers(self, op: Op) -> None:
        """Status-store metrics for each traced span of ``op``."""
        total = GroupMetrics()
        for sp in [v for v in op.layer.values() if isinstance(v, Span)]:
            total = total.add(self.tracer.span_metrics(sp))
        op.layer["total"] = total
        op.layer["cached"] = self.tracer.storage()

    def timed(self, op: Op, phase: str, name: str, fn):
        """Run one layer call; on a traced op, under its own span."""
        t0 = time.perf_counter()
        if op.traced:
            with self.tracer.span(name, op.op_id, parent="bench.op") as sp:
                out = fn()
            op.layer[name] = sp
        else:
            out = fn()
        op.phases[phase] = time.perf_counter() - t0
        return out

    def loop(self, cycle: int, step: Callable[[bool], None]) -> None:
        """``warmup_cycles`` unmeasured cycles of ``cycle`` steps, then
        whole measured cycles until ``seconds`` have passed, so every
        operation label of the cycle is measured equally often. On a
        workload with an idle gap, the warm-up and each measured step
        are followed by one. A
        traced run measures at least two cycles, so every label has a
        traced and an untraced operation."""
        t0 = time.perf_counter()
        for _ in range(self.params["warmup_cycles"] * cycle):
            step(False)
        self.quiesce()
        self.extra["warmup_s"] = time.perf_counter() - t0
        cpu0 = stats.tree_cpu_seconds(os.getpid())
        steal0 = stats.steal_ticks()
        deadline = time.perf_counter() + self.seconds
        t0 = time.perf_counter()
        steps = 0
        min_steps = 2 * cycle if self.trace else 0
        while time.perf_counter() < deadline or steps % cycle or steps < min_steps:
            step(True)
            steps += 1
            self.quiesce()
        self.extra["measure_wall_s"] = time.perf_counter() - t0
        self.extra["measure_cpu_s"] = stats.tree_cpu_seconds(os.getpid()) - cpu0
        steal1 = stats.steal_ticks()
        self.extra["steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    def quiesce(self, limit: float = 3.0, tick: float = 0.1, busy: float = 0.2) -> None:
        """On a workload with ``idle_gap``, wait after an operation, for
        at most ``limit`` seconds, until this process, the JVM and its
        workers together use less than ``busy`` of one CPU over a
        ``tick``. Background work an operation leaves behind (JIT
        compilation, garbage collection, cleanup) then finishes in the
        gap instead of being charged to the next operation's CPU time;
        its CPU is reported on its own (``quiet_cpu_s``)."""
        if not self.params.get("idle_gap"):
            return
        t0 = time.perf_counter()
        c0 = c = stats.tree_cpu_seconds(os.getpid())
        while time.perf_counter() - t0 < limit:
            time.sleep(tick)
            c1 = stats.tree_cpu_seconds(os.getpid())
            if c1 - c < busy * tick:
                break
            c = c1
        self.extra["quiet_s"] = self.extra.get("quiet_s", 0.0) + time.perf_counter() - t0
        self.extra["quiet_cpu_s"] = self.extra.get("quiet_cpu_s", 0.0) + c1 - c0

    def check_all(self) -> None:
        t0 = time.perf_counter()
        for op in self.ops:
            if op.error is None and op.check is not None:
                try:
                    op.ok = bool(op.check())
                except Exception as e:  # a result the check cannot read is wrong
                    op.error = f"check: {type(e).__name__}: {e}"[:500]
                    op.ok = False
                op.check = None
        self.extra["duckdb_ref_s"] = time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and the gateway JVM and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = gateway.proc
        gateway.shutdown()
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


# -- point-in-time and online workloads ------------------------------------


class FeastData:
    """The two generated feature tables, their sources and views."""

    def __init__(self, run: Run):
        d = run.data
        self.sizes = gen.Sizes(
            users=d["users"],
            stats_rows=d["user_stats"]["rows"],
            profile_rows=d["user_profile"]["rows"],
            zipf_a=d["key_zipf_a"],
        )
        self.keys = gen.KeyDraw(run.seed, self.sizes)
        self.paths = gen.write_feature_tables(run.seed, run.work, self.sizes, self.keys)
        self.entity_path: Optional[str] = None
        self.stats_src = ParquetSource(
            self.paths["stats"],
            event_timestamp_column="event_ts",
            created_timestamp_column="created_ts",
        )
        self.profile_src = ParquetSource(
            self.paths["profile"], event_timestamp_column="event_ts"
        )
        self.fvs = [
            FeatureView(
                "user_stats",
                self.stats_src,
                ["user_id"],
                d["user_stats"]["features"],
                ttl_seconds=d["user_stats"]["ttl_days"] * 86_400,
            ),
            FeatureView(
                "user_profile",
                self.profile_src,
                ["user_id"],
                d["user_profile"]["features"],
                ttl_seconds=d["user_profile"]["ttl_days"] * 86_400,
            ),
        ]
        self.ref = Reference(
            self.paths["stats"],
            self.paths["profile"],
            d["user_stats"]["ttl_days"] * 86_400,
        )

    def prepare(self, spark) -> None:
        """Set-up work on a new session: register the entity table and
        validate both sources."""
        if self.entity_path:
            spark.read.parquet(self.entity_path).createOrReplaceTempView(ENTITY_VIEW)
        for src in (self.stats_src, self.profile_src):
            src.validate(spark)


class Retrievals:
    """Point-in-time retrieval operations, with the plan-reuse
    bookkeeping: which requests repeat an earlier one, and whether the
    job's ``to_spark_df()`` then returned an already-returned plan.

    A request repeats when an equal one was sent earlier in the run."""

    def __init__(self, run: Run, data: FeastData):
        self.run = run
        self.data = data
        self.seen_requests: set = set()
        self.returned_plans: dict[int, Any] = {}
        self.reuse: dict[str, list[int]] = {}  # kind -> [requests, repeats, reused]

    def retrieve(self, op: Op, entity, request_key: str, kind: str, expected: Callable[[], pd.DataFrame]) -> None:
        """One request of ``kind`` ("sql", "pandas" or "batch"); a batch
        is fetched as Arrow, the rest as pandas."""
        run, data = self.run, self.data
        repeat = request_key in self.seen_requests
        self.seen_requests.add(request_key)
        arrow = kind == "batch"
        job = run.timed(
            op,
            "submit",
            "pit.submit",
            lambda: SparkOfflineStore.get_historical_features(
                run.store_cfg, data.fvs, entity, full_feature_names=True
            ),
        )
        plan = run.timed(op, "build", "pit.build", job.to_spark_df)
        fetch = job.to_arrow if arrow else job.to_df
        out = run.timed(op, "exec_fetch", "retrieval.exec_fetch", fetch)
        reused = id(plan) in self.returned_plans
        self.returned_plans[id(plan)] = plan
        if op.measured:
            counts = self.reuse.setdefault(kind, [0, 0, 0])
            counts[0] += 1
            counts[1] += repeat
            counts[2] += repeat and reused
        op.layer["result_bytes"] = (
            out.nbytes if arrow else int(out.memory_usage(deep=True).sum())
        )
        op.check = lambda: same(out, expected(), PIT_COLUMNS)


class FeastMix:
    """A synthetic mix of what the Feast offline store serves, one
    client: training-set retrievals (large whole-history entity frames
    fetched as Arrow), small point-in-time requests fetched as pandas
    (each sent once new, then twice again), a materialization of the
    online snapshot, and point lookups against it, in a fixed cycle of
    operation types."""

    def __init__(self, run: Run):
        self.run = run
        p = run.params
        self.data = FeastData(run)
        self.ref = self.data.ref
        self.pit = Retrievals(run, self.data)
        self.batch_rng = gen.rng_for(run.seed, "batch")
        self.data.entity_path = gen.write_entity_table(
            run.seed, run.work, self.data.keys, p["sql_pool"], tuple(p["sql_rows"])
        )
        self.rng = gen.rng_for(run.seed, "serving")
        self.groups = self.rng.permutation(p["sql_pool"])
        self.new_count = 0
        self.last_new = None
        self.lookup_rng = gen.rng_for(run.seed, "lookup")
        self._sql_expected: dict[int, pd.DataFrame] = {}
        self._latest: dict = {}
        self.snap = os.path.join(run.work, "online")
        self.snapshots: list[dict] = []
        self.materializations = 0
        self.window = None
        self.step_no = 0
        lo, _ = gen.history_bounds_us()
        self.start0 = pd.Timestamp(lo, unit="us").to_pydatetime()

    def prepare(self, spark) -> None:
        self.data.prepare(spark)

    @property
    def cycle(self) -> int:
        return len(self.run.params["pattern"])

    def step(self, measured: bool) -> None:
        pattern = self.run.params["pattern"]
        kind = pattern[self.step_no % len(pattern)]
        self.step_no += 1
        if kind == "materialize":
            op = self.run.run_op("materialize", self.materialize, measured)
            if op.error is None and measured:
                self.capture(op)
        elif kind == "lookup":
            keys = self.data.keys.draw(self.lookup_rng, self.run.params["lookup_keys"])
            self.run.run_op("lookup", lambda o: self.lookup(o, keys), measured)
        elif kind == "batch":
            self.batch(measured)
        elif kind == "new":
            self.new_request(measured)
        else:
            self.repeat_request(measured)

    # -- training-set requests --------------------------------------------
    def batch(self, measured: bool) -> None:
        lo, hi = gen.history_bounds_us()
        pdf = gen.entity_frame(
            self.data.keys, self.batch_rng, self.run.params["batch_rows"], lo, hi
        )
        key = gen.frame_digest(pdf)
        self.run.run_op(
            "batch",
            lambda op: self.pit.retrieve(op, pdf, key, "batch", lambda: self.ref.pit(pdf)),
            measured,
        )

    # -- point-in-time requests ------------------------------------------
    def sql_expected(self, grp: int) -> pd.DataFrame:
        if grp not in self._sql_expected:
            ent = self.ref.con.execute(
                f"SELECT user_id, event_timestamp FROM read_parquet('{self.data.entity_path}') "
                "WHERE grp = ?",
                [grp],
            ).df()
            self._sql_expected[grp] = self.ref.pit(ent)
        return self._sql_expected[grp]

    def new_request(self, measured: bool) -> None:
        """A small request not sent before in the run: alternately the
        SQL query for the next entity group (in a seeded order) and a
        fresh pandas frame over a narrow time window."""
        run, p = self.run, self.run.params
        n = self.new_count
        self.new_count += 1
        if n % 2 == 0:
            grp = int(self.groups[(n // 2) % len(self.groups)])
            query = f"SELECT user_id, event_timestamp FROM {ENTITY_VIEW} WHERE grp = {grp}"
            request = (query, query, "sql", lambda: self.sql_expected(grp))
        else:
            lo, hi = gen.narrow_window(self.rng, p["window_hours"])
            rows = self.rng.integers(p["pandas_rows"][0], p["pandas_rows"][1] + 1)
            pdf = gen.entity_frame(self.data.keys, self.rng, int(rows), lo, hi)
            request = (pdf, gen.frame_digest(pdf), "pandas", lambda: self.ref.pit(pdf))
        self.last_new = request
        run.run_op(
            "retrieval",
            lambda op: self.pit.retrieve(op, *request),
            measured,
            label="retrieval_new",
        )

    def repeat_request(self, measured: bool) -> None:
        """The last new small request, sent again (a pandas frame as an
        equal copy, as a client re-sending it would)."""
        entity, key, kind, expected = self.last_new
        if kind == "pandas":
            entity = entity.copy()
        self.run.run_op(
            "retrieval",
            lambda op: self.pit.retrieve(op, entity, key, kind, expected),
            measured,
            label="retrieval_repeat",
        )

    # -- online snapshot ---------------------------------------------------
    def latest(self, window) -> pd.DataFrame:
        if window not in self._latest:
            self._latest[window] = self.ref.latest(*window)
        return self._latest[window]

    def materialize(self, op: Op) -> None:
        run, p = self.run, self.run.params
        offset = (self.materializations * p["window_step_days"]) % (
            gen.HISTORY_DAYS - p["window_days"] + 1
        )
        start = self.start0 + timedelta(days=offset)
        window = (start, start + timedelta(days=p["window_days"]))
        self.materializations += 1
        run.timed(
            op,
            "materialize",
            "sinks.materialize",
            lambda: sinks.materialize_online(
                self.data.stats_src.to_df(run.spark),
                self.snap,
                ["user_id"],
                run.data["user_stats"]["features"],
                "event_ts",
                "created_ts",
                window[0],
                window[1],
                n_buckets=p["buckets"],
            ),
        )
        self.window = window

    def capture(self, op: Op) -> None:
        """Read the snapshot just written (the next materialization
        overwrites it) and note its size; outside the timed op."""
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(self.snap)
            for f in fs
            if f.endswith(".parquet")
        ]
        held = self.ref.snapshot(self.snap)
        window = self.window
        nbytes = sum(os.path.getsize(f) for f in files)
        self.snapshots.append({"rows": len(held), "bytes": nbytes, "files": len(files)})
        op.check = lambda: same(held, self.latest(window), ONLINE_COLUMNS)

    def lookup(self, op: Op, keys: np.ndarray) -> None:
        run, p = self.run, self.run.params
        window = self.window
        df = run.timed(
            op,
            "lookup_build",
            "sinks.lookup_build",
            lambda: sinks.read_online(
                run.spark,
                self.snap,
                ["user_id"],
                [(int(k),) for k in keys],
                n_buckets=p["buckets"],
            ),
        )
        rows = run.timed(op, "lookup_exec", "sinks.lookup_exec", df.collect)
        if op.traced:
            op.layer["buckets_touched"] = scan_partitions_read(df)
        op.check = lambda: same(
            rows, lookup_reference(self.latest(window), keys), ONLINE_COLUMNS
        )

    def finish(self) -> None:
        self.ref.close()


# -- registry workload -----------------------------------------------------


class RegistryPass:
    """Cold passes over a fixed slice of registry queries on warehouse
    tables generated from a fixed seed. Each pass starts on a fresh
    ``newSession()`` after the engine's plan caches, Spark's table
    cache and the engine's checkpoints are dropped, so every query pays
    its full build; the run's seed fixes the query order. Each query's
    result is checked against its DuckDB oracle SQL."""

    def __init__(self, run: Run):
        self.run = run
        p = run.params
        self.sf_dir = tables.write_tables(
            p["tables_seed"], os.path.join(run.work, "warehouse"), p["tables"]
        )
        self.family = dict(p["queries"])
        self.order = list(gen.rng_for(run.seed, "registry").permutation(sorted(self.family)))
        self.oracle = Oracle(self.sf_dir)
        self.pos = 0
        self.passes = 0
        self.session = None
        # query -> build span of the first (warm-up) pass, traced runs only
        self.first_jobs: dict[str, Span] = {}

    def prepare(self, spark) -> None:
        register_views(spark, self.sf_dir)

    @property
    def cycle(self) -> int:
        return 1 + len(self.order)

    def step(self, measured: bool) -> None:
        """Step 0 of a pass opens its session; steps 1.. run the
        queries. In a traced run the whole first pass is traced, for
        its build-job counts; after it every other step is, alternating
        between passes, so each label has traced and untraced samples."""
        run = self.run
        pos = self.pos
        self.pos = (pos + 1) % self.cycle
        if pos == 0:
            self.passes += 1
        trace = self.passes == 1 or (pos + self.passes) % 2 == 1
        # drop every cache that could hand a build its result, then the
        # checkpoints (released last: they cannot be recomputed); cached
        # tables are shared by all sessions of the app. Done before
        # every query, not once a pass, so no query reuses what an
        # earlier one in the pass left behind, and the order of the
        # queries does not change what each one costs.
        registry.clear_prepared()
        memo.clear()
        run.spark.catalog.clearCache()
        ckpt.release(run.spark)
        if pos == 0:
            run.run_op("session", self.open_session, measured, trace=trace)
        else:
            name = self.order[pos - 1]
            run.run_op("query", lambda op: self.query(op, name), measured, label=name, trace=trace)

    def open_session(self, op: Op) -> None:
        """A new session with the warehouse views registered."""
        run = self.run

        def open_():
            self.session = run.spark.newSession()
            register_views(self.session, self.sf_dir)

        run.timed(op, "session", "registry.session", open_)

    def query(self, op: Op, name: str) -> None:
        run = self.run
        fn = registry.REGISTRY[name][0]
        df = run.timed(
            op, "build", "registry.build", lambda: fn(self.session, self.sf_dir)
        )
        rows = run.timed(op, "exec", "registry.exec", df.collect)
        op.layer["family"] = self.family[name]
        if op.traced and not op.measured:
            # its job counts are filled in once the op returns
            self.first_jobs[name] = op.layer["registry.build"]
        columns = df.columns
        op.check = lambda: same_rows(rows, columns, self.oracle.result(name))

    def finish(self) -> None:
        self.oracle.close()


WORKLOADS = {
    "feast_mix": FeastMix,
    "registry": RegistryPass,
}
