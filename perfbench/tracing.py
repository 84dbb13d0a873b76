"""Tracing for the benchmark's traced run, kept entirely outside the
engine: spans around each public layer call, a Spark job group per
span, per-group stage metrics read from Spark's status store, and a
py4j round-trip counter on the gateway client.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Optional


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    end: float = 0.0
    parent: Optional[str] = None
    group: Optional[str] = None
    py4j_calls: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Py4jCounter:
    """Counts commands sent over the gateway client while installed.
    Installed per span, so untraced work pays nothing."""

    def __init__(self, sc):
        self._client = sc._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        send = type(self._client).send_command
        client = self._client

        def counting(*args, **kwargs):
            self.calls += 1
            return send(client, *args, **kwargs)

        client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self._client.send_command


@dataclass
class GroupMetrics:
    """Spark-side work of one job group, from the status store."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    task_run_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    job_intervals: list = field(default_factory=list)

    def add(self, other: "GroupMetrics") -> "GroupMetrics":
        out = GroupMetrics()
        for k in asdict(self):
            setattr(out, k, getattr(self, k) + getattr(other, k))
        return out


def uncovered_seconds(start: float, end: float, intervals) -> float:
    """Part of [start, end] (epoch seconds) covered by no interval."""
    covered = 0.0
    cur = start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= cur:
            continue
        covered += b - max(a, cur)
        cur = b
    return max(0.0, (end - start) - covered)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.spans: list[Span] = []
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, op_id: int, parent: Optional[str] = None):
        """Time one layer call under its own job group, counting py4j
        round trips made inside it."""
        group = f"bench:{op_id}:{name}"
        self.sc.setJobGroup(group, name, False)
        sp = Span(name=name, op_id=op_id, start=0.0, parent=parent, group=group)
        try:
            with Py4jCounter(self.sc) as counter:
                sp.start = time.time()
                yield sp
                sp.end = time.time()
            sp.py4j_calls = counter.calls
        finally:
            self.sc._jsc.clearJobGroup()
            self.spans.append(sp)

    def group_metrics(self, group: str) -> GroupMetrics:
        """Sum stage metrics over the jobs of ``group``. A stage is
        counted once, for the first group that lists it: a shuffle
        stage a later job reuses keeps its id and its metrics."""
        self._jsc.listenerBus().waitUntilEmpty()
        m = GroupMetrics()
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(job_id)
            m.jobs += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                m.job_intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            ids = jd.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                m.stages += 1
                m.tasks += sd.numTasks()
                m.cpu_s += sd.executorCpuTime() / 1e9
                m.task_run_s += sd.executorRunTime() / 1e3
                m.input_bytes += sd.inputBytes()
                m.input_rows += sd.inputRecords()
                m.shuffle_read_bytes += sd.shuffleReadBytes()
                m.shuffle_write_bytes += sd.shuffleWriteBytes()
                m.output_bytes += sd.outputBytes()
        return m

    def span_metrics(self, sp: Span) -> GroupMetrics:
        m = self.group_metrics(sp.group)
        sp.counts = {k: v for k, v in asdict(m).items() if k != "job_intervals"}
        sp.counts["driver_s"] = uncovered_seconds(sp.start, sp.end, m.job_intervals)
        return m

    def storage(self) -> tuple[int, float]:
        """(cached RDD count, cached MiB in memory and on disk)."""
        infos = self._jsc.getRDDStorageInfo()
        mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return len(infos), mb

    def self_times(self, op_ids) -> dict[str, list[float]]:
        """Per layer, per op of ``op_ids``: span time minus the part its
        child spans cover."""
        by_op: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.op_id in op_ids:
                by_op.setdefault(sp.op_id, []).append(sp)
        out: dict[str, list[float]] = {}
        for spans in by_op.values():
            per_layer: dict[str, float] = {}
            for sp in spans:
                kids = [(k.start, k.end) for k in spans if k.parent == sp.name]
                busy = uncovered_seconds(sp.start, sp.end, kids)
                per_layer[sp.layer] = per_layer.get(sp.layer, 0.0) + busy
            for layer, s in per_layer.items():
                out.setdefault(layer, []).append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def scan_partitions_read(df) -> int:
    """Sum of the ``numPartitions`` (partitions read) metric over the
    file scans of an executed DataFrame's physical plan."""
    total = 0

    def walk(node):
        nonlocal total
        cls = node.getClass().getSimpleName()
        if "AdaptiveSparkPlan" in cls:
            walk(node.executedPlan())
            return
        if "QueryStage" in cls:
            walk(node.plan())
            return
        if cls == "FileSourceScanExec":
            metric = node.metrics().get("numPartitions")
            if metric.isDefined():
                total += metric.get().value()
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total
