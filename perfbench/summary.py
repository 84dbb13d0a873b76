"""Turns a finished run into the detail line and the result line."""

from __future__ import annotations

import json
import math
import os

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def metric_units(section: str) -> dict:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    metrics; the result line carries exactly these."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def peak_rss(jvm_pid: int) -> float:
    return stats.self_peak_rss_mb() + stats.peak_rss_mb(jvm_pid)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _med(values) -> float:
    values = [v for v in values if v is not None]
    return stats.median(values) if values else 0.0


def _gmean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def by_label(ops, attr: str = "seconds") -> dict[str, list[float]]:
    """label -> each op's ``attr``: wall ``seconds`` or CPU ``cpu_s``."""
    out: dict[str, list[float]] = {}
    for o in ops:
        out.setdefault(o.label, []).append(getattr(o, attr))
    return out


def kind_p50_gmean(ops, attr: str = "seconds") -> float:
    """Geometric mean, over the operation labels, of each label's
    median: every label weighs the same however often it ran."""
    return _gmean([stats.median(v) for v in by_label(ops, attr).values()])


def kind_p50_sum(ops, attr: str = "seconds") -> float:
    """Sum, over the operation labels, of each label's median: the cost
    of one operation of each label (on registry, one pass)."""
    return sum(stats.median(v) for v in by_label(ops, attr).values())


def summarize(run, wl, rss: float) -> tuple[dict, dict]:
    ops = run.ops
    failed = sum(1 for o in ops if o.error is not None or o.ok is False)
    good = [o for o in ops if o.error is None and o.ok is not False]
    untraced = [o for o in good if not o.traced]
    wall = run.extra["measure_wall_s"]

    detail = {
        "workload": run.name,
        "seed": run.seed,
        "attempted": len(ops),
        "failed": failed,
        "errors": sorted({o.error for o in ops if o.error})[:5],
        "ops_failed_frac": _ratio(failed, len(ops)),
        "setup_s": run.extra["setup_s"],
        "session_start_s": run.extra["session_start_s"],
        "peak_rss_mb": rss,
        "measure_wall_s": wall,
        "run_parts_s": {
            k: run.extra.get(k) for k in ("inputs_s", "warmup_s", "duckdb_ref_s", "shutdown_s")
        },
        "ops_per_s": _ratio(len(good), wall),
        "measure_cpu_s": run.extra["measure_cpu_s"],
        "steal_frac": run.extra["steal_frac"],
        "quiet_s": run.extra.get("quiet_s"),
        "quiet_cpu_s": run.extra.get("quiet_cpu_s"),
        "cpu_s_per_op": _ratio(run.extra["measure_cpu_s"], len(ops)),
        "duckdb_ref_s": run.extra["duckdb_ref_s"],
        "kind_p50_gmean_s": kind_p50_gmean(untraced),
        "kind_p50_sum_s": kind_p50_sum(untraced),
        "kind_cpu_p50_gmean_s": kind_p50_gmean(untraced, "cpu_s"),
        "kind_cpu_p50_sum_s": kind_p50_sum(untraced, "cpu_s"),
        "op_seconds": [round(o.seconds, 4) for o in ops],
        "op_cpu_s": [round(o.cpu_s, 2) for o in ops],
        "op_labels": [o.label for o in ops],
        "p50_s": {k: stats.median(v) for k, v in by_label(untraced).items()},
        "cpu_p50_s": {k: stats.median(v) for k, v in by_label(untraced, "cpu_s").items()},
    }
    kinds: dict[str, list[float]] = {}
    for o in untraced:
        kinds.setdefault(o.kind, []).append(o.seconds)
    for kind, values in kinds.items():
        detail[f"{kind}_p50_s"] = stats.median(values)
        detail[f"{kind}_tail"] = stats.tail(values)
        detail[f"{kind}_count"] = len(values)
    retrievals = [o for o in untraced if o.kind in ("retrieval", "batch")]
    if retrievals:
        detail["retrievals_per_s"] = _ratio(
            sum(o.kind in ("retrieval", "batch") for o in ops), wall
        )
        detail["entity_rows"] = {
            "batch": run.params["batch_rows"], "retrieval": run.params["pandas_rows"]
        }
        detail["phase_p50_s"] = {
            label: {
                ph: _med([o.phases.get(ph) for o in retrievals if o.label == label])
                for ph in ("submit", "build", "exec_fetch")
            }
            for label in sorted({o.label for o in retrievals})
        }
        detail["plan_reuse"] = {
            k: {"requests": v[0], "repeats": v[1], "reused": v[2]}
            for k, v in wl.pit.reuse.items()
        }
    snapshots = getattr(wl, "snapshots", [])
    if snapshots:
        detail["online_bytes_per_row"] = _ratio(
            sum(s["bytes"] for s in snapshots), sum(s["rows"] for s in snapshots)
        )
    detail["cycles_measured"] = len(ops) / wl.cycle

    if run.trace:
        metrics = per_layer(run, wl, untraced)
    else:
        metrics = {
            k: {"value": detail[k], "unit": u}
            for k, u in metric_units("end_to_end").items()
        }
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }
    return detail, result


def per_layer(run, wl, untraced) -> dict:
    """Per-layer metrics from the traced operations; a layer the
    workload never calls reads 0."""
    units = metric_units("per_layer")
    traced = [o for o in run.ops if o.traced and o.error is None]
    v = {k: 0.0 for k in units}
    v["session.start_s"] = run.extra["session_start_s"]
    v["control.duckdb_ref_s"] = run.extra["duckdb_ref_s"]

    def spans(name, ops=traced):
        return [o.layer[name] for o in ops if name in o.layer]

    def secs(name, ops=traced):
        return _med([sp.seconds for sp in spans(name, ops)])

    def count(name, key, ops=traced):
        return _med([sp.counts.get(key) for sp in spans(name, ops)])

    v["sources.scan_bytes"] = _med([o.layer["total"].input_bytes for o in traced])
    v["sources.scan_rows"] = _med([o.layer["total"].input_rows for o in traced])

    # the full small-request path; repeats are the plan-reuse path
    pit = [o for o in traced if o.label == "retrieval_new"]
    repeats = [o for o in traced if o.label == "retrieval_repeat"]
    if repeats:
        v["pit.repeat_build_s"] = secs("pit.build", repeats)
    if pit:
        v["pit.submit_s"] = secs("pit.submit", pit)
        v["pit.build_s"] = secs("pit.build", pit)
        v["pit.build_jobs"] = count("pit.build", "jobs", pit)
        v["pit.build_py4j_calls"] = _med([sp.py4j_calls for sp in spans("pit.build", pit)])
        ex = "retrieval.exec_fetch"
        v["retrieval.exec_fetch_s"] = secs(ex, pit)
        for key in (
            "jobs", "stages", "tasks", "cpu_s", "task_run_s", "driver_s",
            "shuffle_write_bytes", "shuffle_read_bytes",
        ):
            v[f"retrieval.{key}"] = count(ex, key, pit)
        v["retrieval.result_bytes"] = _med([o.layer["result_bytes"] for o in pit])
    batch = [o for o in traced if o.kind == "batch"]
    if batch:
        v["pit.batch_submit_s"] = secs("pit.submit", batch)
        v["pit.batch_build_s"] = secs("pit.build", batch)
        ex = "retrieval.exec_fetch"
        v["retrieval.batch_exec_fetch_s"] = secs(ex, batch)
        v["retrieval.batch_cpu_s"] = count(ex, "cpu_s", batch)
        v["retrieval.batch_shuffle_write_bytes"] = count(ex, "shuffle_write_bytes", batch)
        v["retrieval.batch_result_bytes"] = _med([o.layer["result_bytes"] for o in batch])
    if pit or repeats or batch:
        # storage held after the last traced retrieval
        last = max(pit + repeats + batch, key=lambda o: o.op_id)
        v["retrieval.cached_rdds"], v["retrieval.cached_mb"] = last.layer["cached"]
    if hasattr(wl, "pit"):
        totals = [0, 0, 0]
        for kind, c in wl.pit.reuse.items():
            v[f"pit.plan_reuse_ratio_{kind}"] = _ratio(c[2], c[1])
            totals = [a + b for a, b in zip(totals, c)]
        v["pit.plan_reuse_ratio"] = _ratio(totals[2], totals[1])
        v["pit.repeat_share"] = _ratio(totals[1], totals[0])

    if spans("sinks.materialize"):
        mat = "sinks.materialize"
        v["sinks.materialize_s"] = secs(mat)
        v["pull.scan_bytes"] = count(mat, "input_bytes")
        v["sinks.write_cpu_s"] = count(mat, "cpu_s")
        v["sinks.write_shuffle_bytes"] = count(mat, "shuffle_write_bytes")
    snapshots = getattr(wl, "snapshots", [])
    if snapshots:
        v["sinks.files_written"] = _med([s["files"] for s in snapshots])
        v["sinks.bytes_written"] = _med([s["bytes"] for s in snapshots])
    lookups = [o for o in traced if o.kind == "lookup"]
    if lookups:
        v["sinks.lookup_build_s"] = secs("sinks.lookup_build")
        v["sinks.lookup_exec_s"] = secs("sinks.lookup_exec")
        v["sinks.lookup_jobs"] = _med([
            o.layer["sinks.lookup_build"].counts["jobs"]
            + o.layer["sinks.lookup_exec"].counts["jobs"]
            for o in lookups
        ])
        v["sinks.lookup_scan_bytes"] = _med([o.layer["total"].input_bytes for o in lookups])
        v["sinks.buckets_touched"] = _med([o.layer.get("buckets_touched") for o in lookups])

    sessions = [o for o in traced if o.kind == "session"]
    if sessions:
        v["registry.session_s"] = secs("registry.session", sessions)
    queries = [o for o in traced if o.kind == "query"]
    if queries:
        build, ex = "registry.build", "registry.exec"
        v["registry.build_s"] = secs(build)
        v["registry.build_jobs"] = count(build, "jobs")
        v["registry.build_py4j_calls"] = _med([sp.py4j_calls for sp in spans(build)])
        for family, name in (
            ("rel", "registry.rel.build_s"),
            ("dedup", "operators.dedup.build_s"),
            ("graph", "operators.graph.build_s"),
            ("simsearch", "operators.simsearch.build_s"),
        ):
            v[name] = secs(build, [o for o in queries if o.layer["family"] == family])
        v["registry.exec_s"] = secs(ex)
        v["registry.cpu_s"] = _med([o.layer["total"].cpu_s for o in queries])
        v["registry.stages"] = _med([o.layer["total"].stages for o in queries])
        v["registry.shuffle_bytes"] = _med([
            o.layer["total"].shuffle_read_bytes + o.layer["total"].shuffle_write_bytes
            for o in queries
        ])
        # a timed pass is cold when each query's build runs the jobs it
        # ran in the first pass
        first = wl.first_jobs
        v["registry.cold_build_share"] = _ratio(
            sum(
                o.layer[build].counts["jobs"] == first[o.label].counts["jobs"]
                for o in queries
            ),
            len(queries),
        )

    for layer, values in run.tracer.self_times({o.op_id for o in traced}).items():
        if f"{layer}.self_s" in v:
            v[f"{layer}.self_s"] = _med(values)
    # per label, traced median over untraced median; geometric mean
    # over the labels that have both
    traced_by, untraced_by = by_label(o for o in traced if o.ok is not False), by_label(untraced)
    ratios = [
        stats.median(traced_by[k]) / stats.median(untraced_by[k])
        for k in traced_by
        if k in untraced_by
    ]
    if ratios:
        v["trace.overhead_frac"] = _gmean(ratios) - 1.0
    return {k: {"value": float(v[k]), "unit": u} for k, u in units.items()}
