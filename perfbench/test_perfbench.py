"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q              # fast helper tests
    python3 -m pytest perfbench -q -m slow      # the command, end to end
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import stats
import summary
import tables
from reference import Reference, canonical, same, same_rows
from tracing import uncovered_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
SMALL = gen.Sizes(users=500, stats_rows=20_000, profile_rows=5_000, zipf_a=0.6)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _config() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def _inputs_digest(seed: int, root: str) -> str:
    keys = gen.KeyDraw(seed, SMALL)
    paths = gen.write_feature_tables(seed, root, SMALL, keys)
    ent = gen.write_entity_table(seed, root, keys, 4, (10, 20))
    rng = gen.rng_for(seed, "batch")
    lo, hi = gen.history_bounds_us()
    frames = [gen.frame_digest(gen.entity_frame(keys, rng, 50, lo, hi)) for _ in range(3)]
    lookups = keys.draw(gen.rng_for(seed, "lookup"), 100).tobytes().hex()
    warehouse = tables.write_tables(
        seed, os.path.join(root, "warehouse"), _config()["workloads"]["registry"]["tables"]
    )
    return (
        gen.file_digest([*paths.values(), ent])
        + gen.file_digest(os.path.join(warehouse, f) for f in os.listdir(warehouse))
        + "".join(frames)
        + lookups
    )


def test_generator_is_deterministic(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    assert _inputs_digest(7, str(a)) == _inputs_digest(7, str(b))
    assert _inputs_digest(7, str(a)) != _inputs_digest(8, str(c))


def test_feature_tables_sorted_unique_and_row_grouped(tmp_path):
    keys = gen.KeyDraw(3, SMALL)
    paths = gen.write_feature_tables(3, str(tmp_path), SMALL, keys)
    for path in paths.values():
        ts = pq.read_table(path).column("event_ts").to_numpy().astype("int64")
        assert (np.diff(ts) > 0).all()
        lo, hi = gen.history_bounds_us()
        assert ts[0] >= lo and ts[-1] < hi
        meta = pq.ParquetFile(path).metadata
        assert meta.row_group(0).num_rows == min(gen.ROW_GROUP_ROWS, meta.num_rows)


def test_tail_has_ten_samples_beyond():
    values = [float(v) for v in range(30, 0, -1)]
    t = stats.tail(values)
    assert t["n"] == 30 and t["beyond"] == 10
    assert sum(v > t["value"] for v in values) == 10
    assert t["value"] == 20.0 and t["pct"] == pytest.approx(66.7)
    assert stats.tail(values[:11])["value"] == min(values[:11])
    assert stats.tail(values[:10]) is None


def test_uncovered_seconds():
    assert uncovered_seconds(0.0, 10.0, []) == 10.0
    assert uncovered_seconds(0.0, 10.0, [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)
    assert uncovered_seconds(5.0, 6.0, [(0, 10)]) == 0.0


def test_metric_names():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert {w["name"] for w in bench["workloads"]} == set(_config()["workloads"])


def test_kind_p50_gmean_weighs_labels_equally():
    class Op:
        def __init__(self, label, seconds):
            self.label, self.seconds, self.cpu_s = label, seconds, 2 * seconds

    once = [Op("a", 1.0), Op("b", 4.0)]
    often = once + [Op("a", 1.0)] * 9
    assert summary.kind_p50_gmean(once) == pytest.approx(2.0)
    assert summary.kind_p50_gmean(often) == pytest.approx(2.0)
    assert summary.kind_p50_gmean(often, "cpu_s") == pytest.approx(4.0)
    assert summary.kind_p50_sum(often, "cpu_s") == pytest.approx(10.0)


_BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_cpu_counts_live_and_reaped_children():
    before = stats.tree_cpu_seconds(os.getpid())
    subprocess.run([sys.executable, "-c", _BUSY], check=True)  # reaped
    reaped = stats.tree_cpu_seconds(os.getpid())
    assert reaped - before >= 0.25
    child = subprocess.Popen(
        [sys.executable, "-c", _BUSY + "import sys\nsys.stdin.read()\n"],
        stdin=subprocess.PIPE,
    )
    try:
        deadline = time.time() + 30
        while stats.tree_cpu_seconds(os.getpid()) - reaped < 0.25:  # live
            assert time.time() < deadline
            time.sleep(0.05)
    finally:
        child.communicate(b"")


def test_registry_tables_have_the_warehouse_schema(tmp_path):
    sizes = _config()["workloads"]["registry"]["tables"]
    root = tables.write_tables(3, str(tmp_path), sizes)
    from feast_hive_spark.sources.tables import TABLES

    assert sorted(f[: -len(".parquet")] for f in os.listdir(root)) == sorted(TABLES)
    line = pq.read_table(os.path.join(root, "lineitem.parquet"))
    assert line.num_rows == sizes["lineitem"]
    assert line.schema.field("l_shipdate").type == pa.timestamp("us")
    orders = pq.read_table(os.path.join(root, "orders.parquet")).to_pandas()
    first = line.to_pandas().groupby("l_orderkey")["l_linenumber"].min()
    assert (first == 1).all() and first.index.isin(orders["o_orderkey"]).all()
    emb = pq.read_table(os.path.join(root, "embeddings.parquet"))
    assert {len(v) for v in emb.column("embedding").to_pylist()} == {sizes["embedding_dim"]}


def test_same_rows_matches_by_column_name_and_tolerance():
    exp = pd.DataFrame({"k": [1, 2], "x": [0.1 + 0.2, None], "s": ["a", "b"]})
    rows = [(2, None, "b"), (1, 0.3, "a")]
    assert same_rows(rows, ["k", "x", "s"], exp)
    assert same_rows([(r[2], r[0], r[1]) for r in rows], ["s", "k", "x"], exp)
    assert not same_rows(rows[:1], ["k", "x", "s"], exp)
    assert not same_rows([(2, None, "b"), (1, 0.31, "a")], ["k", "x", "s"], exp)


def test_canonical_ignores_order_and_dtype():
    a = pd.DataFrame({"k": [2, 1], "ts": pd.to_datetime(["2024-01-02", "2024-01-01"]), "x": [None, 1.5]})
    b = pa.table({"k": [1, 2], "ts": pa.array([datetime(2024, 1, 1), datetime(2024, 1, 2)], pa.timestamp("us", tz="UTC")), "x": [1.5, None]})
    cols = {"k": "int", "ts": "ts", "x": "float"}
    assert same(a, b, cols)
    assert not same(a, b.slice(0, 1), cols)
    assert list(canonical(a, cols)["k"]) == [1, 2]


def test_pit_reference_asof_and_ttl(tmp_path):
    t = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    stats_path, profile_path = str(tmp_path / "s.parquet"), str(tmp_path / "p.parquet")
    pq.write_table(pa.table({
        "user_id": [1, 1, 2],
        "event_ts": pa.array([t(1), t(5), t(1)], pa.timestamp("us")),
        "created_ts": pa.array([t(1), t(5), t(1)], pa.timestamp("us")),
        "clicks": [10, 50, 20],
        "spend": [1.0, 5.0, 2.0],
    }), stats_path)
    pq.write_table(pa.table({
        "user_id": [1],
        "event_ts": pa.array([t(2)], pa.timestamp("us")),
        "score": [0.5],
        "tier": [3],
    }), profile_path)
    ref = Reference(stats_path, profile_path, stats_ttl_s=2 * 86_400)
    try:
        ent = pd.DataFrame({
            "user_id": [1, 1, 1, 2, 3],
            "event_timestamp": pd.to_datetime([t(1), t(3), t(6), t(4), t(9)]),
        })
        out = canonical(ref.pit(ent), {
            "user_id": "int", "event_timestamp": "ts",
            "user_stats__clicks": "int", "user_profile__score": "float",
        })
    finally:
        ref.close()
    # (1, day 3): stats row of day 1 is 2 days old -> still inside the TTL
    # (2, day 4): stats row of day 1 is 3 days old -> outside it
    clicks = [None if pd.isna(v) else int(v) for v in out["user_stats__clicks"]]
    assert clicks == [10, 10, 50, None, None]
    assert out["user_profile__score"].isna().tolist() == [True, False, False, True, True]


def _run(cwd, workload, trace, seconds="1"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", seconds, "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _benchmark()["workloads"]])
def test_command_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = _benchmark()
    want = bench["per_layer"] if trace else bench["end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, _benchmark()["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
