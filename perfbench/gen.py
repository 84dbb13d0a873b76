"""Seeded input generator for the retrieval benchmark.

Everything a workload feeds the engine is made here from one integer
seed: the two feature tables (parquet, sorted by event time, fixed
row-group size), the entity table behind the SQL-string requests, the
pandas request stream and the online lookup keys. The same seed gives
byte-identical files and identical in-memory requests.

Event timestamps are strictly increasing across each table, so no two
feature rows of one key share an event time: the as-of argmax has one
answer and the reference check needs no tie rule.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HISTORY_END = datetime(2024, 3, 1)
HISTORY_DAYS = 60
US_PER_S = 1_000_000
ROW_GROUP_ROWS = 32_768

# stream ids keep the per-purpose generators independent, so resizing
# one input never reshuffles another
_STREAM = {
    "stats": 1,
    "profile": 2,
    "entities": 3,
    "batch": 4,
    "serving": 5,
    "lookup": 6,
    "users": 7,
    "registry": 9,
}


@dataclass(frozen=True)
class Sizes:
    users: int
    stats_rows: int
    profile_rows: int
    zipf_a: float


def rng_for(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[stream]])


def zipf_weights(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    return w / w.sum()


class KeyDraw:
    """Mildly Zipf-skewed draws over ``users`` ids; which id is hot is
    itself seeded."""

    def __init__(self, seed: int, sizes: Sizes):
        rng = rng_for(seed, "users")
        self.ids = rng.permutation(sizes.users).astype(np.int64) + 1
        self.cdf = np.cumsum(zipf_weights(sizes.users, sizes.zipf_a))

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n) * self.cdf[-1])
        return self.ids[np.minimum(idx, len(self.ids) - 1)]


def _history_start_us() -> int:
    start = HISTORY_END - timedelta(days=HISTORY_DAYS)
    return int(pd.Timestamp(start).value // 1000)


def sorted_unique_ts(rng: np.random.Generator, n: int) -> np.ndarray:
    """n strictly increasing microsecond timestamps spread over the
    whole history."""
    span = HISTORY_DAYS * 86_400 * US_PER_S
    step = span // n
    gaps = 1 + rng.integers(0, 2 * step - 1, size=n)
    ts = _history_start_us() + np.cumsum(gaps)
    return np.minimum(ts, _history_start_us() + span - 1 - (n - 1 - np.arange(n)))


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, row_group_size=ROW_GROUP_ROWS, compression="snappy"
    )


def write_feature_tables(seed: int, root: str, sizes: Sizes, keys: KeyDraw) -> dict:
    """Writes ``user_stats`` (event + created timestamps) and
    ``user_profile`` (event timestamp only) under ``root``."""
    rng = rng_for(seed, "stats")
    n = sizes.stats_rows
    ts = sorted_unique_ts(rng, n)
    stats = pa.table(
        {
            "user_id": keys.draw(rng, n),
            "event_ts": _ts_array(ts),
            "created_ts": _ts_array(ts + rng.integers(0, 3600 * US_PER_S, n)),
            "clicks": rng.integers(0, 1000, n),
            "spend": np.round(rng.gamma(2.0, 20.0, n), 2),
        }
    )
    rng = rng_for(seed, "profile")
    n = sizes.profile_rows
    ts = sorted_unique_ts(rng, n)
    profile = pa.table(
        {
            "user_id": rng.integers(1, sizes.users + 1, n).astype(np.int64),
            "event_ts": _ts_array(ts),
            "score": np.round(rng.random(n), 4),
            "tier": rng.integers(0, 5, n),
        }
    )
    paths = {
        "stats": os.path.join(root, "user_stats.parquet"),
        "profile": os.path.join(root, "user_profile.parquet"),
    }
    _write(stats, paths["stats"])
    _write(profile, paths["profile"])
    return paths


def entity_frame(keys: KeyDraw, rng: np.random.Generator, n: int, lo_us: int, hi_us: int) -> pd.DataFrame:
    ts = rng.integers(lo_us, hi_us, n)
    return pd.DataFrame(
        {
            "user_id": keys.draw(rng, n),
            "event_timestamp": pd.to_datetime(ts, unit="us"),
        }
    )


def history_bounds_us() -> tuple[int, int]:
    lo = _history_start_us()
    return lo, lo + HISTORY_DAYS * 86_400 * US_PER_S


def narrow_window(rng: np.random.Generator, hours: float = 1.0) -> tuple[int, int]:
    """A ``hours``-wide window at a random point after the first week
    of history."""
    lo, hi = history_bounds_us()
    width = int(hours * 3600 * US_PER_S)
    start = int(rng.integers(lo + 7 * 86_400 * US_PER_S, hi - width))
    return start, start + width


def write_entity_table(
    seed: int, root: str, keys: KeyDraw, groups: int, rows: tuple[int, int]
) -> str:
    """The table behind the SQL-string requests: ``groups`` narrow
    request batches, each ``rows`` rows, tagged by ``grp``."""
    rng = rng_for(seed, "entities")
    parts = []
    for g in range(groups):
        lo, hi = narrow_window(rng)
        pdf = entity_frame(keys, rng, int(rng.integers(rows[0], rows[1] + 1)), lo, hi)
        pdf["grp"] = np.int64(g)
        parts.append(pdf)
    pdf = pd.concat(parts, ignore_index=True)
    table = pa.table(
        {
            "user_id": pa.array(pdf["user_id"].to_numpy()),
            "event_timestamp": _ts_array(
                pdf["event_timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64)
            ),
            "grp": pa.array(pdf["grp"].to_numpy()),
        }
    )
    path = os.path.join(root, "entities.parquet")
    _write(table, path)
    return path


def file_digest(paths) -> str:
    h = hashlib.blake2b(digest_size=16)
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def frame_digest(pdf: pd.DataFrame) -> str:
    return hashlib.blake2b(
        pd.util.hash_pandas_object(pdf, index=False).to_numpy().tobytes(),
        digest_size=16,
    ).hexdigest()
