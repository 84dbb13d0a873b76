"""Independent DuckDB references for every operation the benchmark
times, and an order-insensitive comparison of results.

- point-in-time retrieval: one ``ASOF LEFT JOIN`` per feature view,
  with the TTL applied to the matched row;
- latest-per-key pull: ``arg_max`` over the window's rows per key;
- online lookups: the pull reference joined to the requested keys;
- registry queries: the registry's own DuckDB oracle SQL, run over the
  same warehouse tables.

Feature event timestamps are unique per table (see gen.py), so each
reference has exactly one right answer.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

from feast_hive_spark.registry import REGISTRY
from feast_hive_spark.sources.tables import TABLES

US = 1_000_000


class Reference:
    def __init__(self, stats_path: str, profile_path: str, stats_ttl_s: int):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(
            f"CREATE TABLE stats AS SELECT * FROM read_parquet('{stats_path}')"
        )
        self.con.execute(
            f"CREATE TABLE profile AS SELECT * FROM read_parquet('{profile_path}')"
        )
        self.stats_ttl_us = stats_ttl_s * US

    def close(self) -> None:
        self.con.close()

    def pit(self, entities: pd.DataFrame) -> pd.DataFrame:
        """Point-in-time features for each entity row, with the names
        ``full_feature_names=True`` gives."""
        ent = entities[["user_id", "event_timestamp"]].copy()
        ent["__row"] = np.arange(len(ent))
        self.con.register("ent", ent)
        try:
            return self.con.execute(
                f"""
                WITH e AS (
                  SELECT __row, user_id,
                         CAST(event_timestamp AS TIMESTAMP) AS ts FROM ent
                ),
                s AS (
                  SELECT e.__row, st.event_ts AS s_ts, st.clicks, st.spend
                  FROM e ASOF LEFT JOIN stats st
                    ON e.user_id = st.user_id AND e.ts >= st.event_ts
                ),
                p AS (
                  SELECT e.__row, pr.score, pr.tier
                  FROM e ASOF LEFT JOIN profile pr
                    ON e.user_id = pr.user_id AND e.ts >= pr.event_ts
                )
                SELECT e.user_id, e.ts AS event_timestamp,
                  CASE WHEN epoch_us(s.s_ts) >= epoch_us(e.ts) - {self.stats_ttl_us}
                       THEN s.clicks END AS user_stats__clicks,
                  CASE WHEN epoch_us(s.s_ts) >= epoch_us(e.ts) - {self.stats_ttl_us}
                       THEN s.spend END AS user_stats__spend,
                  p.score AS user_profile__score,
                  p.tier AS user_profile__tier
                FROM e JOIN s USING (__row) JOIN p USING (__row)
                """
            ).df()
        finally:
            self.con.unregister("ent")

    def latest(self, start, end) -> pd.DataFrame:
        """Newest ``user_stats`` row per key with event time in
        [start, end]."""
        return self.con.execute(
            """
            SELECT user_id,
                   arg_max(clicks, event_ts) AS clicks,
                   arg_max(spend, event_ts) AS spend,
                   max(event_ts) AS event_ts,
                   arg_max(created_ts, event_ts) AS created_ts
            FROM stats
            WHERE event_ts BETWEEN ? AND ?
            GROUP BY user_id
            """,
            [start, end],
        ).df()

    def snapshot(self, path: str) -> pd.DataFrame:
        """What an online snapshot directory holds, read by DuckDB."""
        return self.con.execute(
            f"""
            SELECT user_id, clicks, spend, event_ts, created_ts
            FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)
            """
        ).df()


def lookup_reference(latest: pd.DataFrame, keys) -> pd.DataFrame:
    """One row per requested key (duplicates kept) that the snapshot
    holds."""
    return pd.DataFrame({"user_id": np.asarray(keys, dtype=np.int64)}).merge(
        latest, on="user_id", how="inner"
    )


def _canon_col(s: pd.Series, kind: str) -> pd.Series:
    if kind == "ts":
        s = pd.to_datetime(s)
        if s.dt.tz is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        us = pd.Series(s.astype("datetime64[us]").to_numpy().view("int64"))
        return us.astype("Int64").where(s.notna().to_numpy())
    if kind == "int":
        return pd.to_numeric(s).astype("Int64")
    if kind == "float":
        return pd.to_numeric(s).astype("float64")
    raise ValueError(f"unknown column kind {kind!r}")


def canonical(frame, columns: dict) -> pd.DataFrame:
    """``frame`` (pandas, Arrow table or list of Rows) restricted to
    ``columns`` (name -> "int" | "float" | "ts"), with dtypes
    normalised and rows sorted."""
    if isinstance(frame, pa.Table):
        frame = frame.to_pandas()
    elif isinstance(frame, list):
        frame = pd.DataFrame([r.asDict() for r in frame], columns=list(columns))
    missing = [c for c in columns if c not in frame.columns]
    if missing:
        raise ValueError(f"result lacks columns {missing}")
    out = pd.DataFrame({c: _canon_col(frame[c], k) for c, k in columns.items()})
    return out.sort_values(list(columns), na_position="last").reset_index(drop=True)


def same(actual, expected, columns: dict) -> bool:
    """Equal as multisets of rows over ``columns``."""
    a = canonical(actual, columns)
    b = canonical(expected, columns)
    return len(a) == len(b) and a.equals(b)


class Oracle:
    """The registry's DuckDB oracle SQL over a warehouse directory; one
    result per query, computed on first use."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._results: dict[str, pd.DataFrame] = {}

    def close(self) -> None:
        self.con.close()

    def result(self, name: str) -> pd.DataFrame:
        if name not in self._results:
            self._results[name] = self.con.execute(REGISTRY[name][1]).df()
        return self._results[name]


def _cell(v):
    """A value as a comparable Python scalar (or tuple of them)."""
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, Decimal)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (pd.Timestamp, datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts is pd.NaT:
            return None
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.value // 1000)
    if isinstance(v, date):
        return ("date", v.isoformat())
    if v is pd.NA or v is pd.NaT:
        return None
    return str(v)


def _sort_key(row):
    # floats rounded for ordering only; values are compared unrounded
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, float(f"{v:.9g}"))
        if isinstance(v, int):
            return (1, float(v))
        return (2, repr(v))

    return tuple(k(v) for v in row)


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
        isinstance(a, bool) or isinstance(b, bool)
    ):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def same_rows(rows, columns, expected: pd.DataFrame) -> bool:
    """Collected Spark ``rows`` with ``columns`` equal ``expected`` as
    multisets of rows, matching columns by name; floats to 1e-9."""
    if sorted(columns) != sorted(expected.columns) or len(rows) != len(expected):
        return False
    order = sorted(columns)
    idx = [list(columns).index(c) for c in order]
    got = sorted((tuple(_cell(r[i]) for i in idx) for r in rows), key=_sort_key)
    exp = sorted(
        (tuple(_cell(v) for v in t) for t in expected[order].itertuples(index=False)),
        key=_sort_key,
    )
    return all(_close(a, b) for a, b in zip(got, exp))
