"""Point-in-time (as-of) join — the engine's flagship query program.

Re-expression of the reference's 195-line Jinja2 HiveQL template
(feast_hive/hive.py:527-721) as a composed DataFrame plan. Semantics
(prose spec at hive.py:567-582, :639-644, :656-658, :681-684,
:701-704): for each entity row ``(keys…, entity_ts)`` and each feature
view, among feature rows with equal keys and
``event_ts ∈ [entity_ts - ttl, entity_ts]`` (no lower bound when
``ttl == 0``, guards hive.py:595/:602/:614/:622), pick the max
``event_ts``, tie-break max ``created_timestamp``; left-join back to
the entity rows (missing -> NULL, duplicates preserved).

Spark-first plan (SURVEY §2.3 J1-J6, §4):

1. The entity df is ingested natively (``spark.createDataFrame`` /
   ``spark.sql``) — the reference's dominant cost, a chunked
   row-literal ``INSERT INTO`` upload (hive.py:394-460), disappears.
2. **Coarse bounds pushdown (kept, manual — J2):** Catalyst cannot
   derive data-dependent bounds across a join, so we compute
   ``min/max(entity_ts)`` with one tiny driver job and inject them as
   *literal* filters on each feature scan. At 100 TB this is what
   turns a full feature-table scan into parquet row-group skipping /
   partition pruning on the timestamp column.
3. **Entity dedup before the join (kept — A1):** ``dropDuplicates``
   on (keys, entity_ts) shrinks the join's build side.
4. **One argmax aggregation replaces the reference's J4+J5+A3+A4
   dedup cascade** (2 aggregates + 2 self-joins): ``max_by(features,
   struct(event_ts, created_ts, tiebreaks))`` grouped by
   ``(keys…, entity_ts)``. Partial aggregation runs MAP-SIDE, so a
   whale entity key collapses to one row per partition before the
   shuffle — skew-immune at 100 TB. We join on the raw
   ``(keys…, entity_ts)`` tuple, NOT the collision-prone
   separator-less string rid of hive.py:537-544.
5. **Broadcast the (deduped) entity side** when small: the feature
   table — the 100 TB side — then streams through a BroadcastHashJoin
   with zero shuffle; the only shuffle in the whole per-fv pipeline is
   the argmax hash partition. When the entity df is huge, fall back
   to letting AQE pick sort-merge (``broadcast_entities=False``).

Physical plan per feature view: Scan(feature, pushed time filter) ->
BroadcastHashJoin(entity keys) + range condition ->
partial_max_by -> Exchange -> max_by -> broadcast left-join assembly.
Exactly one shuffle per fv, with map-side combine. The whole
retrieval is ONE ``spark.sql`` statement (``_join_fvs_sql``).

Reuse goes through ``plans/memo.py`` only: the bounds job is a
``job_memo`` and the prepared plan a ``plan_memo``, both keyed by
session, analyzed plans and input-file listing. A reused plan keeps
its compiled physical plan, so after toggling optimizer confs call
``memo.clear()`` to re-plan an identical retrieval.
"""

from __future__ import annotations

import math
import threading
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Mapping, Optional, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_hive_spark.plans import memo
from feast_hive_spark.retrieval import RetrievalJob
from feast_hive_spark.sources.tables import bind_sql_view
from feast_hive_spark.sources.source import DataSource

DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL = "event_timestamp"

_ENTITY_TS = "__entity_ts"
_EVENT_TS = "__event_ts"
_CREATED_TS = "__created_ts"

# Guards the overwrite-three-views-then-sql window in _join_fv_sql:
# concurrent plan builds on one SparkSession must not interleave the
# __pit_sql_* temp-view bindings.
_SQL_VIEW_LOCK = threading.Lock()


def _bt(name: str) -> str:
    """Backtick-quote an identifier for composed SQL fragments."""
    return "`" + name.replace("`", "``") + "`"


class EntityTimestampInferenceException(Exception):
    def __init__(self) -> None:
        super().__init__(
            "Unable to infer the event timestamp column from the entity "
            f"dataframe: provide a column named "
            f"'{DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL}' or exactly one "
            "timestamp-typed column."
        )


class EntityDFMissingColumnsError(Exception):
    """Parity with FeastEntityDFMissingColumnsError
    (reference validation, hive.py:218-224; tested
    tests/test_all.py:402-418)."""

    def __init__(self, expected: Sequence[str], missing: Sequence[str]):
        super().__init__(
            f"The entity dataframe is missing columns {list(missing)}; "
            f"expected at least {list(expected)}."
        )


class InvalidEntityType(Exception):
    def __init__(self, t: type):
        super().__init__(
            f"The entity dataframe has unsupported type {t}; expected "
            "a Spark DataFrame, a pandas DataFrame, or a SQL string."
        )


@dataclass
class FeatureView:
    """Metadata driving one as-of-joined feature set.

    ``join_keys`` maps feature-table column -> entity-df column (the
    reference's ``entity_selections``, "col AS join_key"); a plain
    sequence means same-named columns. ``ttl_seconds == 0`` means NO
    lower time bound (hive.py:595), not a zero-width window.
    """

    name: str
    source: Union[DataSource, DataFrame]
    join_keys: Union[Mapping[str, str], Sequence[str]] = field(default_factory=list)
    features: Sequence[str] = field(default_factory=list)
    ttl_seconds: float = 0
    event_timestamp_column: Optional[str] = None
    created_timestamp_column: Optional[str] = None

    def __post_init__(self) -> None:
        # Normalize TTL to whole seconds ONCE so the coarse pushdown
        # bound (J2) and the per-row join window (J3) use the same
        # value. Ceil, not truncate: int(0.5) == 0 would silently flip
        # a sub-second TTL to "no lower bound at all".
        self.ttl_seconds = math.ceil(self.ttl_seconds)

    def key_map(self) -> dict[str, str]:
        if isinstance(self.join_keys, Mapping):
            return dict(self.join_keys)
        return {k: k for k in self.join_keys}

    def resolve_df(self, spark: SparkSession) -> DataFrame:
        if isinstance(self.source, DataSource):
            return self.source.to_df(spark)
        return self.source

    def event_ts_col(self) -> str:
        if self.event_timestamp_column:
            return self.event_timestamp_column
        if isinstance(self.source, DataSource) and self.source.event_timestamp_column:
            return self.source.event_timestamp_column
        raise ValueError(f"FeatureView {self.name}: event_timestamp_column required")

    def created_ts_col(self) -> Optional[str]:
        if self.created_timestamp_column:
            return self.created_timestamp_column
        if isinstance(self.source, DataSource):
            return self.source.created_timestamp_column or None
        return None

    def output_name(self, feat: str, full_feature_names: bool) -> str:
        # hive.py:590/:713 — "{fv}__{feature}" when full_feature_names
        return f"{self.name}__{feat}" if full_feature_names else feat


def normalize_timestamps(pdf: pd.DataFrame) -> pd.DataFrame:
    """Normalize tz-aware / mixed-tz pandas timestamp columns to naive
    UTC — the reference's ``_format_datetime`` semantics
    (hive.py:355-360; mixed-flavor fixture feast_tests_funcs.py:15-30).
    Pandas-legal mixed-tz object columns are Spark-hostile, so this is
    applied at the ``createDataFrame`` boundary.
    """
    out = pdf.copy()
    for col in out.columns:
        s = out[col]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            out[col] = s.dt.tz_convert("UTC").dt.tz_localize(None)
        elif s.dtype == object and s.map(lambda v: isinstance(v, pd.Timestamp)).all() and len(s):
            out[col] = (
                pd.to_datetime(s, utc=True).dt.tz_localize(None)
            )
    return out


def entity_df_to_spark(
    spark: SparkSession, entity_df: Union[DataFrame, pd.DataFrame, str]
) -> DataFrame:
    """Ingest the entity df — replaces the reference's upload operators
    S3/S4 (hive.py:363-460) with native ingestion; SQL strings stay
    fully lazy (no CTAS materialization)."""
    if isinstance(entity_df, DataFrame):
        return entity_df
    if isinstance(entity_df, pd.DataFrame):
        return spark.createDataFrame(normalize_timestamps(entity_df))
    if isinstance(entity_df, str):
        return spark.sql(entity_df)
    raise InvalidEntityType(type(entity_df))


def infer_event_timestamp_col(df: DataFrame, provided: Optional[str] = None) -> str:
    """Reference step 3 (hive.py:214 via feast offline_utils): prefer
    an explicit/'event_timestamp' column, else the unique
    timestamp-typed column."""
    if provided:
        if provided not in df.columns:
            raise EntityDFMissingColumnsError([provided], [provided])
        return provided
    if DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL in df.columns:
        return DEFAULT_ENTITY_DF_EVENT_TIMESTAMP_COL
    ts_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
    ]
    if len(ts_cols) == 1:
        return ts_cols[0]
    raise EntityTimestampInferenceException()


def _validate_entity_df(
    entity_df: DataFrame, feature_views: Sequence[FeatureView], entity_ts_col: str
) -> None:
    """Reference step 4 (hive.py:218-224): every expected join key +
    the event timestamp column must exist; error parity with
    test_all.py:402-418."""
    expected = {entity_ts_col}
    for fv in feature_views:
        expected.update(fv.key_map().values())
    missing = sorted(expected - set(entity_df.columns))
    if missing:
        raise EntityDFMissingColumnsError(sorted(expected), missing)


def _fv_fingerprint(fv: FeatureView) -> tuple:
    return (
        fv.name,
        tuple(fv.key_map().items()),
        tuple(fv.features),
        fv.ttl_seconds,
        fv.event_ts_col(),
        fv.created_ts_col(),
    )


class _EvictOnClose:
    """Rides a RetrievalJob's pinned list: ``close()`` calls
    ``unpersist()`` on every pinned entry, and this one drops the
    memoized prepared plan whose caches were just released (a later
    identical retrieval then rebuilds and re-pins instead of returning
    a plan whose caches are gone)."""

    def __init__(self, value) -> None:
        self._value = value

    def unpersist(self) -> None:
        memo.forget(self._value)


def _entity_bounds(spark: SparkSession, sdf: DataFrame, entity_ts_col: str):
    """min/max(entity_ts) + row count in ONE driver job (J2 bounds →
    literal pushdown, fused with the broadcast guard), memoized per
    semantically-identical entity frame within a session.

    A warm retrieval loop re-submits the same entity batch (bench r6:
    the bounds job was ~0.15 s of every PIT rebuild's prepare);
    ``memo.job_memo`` recognizes it by the pruned probe's exact
    analyzed plan plus its input-file listing, so an overwritten
    entity parquet re-runs the job."""
    probe = sdf.select(F.col(entity_ts_col).alias(_ENTITY_TS))
    return memo.job_memo(
        spark,
        probe,
        ("pit.bounds",),
        lambda: probe.agg(
            F.min(_ENTITY_TS).alias("mn"),
            F.max(_ENTITY_TS).alias("mx"),
            F.count(F.lit(1)).alias("cnt"),
        ).first(),
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's own size estimate for a plan (driver-side, no job):
    file-relation bytes for scans, materialized storage size for
    cached relations, pass-through for filters/projections without
    CBO column stats — the same statistic autoBroadcastJoinThreshold
    consults."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def get_historical_features(
    spark: SparkSession,
    entity_df: Union[DataFrame, pd.DataFrame, str],
    feature_views: Sequence[FeatureView],
    full_feature_names: bool = False,
    entity_event_timestamp_col: Optional[str] = None,
    broadcast_entities: "bool | str" = "auto",
    tiebreak_columns: Sequence[str] = (),
    on_demand_transforms=None,
    broadcast_threshold_rows: int = 1_000_000,
    shuffle_small_features_bytes: int = 64 << 20,
) -> RetrievalJob:
    """Build the lazy multi-feature-view PIT retrieval job
    (reference entry point 1, hive.py:192-269).

    ``tiebreak_columns``: extra descending-order columns applied after
    (event_ts, created_ts) in each feature view's argmax, making row
    choice deterministic under full timestamp ties (the reference fans
    tied rows out through an inner join, hive.py:685-696 — a bug-shaped
    behavior we deliberately do not reproduce; see SURVEY §7 risks).

    ``broadcast_entities``: ``"auto"`` (default) broadcasts the entity
    join side only while the entity row count stays under
    ``broadcast_threshold_rows`` — the count is one cheap job against
    the already-cached entity df, and the guardrail means a huge
    entity df cannot OOM every executor by default; beyond it, AQE
    picks sort-merge with the range filter applied post-join.
    ``True``/``False`` force either physical path (both oracle-
    verified to agree).

    ``shuffle_small_features_bytes`` (r10): the second arm of the
    "auto" policy. Forcing the entity-side broadcasts is the 100 TB
    shape (the feature table — the big side — streams through the
    joins with ZERO shuffle), but every broadcast exchange is a
    separate driver-collect job on EVERY execution of the plan, and
    when the feature side is itself small that per-exec job floor
    costs more than the shuffle the broadcast avoids (measured at
    sf0.1: flagship exec 0.195 s / 3 jobs forced-broadcast vs
    0.109 s / 2 jobs unhinted — the broadcast builds were pure
    scheduler floor). So under "auto", when EVERY feature view's
    bounds-filtered, column-pruned side is estimated below this
    threshold (Catalyst's own sizeInBytes statistic — no job), the
    explicit broadcast hints are dropped and Catalyst plans the joins
    freely, exactly as it would any similarly-sized query (it may
    still auto-broadcast sides under its own threshold). At cluster
    scale a real feature table blows past 64 MB and the forced-
    broadcast path is untouched. ``0`` disables the check (always
    follow the row-count guard alone); explicit ``True``/``False``
    bypass it entirely.
    """
    sdf = entity_df_to_spark(spark, entity_df)
    entity_ts_col = infer_event_timestamp_col(sdf, entity_event_timestamp_col)
    _validate_entity_df(sdf, feature_views, entity_ts_col)
    # caches build() pins, surfaced through RetrievalJob.close() so a
    # long-lived session can return storage memory to baseline
    pinned: list[DataFrame] = []

    def prepare(sources: list) -> tuple:
        pins: list = []
        ent = sdf.withColumn(_ENTITY_TS, F.col(entity_ts_col))
        # Entity df is read >= 3x (bounds, per-fv join sides, final
        # assembly) — cache it (replaces the reference's in-memory temp
        # table, hive.py:532/:253).
        ent = ent.cache()
        pins.append(ent)

        # J2 kept manual: one tiny job for global bounds -> literal
        # pushdown filters on every feature scan.  The broadcast-guard
        # row count rides the SAME aggregate — one driver-blocking job
        # here, not three.  Probe the PRE-cache pruned projection, not
        # the cached ent: aggregating the cache would materialize every
        # entity column right here at plan-construction time, while the
        # single-column probe is a column-pruned scan (r5 verdict #1:
        # this job is per-retrieval cost in real use — at 100 TB the
        # pruned scan reads one column's pages, the cache build reads
        # them all).  The cache itself materializes during the first
        # execution, which reads it >= 3x and would build it anyway.
        bounds = _entity_bounds(spark, sdf, entity_ts_col)
        parts = [
            _prepare_fv(
                fv, src, idx, bounds, full_feature_names, tiebreak_columns
            )
            for idx, (fv, src) in enumerate(zip(feature_views, sources))
        ]
        if broadcast_entities == "auto":
            do_broadcast = bounds["cnt"] <= broadcast_threshold_rows
            # Second arm (r10, see docstring): when every feature side
            # is small by Catalyst's own estimate, the per-execution
            # broadcast-build jobs cost more than the shuffle they
            # avoid — drop the hints and let Catalyst plan freely.
            if do_broadcast and shuffle_small_features_bytes and parts:
                try:
                    if all(
                        _estimated_bytes(p.feat)
                        < shuffle_small_features_bytes
                        for p in parts
                    ):
                        do_broadcast = False
                except Exception:
                    pass  # stats unavailable: keep the broadcast path
        else:
            do_broadcast = bool(broadcast_entities)

        # A1 hoisted: build the deduped entity-key side ONCE per
        # distinct join-key tuple. Catalyst's exchange reuse does not
        # fire across the per-view branches (fresh expr IDs per
        # resolve defeat the canonical match), so without this a
        # multi-view retrieval re-runs the same dedup shuffle +
        # broadcast build per view; a shared cached DataFrame makes
        # the second and later views read the materialized keys.
        ekeys_by_tuple: dict[tuple, DataFrame] = {}
        for part in parts:
            t = tuple(part.entity_cols)
            if t not in ekeys_by_tuple:
                # cache even single-use key sets (r6): the deduped keys
                # are read once per EXECUTION, and without the cache
                # every re-execution of the retrieval replays the dedup
                # exchange + broadcast build. Bounded by the deduped
                # entity-key count (the broadcast guard's own bound) and
                # released by RetrievalJob.close() like every
                # plan-pinned cache.
                ek = ent.select(*t, _ENTITY_TS).dropDuplicates().cache()
                pins.append(ek)
                ekeys_by_tuple[t] = ek

        result = _join_fvs_sql(
            spark,
            ent,
            parts,
            [ekeys_by_tuple[tuple(p.entity_cols)] for p in parts],
            do_broadcast,
        )
        value = (result, pins)
        pins.append(_EvictOnClose(value))
        return value

    def build() -> DataFrame:
        # Prepared-retrieval reuse (the plan-level analogue of a
        # prepared statement): a warm serving loop re-issues the same
        # retrieval shape against the same sources, and the JVM-side
        # analysis of the multi-join plan (~0.15 s/build measured at
        # r6) is pure repeated work. ``memo.plan_memo`` keys it by
        # session, structural fv spec + flags, the exact analyzed plans
        # of the entity df and every fv source, and their input files.
        # ``RetrievalJob.close()`` evicts the entry alongside
        # unpersisting its pinned caches.
        sources = [fv.resolve_df(spark) for fv in feature_views]
        token = (
            "pit.plan",
            bool(full_feature_names),
            broadcast_entities
            if isinstance(broadcast_entities, str)
            else bool(broadcast_entities),
            tuple(tiebreak_columns),
            int(broadcast_threshold_rows),
            int(shuffle_small_features_bytes),
            tuple(_fv_fingerprint(fv) for fv in feature_views),
        )
        df, pins = memo.plan_memo(
            spark, [sdf, *sources], token, lambda: prepare(sources)
        )
        pinned.extend(pins)
        return df

    return RetrievalJob(
        build, on_demand_transforms=on_demand_transforms, pinned=pinned
    )


@dataclass
class _FvPart:
    """Per-feature-view prepared inputs for the join step: the
    projected+bounds-filtered feature frame plus the SQL fragments
    ``_join_fvs_sql`` assembles. Features travel under internal
    ``aliases`` and take their ``out_names`` only in the final
    SELECT, so colliding output names never meet inside the
    statement."""

    feat: DataFrame
    entity_cols: list
    aliases: list
    out_names: list
    created_ts: Optional[str]
    tiebreaks: list
    range_cond: str


def _prepare_fv(
    fv: FeatureView,
    feat: DataFrame,
    idx: int,
    bounds,
    full_feature_names: bool,
    tiebreak_columns: Sequence[str],
) -> _FvPart:
    key_map = fv.key_map()  # feature col -> entity col
    event_ts = fv.event_ts_col()
    created_ts = fv.created_ts_col()

    # Subquery projection (hive.py:584-591): event/created ts under
    # internal names, join keys renamed to entity-side names, features
    # under internal aliases. Pure projection — column pruning reaches
    # the scan. ONE selectExpr call: plan CONSTRUCTION here is
    # dominated by py4j round-trips (~0.4 ms each; a Column-API
    # projection costs one per col/alias, ~190 per feature view
    # profiled at r6), and a warm retrieval loop pays it per call.
    sel = [f"{_bt(event_ts)} AS {_EVENT_TS}"]
    if created_ts:
        sel.append(f"{_bt(created_ts)} AS {_CREATED_TS}")
    for fcol, ecol in key_map.items():
        sel.append(f"{_bt(fcol)} AS {_bt(ecol)}")
    aliases = [f"__f{idx}_{j}" for j in range(len(fv.features))]
    for feat_name, alias in zip(fv.features, aliases):
        sel.append(f"{_bt(feat_name)} AS {alias}")
    tiebreaks = [c for c in tiebreak_columns if c in feat.columns]
    sel.extend(_bt(c) for c in tiebreaks)
    feat = feat.selectExpr(*sel)

    # J2: literal coarse bounds — ttl==0 -> upper bound only
    # (hive.py:594-605). Timestamps stay F.lit (NOT SQL-string
    # literals): a TIMESTAMP'...' literal parses in the SESSION tz
    # while the Row->datetime->lit roundtrip uses the OS tz on both
    # legs, so only the latter is exact when session tz != OS tz —
    # and a shifted COARSE bound would wrongly exclude matching rows.
    if bounds is not None and bounds["mx"] is not None:
        cond = F.col(_EVENT_TS) <= F.lit(bounds["mx"])
        if fv.ttl_seconds:
            lower = bounds["mn"] - timedelta(seconds=fv.ttl_seconds)
            cond = cond & (F.col(_EVENT_TS) >= F.lit(lower))
        feat = feat.filter(cond)

    range_cond = f"{_EVENT_TS} <= {_ENTITY_TS}"
    if fv.ttl_seconds:
        # micros arithmetic, not `ts - INTERVAL n SECOND`: timestamp -
        # CalendarInterval routes through non-codegen datetime logic
        # and measurably dominates the whole join stage (~2x on the
        # flagship bench query); long compares are exact to the micro
        # and stay inside whole-stage codegen
        range_cond += (
            f" AND unix_micros({_EVENT_TS}) >= "
            f"unix_micros({_ENTITY_TS}) - {fv.ttl_seconds * 1_000_000}"
        )

    return _FvPart(
        feat=feat,
        entity_cols=list(key_map.values()),
        aliases=aliases,
        out_names=[
            fv.output_name(f, full_feature_names) for f in fv.features
        ],
        created_ts=created_ts,
        tiebreaks=tiebreaks,
        range_cond=range_cond,
    )


def _join_fvs_sql(
    spark: SparkSession,
    acc: DataFrame,
    parts: Sequence[_FvPart],
    ekeys_list: Sequence[DataFrame],
    broadcast_entities: bool,
) -> DataFrame:
    """J3+W1+J6 for every feature view, assembled as ONE ``spark.sql``
    statement — one subquery level per view, so an n-view retrieval
    pays ONE parse + ONE analysis pass (r9: pit_multi_feature_view
    cold build −1 sql −2 temp views vs per-view statements). Per
    level: equi join on the deduped entity keys (``CROSS JOIN`` on the
    deduped timestamps for an entity-less view, the rid=cast(entity_ts)
    semantics of hive.py:543-544), the range predicate, the
    ``max_by(struct(features), struct(ordering))`` argmax grouped by
    ``(keys…, entity_ts)`` (a view without features groups only), and
    a USING left join that emits ``[keys, _ENTITY_TS, acc-rest,
    features]``. Features carry internal aliases through every level;
    the outer SELECT renames them and drops ``_ENTITY_TS``, so two
    views emitting one output name (or a feature shadowing an entity
    column) come out as duplicate columns in view order.

    Ordering keys are micros longs, not raw timestamps: the max_by
    comparator runs per joined row, and long compares codegen tighter
    than timestamp ones (measured on the flagship bench query);
    unix_micros is a monotone transform, so the argmax and NULL
    placement are unchanged.

    Manual reused view names instead of spark.sql's {df} placeholders,
    for two measured reasons: the placeholder formatter creates AND
    drops a uniquely-named temp view per DataFrame argument (6 catalog
    round trips/build for a 2-view retrieval — half the SQL-path cost
    profiled at r8), and a placeholder-resolved plan no longer
    sameResult-matches cached tables, silently disabling
    CacheManager substitution (measured at r9 on tfidf — stable
    createOrReplaceTempView names keep cache reuse intact). The
    overwrite+sql window is guarded by a module lock so two
    concurrent plan builds on one session cannot interleave view
    bindings; the ``__pit_sql_*`` names are engine-reserved (a user
    temp view with one of these names is overwritten by plan
    construction), and the returned plan resolved the views at
    analysis time, so later overwrites cannot reach it."""
    latest_hint = "/*+ BROADCAST(latest) */ " if broadcast_entities else ""
    ek_hint = "/*+ BROADCAST(ek) */ " if broadcast_entities else ""
    acc_cols = list(acc.columns)
    # dedupe shared ekeys frames (multi-view retrievals share the
    # per-key-tuple cached dedup) so each registers exactly once
    ek_views: dict[int, str] = {}
    with _SQL_VIEW_LOCK:
        # bind_sql_view: stable engine-reserved names under classic
        # py4j (eager analysis; cache substitution intact), UNIQUE
        # per-build names under Spark Connect, where lazy spark.sql
        # would let a later rebind silently redirect this plan
        # (r9 ADVICE).
        acc_sql = bind_sql_view(acc, "__pit_sql_acc")
        for idx, (part, ekeys) in enumerate(zip(parts, ekeys_list)):
            fview = bind_sql_view(part.feat, f"__pit_sql_f{idx}")
            ekv = ek_views.get(id(ekeys))
            if ekv is None:
                ekv = bind_sql_view(ekeys, f"__pit_sql_ek{len(ek_views)}")
                ek_views[id(ekeys)] = ekv
            keys = [_bt(c) for c in part.entity_cols]
            group = ", ".join([*keys, _ENTITY_TS])
            ek_join = (
                f"JOIN {ekv} ek USING ({', '.join(keys)})"
                if keys
                else f"CROSS JOIN {ekv} ek"
            )
            best = []
            if part.aliases:
                ord_sql = [f"unix_micros({_EVENT_TS})"]
                if part.created_ts:
                    ord_sql.append(f"unix_micros({_CREATED_TS})")
                ord_sql.extend(_bt(c) for c in part.tiebreaks)
                best = [
                    f"max_by(struct({', '.join(part.aliases)}), "
                    f"struct({', '.join(ord_sql)})) AS __best"
                ]
            acc_rest = [
                c
                for c in acc_cols
                if c not in part.entity_cols and c != _ENTITY_TS
            ]
            proj = ", ".join(
                [
                    *keys,
                    _ENTITY_TS,
                    *(f"a.{_bt(c)}" for c in acc_rest),
                    *(f"latest.__best.{a} AS {a}" for a in part.aliases),
                ]
            )
            acc_sql = f"""(
            SELECT {latest_hint}{proj}
            FROM {acc_sql} a
            LEFT JOIN (
              SELECT {ek_hint}{", ".join([group, *best])}
              FROM {fview} f
              {ek_join}
              WHERE {part.range_cond}
              GROUP BY {group}
            ) latest
            USING ({group})
            )"""
            # track the accumulated schema without a py4j round trip:
            # the USING join emits [keys, ts, acc-rest, features]
            acc_cols = (
                list(part.entity_cols) + [_ENTITY_TS] + acc_rest
                + list(part.aliases)
            )
        # P4: drop internal columns (the reference's regex column
        # exclusion, hive.py:706) — everything else (incl. passthrough
        # entity columns) survives — and give features their names.
        out = {
            a: n for p in parts for a, n in zip(p.aliases, p.out_names)
        }
        final = ", ".join(
            f"{_bt(c)} AS {_bt(out[c])}" if c in out else _bt(c)
            for c in acc_cols
            if c != _ENTITY_TS
        )
        return spark.sql(f"SELECT {final} FROM {acc_sql} r")
