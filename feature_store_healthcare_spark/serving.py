"""Feature serving: online/offline reads, point-in-time training joins,
freshness, metrics.

Re-expresses /root/reference/src/serving/feature_server.py as Spark plans:

- Online store (ref :203 ``dict[store_key → {...}]``) → a driver-resident
  view ``entity_id → feature_id → latest row``.  One Spark query
  (latest_per_key over the value log, fetched as Arrow) builds it at the
  first read after the log changes; every other LRU miss is a dict lookup
  (OP-3), inside the reference's 100 ms online SLA (ref :105).  The first
  read after a write pays the rebuild.  The latest table must fit in
  driver memory; larger tables are exported to a KV table instead
  (stores.export_online_kv / kv_point_get).
- Offline store (ref :204 append-only list) → append-only long table
  shared with the registry (system of record, bitemporal).
- get_point_in_time_features (ref :355-408, O(spine×values×features)
  loops) → ONE set-oriented plan for ALL requested features:
  operators.pit.point_in_time_pivot (join + multi-feature conditional
  max_by — 2 shuffles total, independent of feature count), wide output
  with {name}__timestamp companions (OP-16 + OP-12 fused).
- LRU cache + TTL (ref :136-176) → driver-side LRU over assembled
  vectors (request-level concern, not a data-plane operator).
- Metrics (ref :111-133, :481-493) → counters + a request-latency log
  aggregated with avg/percentile_approx (OP-22/23/25).
"""

from __future__ import annotations

import time
from collections import OrderedDict
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_healthcare_spark import functions as fx
from feature_store_healthcare_spark.operators.pit import (
    interpolated_asof,
    latest_per_key,
    point_in_time_join,
    point_in_time_pivot,
)
from feature_store_healthcare_spark.registry import (
    SLOT_FOR,
    FeatureRegistry,
)


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class ServingMode(str, Enum):
    """Feature serving modes (ref feature_server.py:33-38) — parity enum
    naming the engine path each mode maps to:

    - ``ONLINE``: low-latency single-entity reads —
      :meth:`FeatureServer.get_online_features`, a dict lookup in the
      driver-resident latest-value view, or :func:`stores.kv_point_get`
      against the exported KV table when the view would not fit in driver
      memory (OP-3).
    - ``OFFLINE``: batch/historical —
      :meth:`FeatureServer.get_offline_features` and the point-in-time
      training joins (:meth:`FeatureServer.get_point_in_time_features`,
      operators.pit).
    - ``STREAMING``: real-time updates — the Structured Streaming
      maintainers in ``streaming.pipeline`` (streaming_online_upsert et
      al.) feeding the same online table the ONLINE path reads.
    """

    ONLINE = "online"
    OFFLINE = "offline"
    STREAMING = "streaming"


class FeatureFreshness(str, Enum):
    """Freshness classification (ref feature_server.py:41-46).  The
    engine computes these as plain strings in the vector path
    (:meth:`FeatureServer.get_online_features`) and the set-oriented
    :meth:`FeatureServer.freshness_report`; the enum gives reference
    callers the typed constants — str-subclass, so
    ``vector.freshness[name] == FeatureFreshness.FRESH`` works against
    the stored strings."""

    FRESH = "fresh"  # within freshness_sla_seconds
    STALE = "stale"  # exceeds SLA, within stale_threshold_seconds
    EXPIRED = "expired"  # beyond stale threshold (or value missing)


@dataclass
class ServingConfig:
    """Ref feature_server.py:97-108."""

    cache_ttl_seconds: int = 300
    cache_max_size: int = 10_000
    online_timeout_ms: int = 100
    offline_batch_size: int = 1_000
    freshness_sla_seconds: int = 3_600
    stale_threshold_seconds: int = 86_400


@dataclass
class FeatureVector:
    """Ref feature_server.py:69-95."""

    entity_id: str
    entity_type: str
    features: dict[str, Any]
    timestamps: dict[str, datetime | None] = field(default_factory=dict)
    freshness: dict[str, str] = field(default_factory=dict)
    retrieved_at: datetime | None = None
    cache_hit: bool = False
    latency_ms: float = 0.0

    def to_flat_dict(self) -> dict[str, Any]:
        out = {"entity_id": self.entity_id, "entity_type": self.entity_type}
        out.update(self.features)
        return out


#: the online view: entity_id → feature_id → latest row
_OnlineIndex = dict[str, dict[str, dict[str, Any]]]


def _withhold(vec: FeatureVector, names: list[str]) -> FeatureVector:
    """``vec`` with ``names`` null-filled, on copies of its dicts (the LRU
    may share the originals)."""
    if names:
        vec.features = {**vec.features, **dict.fromkeys(names)}
        vec.timestamps = {**vec.timestamps, **dict.fromkeys(names)}
        vec.freshness = {**vec.freshness, **dict.fromkeys(names, "expired")}
    return vec


class _LRUCache:
    """Request-level LRU with TTL (ref feature_server.py:136-176)."""

    def __init__(self, max_size: int, ttl_seconds: int) -> None:
        self.max_size = max_size
        self.ttl = ttl_seconds
        self._data: OrderedDict[str, tuple[float, Any]] = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key: str) -> Any | None:
        entry = self._data.get(key)
        if entry is None:
            self.misses += 1
            return None
        stamp, value = entry
        if time.monotonic() - stamp > self.ttl:
            del self._data[key]
            self.misses += 1
            return None
        self._data.move_to_end(key)
        self.hits += 1
        return value

    def put(self, key: str, value: Any) -> None:
        self._data[key] = (time.monotonic(), value)
        self._data.move_to_end(key)
        while len(self._data) > self.max_size:
            self._data.popitem(last=False)

    def invalidate_entity(self, prefix: str) -> None:
        """Drop all cached vectors for one entity (ref :449)."""
        stale = [k for k in self._data if k.startswith(prefix)]
        for k in stale:
            del self._data[k]


class FeatureServer:
    """Online/offline serving over a FeatureRegistry's value store."""

    def __init__(self, registry: FeatureRegistry, config: ServingConfig | None = None) -> None:
        self.registry = registry
        self.spark = registry.spark
        self.config = config or ServingConfig()
        self._cache = _LRUCache(self.config.cache_max_size, self.config.cache_ttl_seconds)
        #: (registry values_version it was built from, online index)
        self._view: tuple[int, _OnlineIndex] | None = None
        self._latencies: list[float] = []
        self._requests = 0
        self._stale_served = 0

    # -- online path (ref :206-288, OP-3) --------------------------------

    #: the columns an online row needs: the key, the event time and every
    #: value slot (the slot a feature reads depends on its declared type)
    _VIEW_COLUMNS = ["entity_id", "feature_id", "event_timestamp"] + sorted(
        set(SLOT_FOR.values())
    )

    def _online_latest(self) -> DataFrame:
        """Latest-value row per (feature, entity), as a plan over the
        registry's value log."""
        return latest_per_key(
            self.registry.values_df(),
            ["feature_id", "entity_id"],
            "event_timestamp",
            tiebreak=["created_timestamp", "seq"],
        )

    def _online_view(self) -> _OnlineIndex:
        """The online store (ref :203): ``entity_id → feature_id → row``
        in driver memory.  Built by one Spark query at the first read after
        the value log changed (the registry's ``values_version``), so an
        LRU miss is a dict lookup.  The whole latest table must fit in
        driver memory; larger tables go through stores.export_online_kv."""
        view = self._view
        version = self.registry.values_version
        if view is not None and view[0] == version:
            return view[1]
        index: _OnlineIndex = {}
        table = self._online_latest().select(*self._VIEW_COLUMNS).toArrow()
        for row in table.to_pylist():
            index.setdefault(row["entity_id"], {})[row["feature_id"]] = row
        self._view = (version, index)
        return index

    def invalidate_online_cache(self) -> None:
        """Drop the online view; the next read rebuilds it."""
        self._view = None

    def _cache_key(self, entity_type: str, entity_id: str, names: list[str]) -> str:
        # Entity prefix stays plain so invalidate_entity can prefix-match
        # (ref :449); only the canonical sorted name list is hashed
        # (ref :470-479).
        import hashlib

        digest = hashlib.sha256(",".join(sorted(names)).encode()).hexdigest()
        return f"{entity_type}:{entity_id}:{digest}"

    def get_online_features(
        self,
        entity_id: str,
        entity_type: str,
        feature_names: list[str],
        user_id: str | None = None,
        user_roles: list[str] | None = None,
    ) -> FeatureVector:
        """Ref :206-288: PHI access check → LRU probe → online-view lookup
        → freshness classification → null-fill for missing names.

        The LRU holds vectors without regard to the caller, so the access
        check runs on every request: a PHI feature the caller's roles do
        not cover is nulled (and audited as ``access_denied``), on a hit
        as well as on a miss, as in FeatureRegistry.get_feature_vector."""
        t0 = time.monotonic()
        self._requests += 1
        by_name = {
            f.name: f
            for f in self.registry.list_features(entity_type=entity_type)
            if f.name in feature_names
        }
        denied = []
        for name, feature in by_name.items():
            try:
                self.registry._check_access(feature, user_id, user_roles)
            except PermissionError:
                denied.append(name)
        key = self._cache_key(entity_type, entity_id, feature_names)
        cached = self._cache.get(key)
        if cached is not None:
            vec = _withhold(FeatureVector(**cached), denied)
            vec.cache_hit = True
            vec.latency_ms = (time.monotonic() - t0) * 1000
            vec.retrieved_at = _utcnow()
            self._record_latency(vec.latency_ms)
            return vec

        found = self._online_view().get(str(entity_id), {}) if by_name else {}
        now = _utcnow()
        features: dict[str, Any] = {}
        timestamps: dict[str, datetime | None] = {}
        fresh: dict[str, str] = {}
        for name in feature_names:
            feature = by_name.get(name)
            r = found.get(feature.feature_id) if feature is not None else None
            if r is None:
                # null-fill path (ref :520-527)
                features[name] = None
                timestamps[name] = None
                fresh[name] = "expired"
                continue
            features[name] = r[SLOT_FOR[feature.schema.value_type]]
            ts = r["event_timestamp"]
            timestamps[name] = ts
            age = (now - ts).total_seconds()
            if age <= self.config.freshness_sla_seconds:
                fresh[name] = "fresh"
            elif age <= self.config.stale_threshold_seconds:
                fresh[name] = "stale"
            else:
                fresh[name] = "expired"
        self._stale_served += sum(1 for v in fresh.values() if v != "fresh")
        vec = FeatureVector(
            entity_id=str(entity_id),
            entity_type=entity_type,
            features=features,
            timestamps=timestamps,
            freshness=fresh,
            retrieved_at=now,
            cache_hit=False,
        )
        self._cache.put(
            key,
            {
                "entity_id": vec.entity_id,
                "entity_type": vec.entity_type,
                "features": vec.features,
                "timestamps": vec.timestamps,
                "freshness": vec.freshness,
            },
        )
        vec = _withhold(vec, denied)
        vec.latency_ms = (time.monotonic() - t0) * 1000
        self._record_latency(vec.latency_ms)
        return vec

    # -- offline path (ref :290-353, OP-17) -------------------------------

    def get_offline_features(
        self,
        entity_ids: list[str],
        entity_type: str,
        feature_names: list[str],
        event_timestamp: datetime | str | None = None,
    ) -> DataFrame:
        """Batch historical read: ONE set-oriented plan for all entities —
        entity list → DataFrame, join + as-of argmax, pivot wide — instead
        of the reference's per-entity loop (ref :313-316)."""
        spine = self.spark.createDataFrame(
            [(str(e),) for e in entity_ids], "entity_id string"
        )
        if isinstance(event_timestamp, str):
            event_timestamp = datetime.fromisoformat(event_timestamp)
        as_of = event_timestamp or _utcnow()
        spine = spine.withColumn(
            "event_timestamp", F.lit(as_of).cast("timestamp_ntz")
        )
        return self.get_point_in_time_features(
            spine, feature_names, entity_column="entity_id", timestamp_column="event_timestamp"
        )

    def get_point_in_time_features(
        self,
        entity_df: DataFrame,
        feature_names: list[str],
        entity_column: str = "entity_id",
        timestamp_column: str = "event_timestamp",
        tolerance: str | None = None,
    ) -> DataFrame:
        """OP-16 (ref :355-408): leak-free per-row as-of join, one feature
        column + one {name}__timestamp companion per requested feature; all
        spine columns preserved.  ``tolerance`` (interval SQL string, e.g.
        ``"INTERVAL 1 HOUR"``) bounds staleness: a value older than that at
        the spine row's time null-fills instead of serving stale — the
        freshness SLA (ref :585-594) enforced at join time."""
        values = self.registry.values_df()
        spine = entity_df
        if dict(spine.dtypes).get(timestamp_column) == "string":
            # ref :383-384 parses ISO strings per row; we cast the column
            spine = spine.withColumn(
                timestamp_column, F.col(timestamp_column).cast("timestamp_ntz")
            )
        spine = spine.withColumn("__row_id", F.monotonically_increasing_id())
        features = {
            f.name: f for f in self.registry.list_features() if f.name in feature_names
        }
        known = [n for n in feature_names if n in features]
        out = spine
        if known:
            # ONE join + ONE multi-feature argmax for ALL requested features
            # (2 shuffles total, vs 2 per feature in the reference's loop)
            vals = values.where(
                F.col("feature_id").isin([features[n].feature_id for n in known])
            )
            if entity_column != "entity_id":
                vals = vals.withColumnRenamed("entity_id", entity_column)
            out = point_in_time_pivot(
                out,
                vals,
                on=entity_column,
                spine_ts=timestamp_column,
                value_ts="event_timestamp",
                name_col="feature_name",
                slot_for={n: SLOT_FOR[features[n].schema.value_type] for n in known},
                tiebreak=["created_timestamp", "seq"],
                spine_keys=["__row_id"],
                tolerance=tolerance,
            )
        for name in feature_names:
            if name not in features:  # unknown feature → null-fill columns
                out = out.withColumn(name, F.lit(None)).withColumn(
                    f"{name}__timestamp", F.lit(None).cast("timestamp_ntz")
                )
        return out.drop("__row_id")

    def get_interpolated_features(
        self,
        entity_df: DataFrame,
        feature_name: str,
        entity_column: str = "entity_id",
        timestamp_column: str = "event_timestamp",
    ) -> DataFrame:
        """Interpolated as-of read of one numeric feature (the sampled
        vitals/labs read): for each spine row, linear interpolation between
        the bracketing observations — hold-last after the final
        observation, NULL before the first.  An engine extension of OP-15;
        the reference can only serve the raw latest value
        (feature_registry.py:486-490).

        Output adds ``{name}`` (the interpolated estimate) plus
        ``{name}__prev / __prev_ts / __next / __next_ts`` provenance
        columns.  Raises for non-numeric feature types.
        """
        feature = self.registry.get_feature_by_name(feature_name)
        slot = SLOT_FOR[feature.schema.value_type]
        if slot not in ("value_long", "value_double"):
            raise ValueError(
                f"interpolation needs a numeric feature; {feature_name} is "
                f"{feature.schema.value_type.value}"
            )
        vals = (
            self.registry.values_df()
            .where(F.col("feature_id") == feature.feature_id)
            .select(
                F.col("entity_id").alias(entity_column),
                F.col(slot).cast("double").alias("__signal"),
                "event_timestamp",
                "created_timestamp",
                "seq",
            )
        )
        out = interpolated_asof(
            entity_df,
            vals,
            on=entity_column,
            spine_ts=timestamp_column,
            value_ts="event_timestamp",
            value_col="__signal",
            tiebreak=["created_timestamp", "seq"],
        )
        return (
            out.withColumnRenamed("interp_value", feature_name)
            .withColumnRenamed("prev_value", f"{feature_name}__prev")
            .withColumnRenamed("prev_ts", f"{feature_name}__prev_ts")
            .withColumnRenamed("next_value", f"{feature_name}__next")
            .withColumnRenamed("next_ts", f"{feature_name}__next_ts")
        )

    # -- writes (ref :410-455, OP-4) --------------------------------------

    def write_features(
        self,
        entity_id: str,
        entity_type: str,
        features: dict[str, Any],
        timestamp: datetime | None = None,
    ) -> None:
        """Dual write: append to the offline (long) store via the registry
        and drop the entity's LRU entries (ref :410-455).  The append bumps
        the registry's ``values_version``, so the next read re-derives the
        online view from the system of record — online/offline consistency
        by construction."""
        ts = timestamp or _utcnow()
        for name, value in features.items():
            feature = self.registry.get_feature_by_name(name, entity_type=entity_type)
            self.registry.ingest_feature_value(
                feature.feature_id, entity_id, value, event_timestamp=ts
            )
        self._cache.invalidate_entity(f"{entity_type}:{entity_id}:")

    # -- metrics (ref :111-133, :481-493, OP-22..25) -----------------------

    def _record_latency(self, ms: float) -> None:
        self._latencies.append(ms)
        if len(self._latencies) > 1000:  # last-1000 window (ref :485-487)
            self._latencies = self._latencies[-1000:]

    def get_metrics(self) -> dict[str, Any]:
        lat = sorted(self._latencies)
        p99 = lat[min(int(len(lat) * 0.99), len(lat) - 1)] if lat else 0.0
        total = self._cache.hits + self._cache.misses
        return {
            "total_requests": self._requests,
            "cache_hits": self._cache.hits,
            "cache_misses": self._cache.misses,
            "cache_hit_rate": self._cache.hits / max(total, 1),
            "avg_latency_ms": sum(lat) / len(lat) if lat else 0.0,
            "p99_latency_ms": p99,
            "stale_features_served": self._stale_served,
        }

    def reset_metrics(self) -> None:
        """Drop-in alias for the reference's API (feature_server.py:
        reset_metrics): zero the request/latency/staleness counters and
        the cache hit/miss tallies."""
        self._requests = 0
        self._stale_served = 0
        self._latencies = []
        self._cache.hits = 0
        self._cache.misses = 0

    def freshness_report(self, now: datetime | None = None) -> DataFrame:
        """OP-47: freshness classification over the whole latest-value
        table — a plan, not a loop (when() CASE per SURVEY.md OP-36)."""
        now = now or _utcnow()
        return self._online_latest().select(
            "feature_id",
            "entity_id",
            "event_timestamp",
            fx.freshness(
                "event_timestamp",
                F.lit(now).cast("timestamp_ntz"),
                self.config.freshness_sla_seconds,
                self.config.stale_threshold_seconds,
            ).alias("freshness"),
        )
