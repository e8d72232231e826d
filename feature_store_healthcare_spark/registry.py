"""Feature registry: typed, versioned, PHI-classified feature definitions
plus a bitemporal EAV value store.

Re-expresses /root/reference/src/registry/feature_registry.py as a
Spark-native component:

- Feature/FeatureSchema/FeatureSource/FeatureGroup metadata (ref :71-178)
  live as driver-side dataclasses (they are catalog entries, a few KB) and
  materialize on demand as a Spark DataFrame for broadcast joins.
- The value store (ref :250 ``self._values: dict[str, list]``) becomes an
  append-only long-format DataFrame with union-typed value slots and two
  timestamps (event/created — bitemporal, ref :188-189), persisted as
  partitioned parquet.  At scale this is the 100 TB table: partitioned by
  ``event_date``, appends are blind writes, reads prune on feature/entity/
  time predicates pushed to the scan.
- Point-in-time reads (ref :443-496) run the deterministic argmax
  (operators.pit.latest_per_key) — ordered by (event_timestamp,
  created_timestamp, seq) descending, fixing the reference's ambiguous
  tie-breaking (SURVEY.md §0).
- ACL (ref :469-475): PHI features require a role overlap, checked against
  catalog metadata *before* any data access; denials raise PermissionError
  and are audited (ref :596-615).
- Validation (ref :558-577): declared FeatureValueType enforced at ingest;
  unlike the reference, bool is NOT accepted for int types and ARRAY_STRING
  and TIMESTAMP are actually validated (ref defects, SURVEY.md §0).
"""

from __future__ import annotations

import hashlib
import threading
from dataclasses import dataclass, field
from datetime import datetime, timezone
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_healthcare_spark.operators.pit import as_of_filter, latest_per_key
from feature_store_healthcare_spark.sqlgen import ident
from feature_store_healthcare_spark.stores import AppendStore


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


class FeatureValueType(str, Enum):
    """Typed value slots (ref feature_registry.py:29-42)."""

    INT32 = "int32"
    INT64 = "int64"
    FLOAT32 = "float32"
    FLOAT64 = "float64"
    STRING = "string"
    BOOL = "bool"
    TIMESTAMP = "timestamp"
    ARRAY_INT = "array_int"
    ARRAY_FLOAT = "array_float"
    ARRAY_STRING = "array_string"
    EMBEDDING = "embedding"


#: FeatureValueType → Spark DataType (SURVEY.md §1.3)
SPARK_TYPE_FOR: dict[FeatureValueType, T.DataType] = {
    FeatureValueType.INT32: T.IntegerType(),
    FeatureValueType.INT64: T.LongType(),
    FeatureValueType.FLOAT32: T.FloatType(),
    FeatureValueType.FLOAT64: T.DoubleType(),
    FeatureValueType.STRING: T.StringType(),
    FeatureValueType.BOOL: T.BooleanType(),
    FeatureValueType.TIMESTAMP: T.TimestampNTZType(),
    FeatureValueType.ARRAY_INT: T.ArrayType(T.LongType()),
    FeatureValueType.ARRAY_FLOAT: T.ArrayType(T.DoubleType()),
    FeatureValueType.ARRAY_STRING: T.ArrayType(T.StringType()),
    FeatureValueType.EMBEDDING: T.ArrayType(T.FloatType()),
}

#: which union-typed storage slot a value type lands in
SLOT_FOR: dict[FeatureValueType, str] = {
    FeatureValueType.INT32: "value_long",
    FeatureValueType.INT64: "value_long",
    FeatureValueType.FLOAT32: "value_double",
    FeatureValueType.FLOAT64: "value_double",
    FeatureValueType.STRING: "value_string",
    FeatureValueType.BOOL: "value_bool",
    FeatureValueType.TIMESTAMP: "value_ts",
    FeatureValueType.ARRAY_INT: "value_array_long",
    FeatureValueType.ARRAY_FLOAT: "value_array_double",
    FeatureValueType.ARRAY_STRING: "value_array_string",
    FeatureValueType.EMBEDDING: "value_array_double",
}

VALUES_SCHEMA = T.StructType(
    [
        T.StructField("feature_id", T.StringType(), False),
        T.StructField("feature_name", T.StringType(), True),
        T.StructField("entity_type", T.StringType(), True),
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("value_long", T.LongType(), True),
        T.StructField("value_double", T.DoubleType(), True),
        T.StructField("value_string", T.StringType(), True),
        T.StructField("value_bool", T.BooleanType(), True),
        T.StructField("value_ts", T.TimestampNTZType(), True),
        T.StructField("value_array_long", T.ArrayType(T.LongType()), True),
        T.StructField("value_array_double", T.ArrayType(T.DoubleType()), True),
        T.StructField("value_array_string", T.ArrayType(T.StringType()), True),
        T.StructField("event_timestamp", T.TimestampNTZType(), False),
        T.StructField("created_timestamp", T.TimestampNTZType(), False),
        T.StructField("seq", T.LongType(), False),  # stable ingest tiebreak
    ]
)


#: position of ``seq`` in a buffered VALUES_SCHEMA tuple
_SEQ_AT = VALUES_SCHEMA.fieldNames().index("seq")

#: the on-disk log row, VALUES_SCHEMA plus its ``event_date`` partition
#: column, as ONE ``selectExpr`` (~21 py4j commands; a ``select`` of 15
#: names plus ``withColumn`` sent ~90)
_LOG_ROW = [ident(n) for n in VALUES_SCHEMA.fieldNames()] + [
    "CAST(`event_timestamp` AS DATE) AS `event_date`"
]

#: the on-disk log schema (VALUES_SCHEMA + ``event_date``), passed to the
#: read so it skips footer inference
_LOG_SCHEMA = T.StructType(
    list(VALUES_SCHEMA.fields) + [T.StructField("event_date", T.DateType())]
)


class FeatureStatus(str, Enum):
    """Lifecycle (ref feature_registry.py:45-51); transitions at :332-355."""

    DRAFT = "draft"
    ACTIVE = "active"
    DEPRECATED = "deprecated"
    ARCHIVED = "archived"


#: legal lifecycle transitions (ref :332-355: draft→active, active→deprecated,
#: deprecated→archived; anything else rejected)
LIFECYCLE_TRANSITIONS: dict[FeatureStatus, set[FeatureStatus]] = {
    FeatureStatus.DRAFT: {FeatureStatus.ACTIVE, FeatureStatus.ARCHIVED},
    FeatureStatus.ACTIVE: {FeatureStatus.DEPRECATED},
    FeatureStatus.DEPRECATED: {FeatureStatus.ARCHIVED, FeatureStatus.ACTIVE},
    FeatureStatus.ARCHIVED: set(),
}


class PHILevel(str, Enum):
    """PHI classification (ref feature_registry.py:286)."""

    NONE = "none"
    INDIRECT = "indirect"
    DIRECT = "direct"


class FeatureCategory(str, Enum):
    """Healthcare feature categories (ref feature_registry.py:54-69).

    ``FeatureSchema.category`` continues to STORE a plain string
    (documented engine divergence: deployments add domain categories
    without forking the enum), but this enum restores code-level
    drop-in parity for reference callers — and being a ``str``
    subclass, ``FeatureCategory.CLINICAL`` compares equal to the stored
    ``"clinical"``, so both ``schema.category == FeatureCategory.X``
    and ``list_features(category=FeatureCategory.X)`` work unchanged.
    """

    DEMOGRAPHIC = "demographic"
    CLINICAL = "clinical"
    LABORATORY = "laboratory"
    MEDICATION = "medication"
    PROCEDURE = "procedure"
    DIAGNOSIS = "diagnosis"
    VITAL_SIGN = "vital_sign"
    IMAGING = "imaging"
    GENOMIC = "genomic"
    BEHAVIORAL = "behavioral"
    SOCIAL = "social"
    DERIVED = "derived"


@dataclass
class FeatureSchema:
    """Ref feature_registry.py:71-94."""

    name: str
    value_type: FeatureValueType
    description: str = ""
    category: str | FeatureCategory = "derived"
    entity_type: str = "patient"
    is_nullable: bool = True
    default_value: Any = None
    validation_rules: list[str] = field(default_factory=list)
    embedding_dim: int | None = None  # engine extension: EMBEDDING dim check

    def __post_init__(self) -> None:
        # accept the parity enum, store the reference's serialized form
        # (a plain string) so unknown domain categories remain legal
        if isinstance(self.category, Enum):
            self.category = self.category.value

    def to_dict(self) -> dict[str, Any]:
        """Serialization parity with ref :84-94 (category normalizes to a
        plain str at construction, so no .value unwrap)."""
        return {
            "name": self.name,
            "value_type": self.value_type.value,
            "description": self.description,
            "category": self.category,
            "entity_type": self.entity_type,
            "is_nullable": self.is_nullable,
            "default_value": self.default_value,
            "validation_rules": self.validation_rules,
        }


@dataclass
class FeatureSource:
    """Ref feature_registry.py:97-114."""

    source_type: str = "batch"  # batch | stream | derived
    source_location: str = ""
    query: str | None = None
    transformation_logic: str | None = None
    refresh_frequency: str | None = None  # daily | hourly | realtime

    def to_dict(self) -> dict[str, Any]:
        """Serialization parity with ref :107-114."""
        return {
            "source_type": self.source_type,
            "source_location": self.source_location,
            "query": self.query,
            "transformation_logic": self.transformation_logic,
            "refresh_frequency": self.refresh_frequency,
        }


@dataclass
class Feature:
    """Ref feature_registry.py:117-154."""

    feature_id: str
    name: str
    version: str
    schema: FeatureSchema
    source: FeatureSource
    status: FeatureStatus
    owner: str
    created_at: datetime
    updated_at: datetime
    tags: dict[str, str] = field(default_factory=dict)
    dependencies: list[str] = field(default_factory=list)
    phi_level: PHILevel = PHILevel.NONE
    access_roles: list[str] = field(default_factory=list)
    retention_days: int = 2555  # 7y HIPAA (ref :136)

    def to_dict(self) -> dict[str, Any]:
        """Serialization parity with ref :138-154 (phi_level is a typed
        enum here — emitted as its string value, matching the reference's
        raw-string field)."""
        return {
            "feature_id": self.feature_id,
            "name": self.name,
            "version": self.version,
            "schema": self.schema.to_dict(),
            "source": self.source.to_dict(),
            "status": self.status.value,
            "owner": self.owner,
            "created_at": self.created_at.isoformat(),
            "updated_at": self.updated_at.isoformat(),
            "tags": self.tags,
            "dependencies": self.dependencies,
            "phi_level": self.phi_level.value,
            "access_roles": self.access_roles,
            "retention_days": self.retention_days,
        }


@dataclass
class FeatureGroup:
    """Ref feature_registry.py:157-178 (homogeneous entity_type, :366-375)."""

    group_id: str
    name: str
    entity_type: str
    feature_ids: list[str]
    description: str = ""


def make_feature_id(name: str, version: str, entity_type: str) -> str:
    """feat_ + sha256(name:version:entity_type)[:16] (ref :617-625)."""
    digest = hashlib.sha256(f"{name}:{version}:{entity_type}".encode()).hexdigest()
    return f"feat_{digest[:16]}"


def make_group_id(name: str, entity_type: str) -> str:
    """grp_ + sha256(name:entity_type)[:12] (ref :627-630)."""
    digest = hashlib.sha256(f"{name}:{entity_type}".encode()).hexdigest()
    return f"grp_{digest[:12]}"


_PY_VALIDATORS: dict[FeatureValueType, Any] = {
    FeatureValueType.INT32: lambda v: isinstance(v, int) and not isinstance(v, bool),
    FeatureValueType.INT64: lambda v: isinstance(v, int) and not isinstance(v, bool),
    FeatureValueType.FLOAT32: lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
    FeatureValueType.FLOAT64: lambda v: isinstance(v, (int, float)) and not isinstance(v, bool),
    FeatureValueType.STRING: lambda v: isinstance(v, str),
    FeatureValueType.BOOL: lambda v: isinstance(v, bool),
    FeatureValueType.TIMESTAMP: lambda v: isinstance(v, datetime),
    FeatureValueType.ARRAY_INT: lambda v: isinstance(v, list)
    and all(isinstance(x, int) and not isinstance(x, bool) for x in v),
    FeatureValueType.ARRAY_FLOAT: lambda v: isinstance(v, list)
    and all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in v),
    FeatureValueType.ARRAY_STRING: lambda v: isinstance(v, list)
    and all(isinstance(x, str) for x in v),
    FeatureValueType.EMBEDDING: lambda v: isinstance(v, list)
    and all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in v),
}


class FeatureRegistry:
    """Spark-backed registry with the reference's API surface.

    ``storage_dir`` (optional): parquet persistence root for the value and
    audit stores; in-memory buffers flush there.  Without it, values live in
    a driver buffer and materialize as DataFrames on read — fine for tests,
    and the code path (append-only long table → pit read) is identical.
    The on-disk value log is :attr:`log`, a ``stores.AppendStore``
    partitioned by ``event_date`` (``maintenance.apply_retention`` and
    ``maintenance.compact`` take it).
    """

    def __init__(
        self,
        spark: SparkSession,
        storage_dir: str | None = None,
        audit_all_access: bool = True,
    ) -> None:
        self.spark = spark
        self.storage_dir = storage_dir
        self.log = (
            AppendStore(spark, f"{storage_dir}/feature_values", ["event_date"])
            if storage_dir is not None
            else None
        )
        self.audit_all_access = audit_all_access
        self._features: dict[str, Feature] = {}
        self._groups: dict[str, FeatureGroup] = {}
        self._buffer: list[tuple] = []  # pending VALUES_SCHEMA rows
        self._persisted = False
        self._access_log: list[dict[str, Any]] = []
        self._seq = 0
        self._version = 0  # bumped by every append to the value log
        self._lock = threading.Lock()

    # -- registration (ref :253-330) ------------------------------------

    def register_feature(
        self,
        name: str,
        schema: FeatureSchema,
        source: FeatureSource,
        owner: str,
        version: str = "1.0.0",
        description: str = "",
        tags: dict[str, str] | None = None,
        dependencies: list[str] | None = None,
        phi_level: PHILevel | str = PHILevel.NONE,
        access_roles: list[str] | None = None,
        retention_days: int = 2555,
        status: FeatureStatus = FeatureStatus.DRAFT,
    ) -> Feature:
        phi = PHILevel(phi_level)
        roles = list(access_roles or [])
        if phi is not PHILevel.NONE and not roles:
            # ref :290-291: PHI features must declare access roles
            raise ValueError("PHI-classified features require non-empty access_roles")
        if not name:
            raise ValueError("feature name is required")
        fid = make_feature_id(name, version, schema.entity_type)
        if fid in self._features:
            raise ValueError(f"feature already registered: {fid}")
        for dep in dependencies or []:
            if dep not in self._features:
                raise ValueError(f"unknown dependency: {dep}")
        now = _utcnow()
        feature = Feature(
            feature_id=fid,
            name=name,
            version=version,
            schema=schema,
            source=source,
            status=status,
            owner=owner,
            created_at=now,
            updated_at=now,
            tags=dict(tags or {}),
            dependencies=list(dependencies or []),
            phi_level=phi,
            access_roles=roles,
            retention_days=retention_days,
        )
        if description:
            feature.schema.description = description
        self._features[fid] = feature
        return feature

    def get_feature(self, feature_id: str) -> Feature:
        if feature_id not in self._features:
            raise KeyError(f"unknown feature: {feature_id}")
        return self._features[feature_id]

    def materialization_order(self, feature_ids: list[str] | None = None) -> list[str]:
        """Topological order over the dependency DAG (Kahn's algorithm):
        every feature appears after all of its ``dependencies``, so derived
        features (:meth:`materialize_derived_feature`) can be built in one
        forward pass.  The reference stores the dependency list but never
        orders by it (feature_registry.py:131).

        ``feature_ids`` restricts the result to those features plus their
        transitive dependencies.  Deterministic: ready features are emitted
        in sorted id order.  Raises on cycles (registration validates that
        dependencies exist, but a later re-registration under a new version
        could close a loop)."""
        if feature_ids is None:
            wanted = set(self._features)
        else:
            wanted: set[str] = set()
            stack = list(feature_ids)
            while stack:
                fid = stack.pop()
                if fid in wanted:
                    continue
                wanted.add(fid)
                stack.extend(self.get_feature(fid).dependencies)
        pending = {
            fid: {d for d in self._features[fid].dependencies if d in wanted}
            for fid in wanted
        }
        order: list[str] = []
        while pending:
            ready = sorted(fid for fid, deps in pending.items() if not deps)
            if not ready:
                raise ValueError(
                    f"dependency cycle among features: {sorted(pending)}"
                )
            for fid in ready:
                order.append(fid)
                del pending[fid]
            for deps in pending.values():
                deps.difference_update(ready)
        return order

    def get_feature_by_name(
        self, name: str, version: str = "1.0.0", entity_type: str | None = None
    ) -> Feature:
        if entity_type is not None:
            return self.get_feature(make_feature_id(name, version, entity_type))
        matches = [
            f for f in self._features.values() if f.name == name and f.version == version
        ]
        if not matches:
            raise KeyError(f"unknown feature: {name} v{version}")
        if len(matches) > 1:
            raise KeyError(f"ambiguous feature name {name!r}; pass entity_type")
        return matches[0]

    def list_features(
        self,
        category: str | FeatureCategory | None = None,
        entity_type: str | None = None,
        status: FeatureStatus | str | None = None,
        phi_level: PHILevel | str | None = None,
    ) -> list[Feature]:
        """Conjunctive metadata filters (ref :537-556, OP-9)."""
        out = list(self._features.values())
        if category is not None:
            out = [f for f in out if f.schema.category == category]
        if entity_type is not None:
            out = [f for f in out if f.schema.entity_type == entity_type]
        if status is not None:
            out = [f for f in out if f.status == FeatureStatus(status)]
        if phi_level is not None:
            out = [f for f in out if f.phi_level == PHILevel(phi_level)]
        return out

    def update_feature_status(
        self, feature_id: str, new_status: FeatureStatus | str, reason: str | None = None
    ) -> Feature:
        """Lifecycle transition with legality check (ref :332-355)."""
        feature = self.get_feature(feature_id)
        new = FeatureStatus(new_status)
        if new not in LIFECYCLE_TRANSITIONS[feature.status]:
            raise ValueError(
                f"illegal lifecycle transition {feature.status.value} → {new.value}"
            )
        feature.status = new
        feature.updated_at = _utcnow()
        if new is FeatureStatus.DEPRECATED and reason:
            feature.tags["deprecation_reason"] = reason  # ref :352
        return feature

    def activate_feature(self, feature_id: str) -> Feature:
        """Drop-in alias for the reference's API (ref :332-342) — same
        transition, but through the legality check the reference lacks."""
        return self.update_feature_status(feature_id, FeatureStatus.ACTIVE)

    def deprecate_feature(self, feature_id: str, reason: str) -> Feature:
        """Drop-in alias for the reference's API (ref :344-355)."""
        return self.update_feature_status(
            feature_id, FeatureStatus.DEPRECATED, reason=reason
        )

    def create_feature_group(
        self, name: str, entity_type: str, feature_ids: list[str], description: str = ""
    ) -> FeatureGroup:
        """Homogeneous-entity validation (ref :366-375)."""
        for fid in feature_ids:
            feature = self.get_feature(fid)
            if feature.schema.entity_type != entity_type:
                raise ValueError(
                    f"feature {fid} has entity_type {feature.schema.entity_type!r}, "
                    f"group requires {entity_type!r}"
                )
        gid = make_group_id(name, entity_type)
        group = FeatureGroup(gid, name, entity_type, list(feature_ids), description)
        self._groups[gid] = group
        return group

    def get_feature_group(self, group_id: str) -> FeatureGroup:
        if group_id not in self._groups:
            raise KeyError(f"unknown group: {group_id}")
        return self._groups[group_id]

    # -- ingest (ref :400-441, OP-5) -------------------------------------

    def _validate_value(self, feature: Feature, value: Any) -> None:
        """Declared-type check (ref :558-577), with the reference's defects
        fixed: bool is rejected for numeric types; ARRAY_STRING and
        TIMESTAMP are validated; EMBEDDING checks the declared dim."""
        vt = feature.schema.value_type
        if value is None:
            if not feature.schema.is_nullable:
                raise ValueError(f"feature {feature.feature_id} is not nullable")
            return
        if not _PY_VALIDATORS[vt](value):
            raise ValueError(
                f"value {value!r} is not a valid {vt.value} for {feature.feature_id}"
            )
        if vt is FeatureValueType.EMBEDDING and feature.schema.embedding_dim:
            if len(value) != feature.schema.embedding_dim:
                raise ValueError(
                    f"embedding dim {len(value)} != declared {feature.schema.embedding_dim}"
                )
        if feature.schema.validation_rules:
            # §2.10: the reference declares validation_rules but never
            # evaluates them (feature_registry.py:82 — dead config).  Here
            # each rule is a Spark SQL boolean expression over `value`,
            # evaluated by the engine itself so single-value ingest and the
            # bulk path share one semantics.
            one = self.spark.createDataFrame(
                [(value,)],
                T.StructType([T.StructField("value", SPARK_TYPE_FOR[vt], True)]),
            )
            ok_df, bad_df = self.apply_validation_rules(one, feature, "value")
            if bad_df.limit(1).count() > 0:
                raise ValueError(
                    f"value {value!r} violates validation_rules "
                    f"{feature.schema.validation_rules} for {feature.feature_id}"
                )

    def apply_validation_rules(
        self, df: DataFrame, feature: Feature, value_col: str = "value"
    ):
        """Split ``df`` into (valid, violations) by the feature's declared
        validation rules — each a SQL boolean expression over ``value``
        (e.g. ``"value >= 0 AND value <= 200"``).  The bulk-ingest
        quarantine path: violations are kept, not dropped, mirroring
        ``badRecordsPath`` semantics."""
        rules = feature.schema.validation_rules
        if not rules:
            return df, df.limit(0)
        probe = df if value_col == "value" else df.withColumn("value", F.col(value_col))
        cond = None
        for rule in rules:
            c = F.expr(rule)  # rules are written against the column `value`
            cond = c if cond is None else cond & c
        valid = probe.where(cond)
        bad = probe.where(~F.coalesce(cond, F.lit(False)))  # NULL rule → violation
        if value_col != "value":
            valid, bad = valid.drop("value"), bad.drop("value")
        return valid, bad

    def ingest_feature_value(
        self,
        feature_id: str,
        entity_id: str,
        value: Any,
        event_timestamp: datetime | str | None = None,
    ) -> None:
        """Validated append (ref :400-441): only ACTIVE features accept
        values (ref :423-424); created_timestamp is ingest time."""
        feature = self.get_feature(feature_id)
        if feature.status is not FeatureStatus.ACTIVE:
            raise ValueError(
                f"feature {feature_id} is {feature.status.value}, not active"
            )
        self._validate_value(feature, value)
        if isinstance(event_timestamp, str):
            event_timestamp = datetime.fromisoformat(event_timestamp)
        event_ts = event_timestamp or _utcnow()
        slot = SLOT_FOR[feature.schema.value_type]
        if slot == "value_ts" and isinstance(value, datetime):
            value = value.replace(tzinfo=None)
        row = {name: None for name in VALUES_SCHEMA.fieldNames()}
        if feature.schema.value_type in (FeatureValueType.FLOAT32, FeatureValueType.FLOAT64):
            value = float(value) if value is not None else None
        if feature.schema.value_type in (
            FeatureValueType.ARRAY_FLOAT,
            FeatureValueType.EMBEDDING,
        ) and value is not None:
            value = [float(x) for x in value]
        row.update(
            feature_id=feature_id,
            feature_name=feature.name,
            entity_type=feature.schema.entity_type,
            entity_id=str(entity_id),
            event_timestamp=event_ts.replace(tzinfo=None),
            created_timestamp=_utcnow(),
        )
        row[slot] = value
        with self._lock:
            row["seq"] = self._seq
            self._seq += 1
            self._buffer.append(tuple(row[n] for n in VALUES_SCHEMA.fieldNames()))
            self._version += 1

    def materialize_derived_feature(
        self,
        feature_id: str,
        source_df: DataFrame,
        entity_col: str,
        ts_col: str,
    ) -> DataFrame:
        """§2.10: execute a derived feature's ``transformation_logic`` — a
        Spark SQL expression over the source columns (the reference stores
        this string but never runs it, feature_registry.py:104).  Returns
        the VALUES_SCHEMA-shaped rows (validated + rule-checked) ready for
        :meth:`ingest_values_df`; violations are dropped here because bulk
        callers quarantine via :meth:`apply_validation_rules` themselves
        when they need the rejects."""
        feature = self.get_feature(feature_id)
        logic = (feature.source.transformation_logic or "").strip()
        if feature.source.source_type != "derived" or not logic:
            raise ValueError(
                f"feature {feature_id} has no derived transformation_logic"
            )
        slot = SLOT_FOR[feature.schema.value_type]
        now = _utcnow()
        out = source_df.select(
            F.lit(feature.feature_id).alias("feature_id"),
            F.lit(feature.name).alias("feature_name"),
            F.lit(feature.schema.entity_type).alias("entity_type"),
            F.col(entity_col).cast("string").alias("entity_id"),
            F.expr(logic).cast(SPARK_TYPE_FOR[feature.schema.value_type]).alias("value"),
            F.col(ts_col).cast("timestamp_ntz").alias("event_timestamp"),
        )
        valid, _bad = self.apply_validation_rules(out, feature, "value")
        row_cols = []
        for name in VALUES_SCHEMA.fieldNames():
            if name == slot:
                row_cols.append(F.col("value").alias(slot))
            elif name in ("feature_id", "feature_name", "entity_type", "entity_id", "event_timestamp"):
                row_cols.append(F.col(name))
            elif name == "created_timestamp":
                row_cols.append(F.lit(now).cast("timestamp_ntz").alias(name))
            elif name == "seq":
                row_cols.append(F.monotonically_increasing_id().alias(name))
            else:
                field_type = VALUES_SCHEMA[name].dataType
                row_cols.append(F.lit(None).cast(field_type).alias(name))
        return valid.select(*row_cols)

    def ingest_values_df(self, df: DataFrame) -> None:
        """Bulk ingest: a DataFrame already in VALUES_SCHEMA layout is
        appended to the persistent store (the scale path — no driver loop)."""
        if self.storage_dir is None:
            raise ValueError("bulk ingest requires storage_dir")
        self.flush()
        self._append_log(df)
        with self._lock:
            self._version += 1

    @property
    def values_version(self) -> int:
        """Counter of appends to the value log (both ingest paths).
        Readers that derive state from :meth:`values_df` compare it to
        the version they built from; :meth:`flush` only moves rows from
        the buffer to disk, so it leaves the version alone."""
        return self._version

    def buffered_since(self, seq: int) -> tuple[int, list[tuple]]:
        """The current :attr:`values_version` and the buffered rows whose
        ``seq`` is above ``seq``, oldest first, read under one lock.  A
        reader that holds state as of some version and ``seq`` mark can
        apply these rows when their count equals the version delta; a bulk
        ingest, or a :meth:`flush` that moved such rows to disk, leaves the
        count short."""
        with self._lock:
            i = len(self._buffer)  # rows are appended in seq order
            while i and self._buffer[i - 1][_SEQ_AT] > seq:
                i -= 1
            return self._version, self._buffer[i:]

    def flush(self) -> None:
        """Persist buffered driver-side rows (append-only blind write)."""
        if not self._buffer or self.storage_dir is None:
            return
        self._append_log(self.spark.createDataFrame(self._buffer, VALUES_SCHEMA))
        self._buffer.clear()

    def _append_log(self, df: DataFrame) -> None:
        self.log.append(df.selectExpr(*_LOG_ROW))
        self._persisted = True

    def values_df(self) -> DataFrame:
        """The long EAV table (buffer ∪ persisted)."""
        parts = []
        if self._persisted:
            parts.append(self.log.read(_LOG_SCHEMA).drop("event_date"))
        if self._buffer:
            parts.append(self.spark.createDataFrame(self._buffer, VALUES_SCHEMA))
        if not parts:
            return self.spark.createDataFrame([], VALUES_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def registry_df(self) -> DataFrame:
        """Catalog as a (broadcastable) DataFrame for plan-side joins."""
        rows = [
            (
                f.feature_id,
                f.name,
                f.version,
                f.schema.value_type.value,
                f.schema.category,
                f.schema.entity_type,
                f.status.value,
                f.owner,
                f.phi_level.value,
                f.access_roles,
                f.tags,
                f.dependencies,
                f.retention_days,
            )
            for f in self._features.values()
        ]
        schema = (
            "feature_id string, name string, version string, value_type string,"
            " category string, entity_type string, status string, owner string,"
            " phi_level string, access_roles array<string>, tags map<string,string>,"
            " dependencies array<string>, retention_days int"
        )
        return self.spark.createDataFrame(rows, schema)

    # -- reads (ref :443-535, OP-15) --------------------------------------

    def _check_access(
        self, feature: Feature, user_id: str | None, user_roles: list[str] | None
    ) -> None:
        """ACL gate before data access (ref :469-475)."""
        if feature.phi_level is PHILevel.NONE:
            return
        roles = set(user_roles or [])
        if roles & set(feature.access_roles):
            return
        self._log_access(feature.feature_id, None, user_id, "access_denied")
        raise PermissionError(
            f"user {user_id!r} lacks access to PHI feature {feature.feature_id}"
        )

    def _log_access(
        self, feature_id: str, entity_id: str | None, user_id: str | None, action: str
    ) -> None:
        """Audit append (ref :579-615, OP-6)."""
        self._access_log.append(
            {
                "ts": _utcnow(),
                "feature_id": feature_id,
                "entity_id": entity_id,
                "user_id": user_id,
                "action": action,
            }
        )

    def access_log_df(self) -> DataFrame:
        schema = (
            "ts timestamp_ntz, feature_id string, entity_id string,"
            " user_id string, action string"
        )
        rows = [tuple(r.values()) for r in self._access_log]
        return self.spark.createDataFrame(rows, schema)

    def get_feature_value(
        self,
        feature_id: str,
        entity_id: str,
        as_of: datetime | str | None = None,
        user_id: str | None = None,
        user_roles: list[str] | None = None,
        system_time: datetime | str | None = None,
    ) -> Any:
        """OP-15 (ref :443-496): newest value with event_ts <= as_of for one
        (feature, entity); deterministic tie-break (event_ts, created_ts,
        seq) desc.  Returns the typed value or None.

        ``system_time``: bitemporal ingestion-time travel (SURVEY §1.2 — the
        Delta/Iceberg snapshot-read analog on the EAV log): only values
        INGESTED at or before ``system_time`` are visible, so a read issued
        with the same (as_of, system_time) pair reproduces exactly what a
        job running at ``system_time`` saw, even after late data or
        corrections landed.  The append-only store makes this a pure filter
        on ``created_timestamp``."""
        feature = self.get_feature(feature_id)
        self._check_access(feature, user_id, user_roles)
        df = self.values_df().where(
            (F.col("feature_id") == feature_id)
            & (F.col("entity_id") == str(entity_id))
        )
        df = as_of_filter(df, "event_timestamp", as_of)
        df = as_of_filter(df, "created_timestamp", system_time)
        latest = latest_per_key(
            df,
            ["feature_id", "entity_id"],
            "event_timestamp",
            tiebreak=["created_timestamp", "seq"],
        )
        rows = latest.collect()
        if self.audit_all_access:
            self._log_access(feature_id, str(entity_id), user_id, "access")
        if not rows:
            return None
        return rows[0][SLOT_FOR[feature.schema.value_type]]

    def get_feature_vector(
        self,
        entity_id: str,
        feature_ids: list[str],
        as_of: datetime | str | None = None,
        user_id: str | None = None,
        user_roles: list[str] | None = None,
        system_time: datetime | str | None = None,
    ) -> dict[str, Any]:
        """OP-12 (ref :498-535): name→value dict; denied PHI features are
        nulled, not raised (ref :526-528)."""
        out: dict[str, Any] = {}
        for fid in feature_ids:
            feature = self.get_feature(fid)
            try:
                out[feature.name] = self.get_feature_value(
                    fid, entity_id, as_of=as_of, user_id=user_id,
                    user_roles=user_roles, system_time=system_time,
                )
            except PermissionError:
                out[feature.name] = None
        return out
