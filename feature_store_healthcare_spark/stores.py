"""Physical stores: merge-maintained latest table + append-only log.

The reference's online store is a mutable dict (feature_server.py:203) and
the offline store an append-only list (:204).  Spark-native equivalents:

- :class:`AppendStore` — append-only partitioned parquet: blind writes, the
  system of record (the registry's value log is one).  Retention and
  compaction rewrite it as a new version of its root, committed by the
  same pointer flip as every other rewritten directory here
  (:func:`tableops.write_version`).  (With Delta/Iceberg available this is
  a Delta table; plain parquet keeps the container dependency-free — the
  access pattern is identical.)
- :class:`LatestStore` — one row per key, maintained by merge: each merge
  unions the update batch with the current snapshot, reduces with the
  deterministic latest-per-key argmax (event-ts guard → late/out-of-order
  updates can never regress a newer value, OP-44), and writes a NEW
  versioned snapshot directory, then flips a pointer file.  That is MERGE
  semantics with snapshot isolation on plain parquet; on Delta it becomes
  ``MERGE INTO ... WHEN MATCHED AND source.ts > target.ts``.

Scale note: LatestStore rewrites the snapshot per merge — right for
latest tables (small: one row/entity) merged per micro-batch; the 100 TB
history lives in AppendStore, which rewrites only on scheduled
maintenance.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.operators.pit import latest_per_key
from feature_store_healthcare_spark.sqlgen import table_ident


class AppendStore:
    """Append-only parquet log, optionally partitioned (e.g. event_date),
    kept as a versioned root (:func:`tableops.write_version`): the first
    append commits ``v000001/``, later appends add files to the current
    version, and a rewrite (:meth:`rewrite` — retention, compaction)
    commits a whole new version with the same single pointer flip."""

    def __init__(self, spark: SparkSession, path: str, partition_by: list[str] | None = None):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by or []

    def _write(self, df: DataFrame, target: str) -> None:
        writer = df.write.mode("append")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(target)

    def append(self, df: DataFrame) -> None:
        version = tableops.current_version(self.path)
        if version is None:
            tableops.write_version(self.path, lambda d: self._write(df, d))
        else:
            self._write(df, tableops.version_dir(self.path, version))

    def read(self, schema: StructType | None = None) -> DataFrame:
        """The current version; ``schema`` skips footer inference."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(tableops.current_dir(self.path))

    def rewrite(self, fn) -> None:
        """Replace the log with ``fn(current rows)``, partitioned as the
        log is, under the compaction lease (:func:`tableops.
        compact_version`): a crash before the flip leaves the previous
        version serving.  An append that lands in the old version after
        the rewrite read it is not carried over."""
        tableops.compact_version(
            self.path,
            lambda src, new: self._write(fn(self.spark.read.parquet(src)), new),
        )


class LatestStore:
    """Latest-value table with versioned-snapshot merge (parquet MERGE).

    ``keep_versions`` retains that many superseded snapshots after each
    merge (default 1 → current only), enabling Delta-style table time
    travel on the ONLINE side: ``read(version=n)`` / ``versions()`` answer
    "what was being served at version n" — the serving-layer complement of
    the registry's ``system_time`` travel over the append-only EAV log.

    Schema memo: each instance remembers the ``(version, schema)`` of the
    last snapshot IT committed, set only after the pointer flip succeeds.
    A read of that version passes the schema to ``spark.read.schema``
    instead of inferring it, which saves one footer-inference Spark job
    (~65 ms) per merge.  Any other version is inferred from its files: a
    cold instance, a snapshot another writer flipped to, or an older
    retained version."""

    def __init__(self, spark: SparkSession, path: str, keep_versions: int = 1):
        self.spark = spark
        self.path = path
        self.keep_versions = max(1, keep_versions)
        self._committed: tuple[int, StructType] | None = None
        os.makedirs(path, exist_ok=True)

    def versions(self) -> list[int]:
        """Snapshot versions still on disk, oldest first."""
        return tableops.versions(self.path)

    def read(self, version: int | None = None) -> DataFrame | None:
        """Current snapshot, or time-travel to a retained ``version``."""
        if version is not None:
            if version not in self.versions():
                raise ValueError(
                    f"version {version} not retained (have {self.versions()})"
                )
        else:
            version = tableops.current_version(self.path)
            if version is None:
                return None
        reader = self.spark.read
        if self._committed is not None and self._committed[0] == version:
            reader = reader.schema(self._committed[1])
        return reader.parquet(tableops.version_dir(self.path, version))

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        ts_col: str,
        tiebreak: list[str] | None = None,
    ) -> None:
        """Upsert: latest-per-key over (current ∪ updates).  The argmax on
        ``(ts_col, *tiebreak)`` IS the merge guard — an update older than
        the stored row loses, matching ``WHEN MATCHED AND source.ts >
        target.ts THEN UPDATE``.  The one latest-wins merge of the
        package: ``tableops.upsert`` (the streaming CDC fold) is this."""
        tiebreak = tiebreak or []
        current = self.read()
        merged = updates if current is None else current.unionByName(updates)
        latest = latest_per_key(merged, keys, ts_col, tiebreak=tiebreak)
        new = tableops.write_version(
            self.path,
            lambda d: latest.write.mode("overwrite").parquet(d),
            keep=self.keep_versions,
        )
        self._committed = (new, latest.schema)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed by ``bucket_col`` as an external table.

    Bucketing is the co-located-join layout for the 100 TB EAV store
    (SURVEY.md §4.2): two tables bucketed by the same key with the same
    bucket count join with NO shuffle exchange — each task zips bucket i
    with bucket i.  The optional ``sort_col`` pre-sorts within buckets so
    sort-merge joins also skip the sort.  The spine/values PIT join and the
    online/offline parity diff are the main beneficiaries.
    """
    writer = (
        df.write.mode(mode)
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def local_path(uri: str) -> str:
    """A catalog/conf location as a bare filesystem path: strip the
    ``file:``/``file://`` scheme this container's local catalog reports.
    The single helper behind every path comparison and warehouse-relative
    write in this repo — scheme handling must not drift between call
    sites."""
    for prefix in ("file://", "file:"):
        if uri.startswith(prefix):
            return uri[len(prefix):]
    return uri


def read_table(spark: SparkSession, table: str, swap_retry: bool = True) -> DataFrame:
    """Read a bucketed table by catalog name (bucket metadata only survives
    the catalog path — reading the parquet files directly loses it).

    ``swap_retry``: :func:`compact_bucketed`'s swap is drop-then-rename
    (non-atomic — no ACID table format in this container), so a reader
    resolving the name inside that window sees TABLE_OR_VIEW_NOT_FOUND
    with the replacement milliseconds away.  The default retries THAT
    error — identified by its error condition when the exception
    carries one, else by the condition NAME in the message text — for
    ~2.5 s before giving up: the documented reader-side half of the
    swap contract.  Every other analysis error is permanent and raises
    immediately.  The message-text fallback exists because older
    PySpark lacks ``getCondition`` and an unclassified
    (``getCondition() is None``) swap-window error would otherwise
    silently turn the retry contract into fail-fast; a genuinely
    different failure (e.g. a broken view) doesn't contain the
    condition name and still fails fast.  Pass False for fail-fast
    semantics."""
    from pyspark.errors import AnalysisException

    attempts = 10 if swap_retry else 1
    for i in range(attempts):
        try:
            return spark.table(table)
        except AnalysisException as exc:
            condition = getattr(exc, "getCondition", None)
            name = condition() if condition is not None else None
            haystack = str(name) if name is not None else str(exc)
            if i == attempts - 1 or "TABLE_OR_VIEW_NOT_FOUND" not in haystack:
                raise
            time.sleep(0.25)
    raise AssertionError("unreachable")


def _bucket_spec(
    spark: SparkSession, table: str
) -> tuple[list[str], int, list[str], str]:
    """(bucket columns, bucket count, sort columns, location) from the
    catalog — the source of truth a maintenance rewrite must match."""
    info = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_ident(table)}").collect()
    }
    if "Num Buckets" not in info:
        raise ValueError(f"{table!r} is not a bucketed table")

    def names(s: str) -> list[str]:
        return [c.strip(" `") for c in s.strip("[]").split(",") if c.strip()]

    return (
        names(info["Bucket Columns"]),
        int(info["Num Buckets"]),
        names(info.get("Sort Columns", "[]")),
        info["Location"],
    )


#: path-keyed sidecar files that must travel with a table when compaction
#: relocates it (suffix appended to the table's location path)
_SIDECAR_SUFFIXES = ("__family",)


def compact_bucketed(spark: SparkSession, table: str, new_path: str) -> str:
    """Rewrite an append-grown bucketed table so each bucket holds ONE file
    — the periodic maintenance step behind ``mode="append"`` writers
    (``dedup.append_band_index`` most of all: every daily append adds a
    file per bucket, and a year of appends makes each bucket-local probe
    open ~365 small files).  Bucket membership is correct at any file
    count, so compaction changes COST, never results.

    The rewrite reuses the table's own catalog spec (bucket columns/count,
    sort columns) — never caller-supplied, so it cannot silently change
    the layout — and pre-partitions by the bucket expression so each
    write task emits exactly its one bucket file.  ``new_path`` must be a
    FRESH location: writing over the table's current location would
    delete the very files the compaction scan is reading (guarded with a
    ``ValueError``).

    The swap is drop-and-rename through the catalog: metadata-quick but
    NOT atomic (this engine has no ACID table format in the container — a
    real deployment would be one ``REPLACE TABLE`` on Delta/Iceberg).
    Contract for the window between DROP and RENAME: concurrent readers
    go through :func:`read_table`, whose default retry loop outlasts the
    window; a CRASH inside it loses no data — the compacted table exists,
    fully written, under ``{table}__compact`` at ``new_path``, and
    recovery is re-issuing the RENAME.  Returns the OLD location for the
    caller to delete once no reader needs it.

    Concurrent COMPACTORS are excluded by the flock-backed lease
    (:func:`tableops.acquire_compaction_lease`, keyed on the table's
    current location): two maintenance jobs racing the drop/rename swap
    was the one remaining single-writer surface after round 9 made
    postings stats append-only.  A second compactor gets
    :class:`tableops.LeaseHeldError` instead of corrupting the swap; a crashed holder's kernel lock drops
    with its process, so the next compactor takes over immediately.
    """
    bucket_cols, n_buckets, sort_cols, old_location = _bucket_spec(spark, table)
    if os.path.abspath(local_path(new_path)) == os.path.abspath(
        local_path(old_location)
    ):
        raise ValueError(
            f"compact_bucketed new_path={new_path!r} is {table!r}'s current "
            "location — the overwrite would delete the files the compaction "
            "scan is reading. Compact into a fresh directory and delete the "
            "returned old location afterwards."
        )
    if len(bucket_cols) != 1 or len(sort_cols) > 1:
        raise NotImplementedError(
            "compact_bucketed mirrors write_bucketed's single bucket/sort "
            f"column contract; {table!r} has {bucket_cols=} {sort_cols=}"
        )
    # Read the FILES, not the catalog table: the bucketed scan advertises
    # HashPartitioning(bucket_col, n) so the planner elides the repartition
    # below as redundant — but the actual task layout of a many-files-per-
    # bucket table is file splits, and the write would emit one file per
    # (task, bucket) instead of one per bucket.  A plain parquet scan keeps
    # the exchange, and write-side bucket assignment comes from the row
    # VALUES, so correctness never depended on the scan's metadata.
    lease, lease_owner = tableops.acquire_compaction_lease(old_location)
    try:
        compacted = spark.read.parquet(old_location).repartition(
            n_buckets, F.col(bucket_cols[0])
        )
        tmp = f"{table}__compact"
        spark.sql(f"DROP TABLE IF EXISTS {table_ident(tmp)}")
        write_bucketed(
            compacted,
            tmp,
            bucket_cols[0],
            n_buckets,
            new_path,
            sort_col=sort_cols[0] if sort_cols else None,
        )
        spark.sql(f"DROP TABLE {table_ident(table)}")
        spark.sql(
            f"ALTER TABLE {table_ident(tmp)} RENAME TO {table_ident(table)}"
        )
        # Migrate path-keyed sidecar markers (the LSH band index's
        # ``{path}__family`` hash-family stamp) to the new location:
        # without this, routine compaction stranded the index marker-less
        # — the next append/probe refused with "rebuild" (a full-corpus
        # rebuild for a maintenance step) while the stale marker lived on
        # next to the DELETED old path.  MOVE, not copy, so nothing
        # vouches for data that is about to be removed.
        for suffix in _SIDECAR_SUFFIXES:
            src = local_path(old_location).rstrip(os.sep) + suffix
            if os.path.exists(src):
                os.replace(src, local_path(new_path).rstrip(os.sep) + suffix)
    finally:
        tableops.release_compaction_lease(lease, lease_owner)
    return old_location


# ---------------------------------------------------------------------------
# KV export — the documented online-latency gap (SURVEY.md §4.2), closed
# ---------------------------------------------------------------------------

#: default bucket count for the exported KV layout; at 100 TB size so each
#: bucket directory holds one or a few row groups (≤ ~128 MB).
KV_BUCKETS = 64


def kv_bucket_py(entity_type: str, entity_id: str, n_buckets: int = KV_BUCKETS) -> int:
    """The bucket a key lands in — computed WITHOUT Spark (hashlib.md5), so
    a point-get client needs no cluster round-trip to locate its partition.
    Must stay in lockstep with :func:`kv_bucket_col`."""
    import hashlib

    digest = hashlib.md5(f"{entity_type}:{entity_id}".encode()).hexdigest()
    return int(digest[:8], 16) % n_buckets


def kv_bucket_col(
    entity_type_col: str = "entity_type",
    entity_id_col: str = "entity_id",
    n_buckets: int = KV_BUCKETS,
):
    """Spark-side twin of :func:`kv_bucket_py`: first 8 hex chars of
    md5("type:id") mod n.  md5 (not xxhash64) because the client side must
    reproduce it in plain Python."""
    key = F.concat_ws(":", F.col(entity_type_col), F.col(entity_id_col))
    return F.pmod(
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )


def export_online_kv(
    latest_df: DataFrame,
    path: str,
    n_buckets: int = KV_BUCKETS,
    entity_type_col: str = "entity_type",
    entity_id_col: str = "entity_id",
) -> None:
    """Export the online latest table to a hash-bucketed directory layout
    for O(1)-ish point reads — the job that fronts Spark with a KV-shaped
    store (the reference's 100 ms online SLA, feature_server.py:105, is out
    of reach for a full-table Spark job; a point-get against one bucket
    directory of a local/object store is not).

    Layout: ``path/__kvb=<bucket>/part-*.parquet``, rows sorted by key
    within each bucket so row-group min/max statistics prune within the
    bucket too."""
    out = latest_df.withColumn(
        "__kvb", kv_bucket_col(entity_type_col, entity_id_col, n_buckets)
    )
    (
        out.repartition(n_buckets, F.col("__kvb"))
        .sortWithinPartitions(entity_type_col, entity_id_col)
        .write.mode("overwrite")
        .partitionBy("__kvb")
        .parquet(path)
    )


def kv_point_get(
    spark: SparkSession,
    path: str,
    entity_type: str,
    entity_id: str,
    n_buckets: int = KV_BUCKETS,
) -> DataFrame:
    """Point read from an exported KV layout: the bucket is computed
    client-side (no Spark job), so the scan's PartitionFilters prune to ONE
    bucket directory before any I/O; min/max stats then skip row groups
    within it."""
    bucket = kv_bucket_py(entity_type, entity_id, n_buckets)
    return (
        spark.read.parquet(path)
        .where(F.col("__kvb") == bucket)
        .where(
            (F.col("entity_type") == entity_type) & (F.col("entity_id") == entity_id)
        )
        .drop("__kvb")
    )
