"""Apache Iceberg binding of the :mod:`tableops` seam (round-12,
companion to :mod:`tableops_delta`): the documented table-format mapping
as executable code against the public Iceberg Spark integration
(https://iceberg.apache.org/docs/latest/spark-writes/).

Differences from the Delta binding that the seam's callers must know:

- **Identifiers, not paths.**  Iceberg tables live in a configured
  catalog (``spark.sql.catalog.<name>`` = ``SparkCatalog``), so the
  ``state_path`` argument is a TABLE IDENTIFIER (``catalog.db.table``).
  The parameter keeps its seam name so the three implementations stay
  signature-compatible (pinned by tests/test_tableops_iceberg.py).
- **MERGE is SQL.**  Iceberg's Spark MERGE surface is the SQL statement
  (enabled by ``IcebergSparkSessionExtensions``), so :func:`upsert`
  registers the reduced batch as a temp view and issues ``MERGE INTO``
  with the same strict-lexicographic newer-guard the other two
  implementations apply (:func:`tableops_delta.newer_condition` is
  reused verbatim — one guard, three engines).
- **Replay protection is snapshot metadata.**  Iceberg has no
  txnAppId/txnVersion writer identity; the documented equivalent is
  custom snapshot summary properties.  :func:`append_idempotent` stamps
  each commit with ``(txn-id, batch-id)`` via the ``snapshot-property.*``
  write options and skips a batch whose stamp already appears in the
  table's ``.snapshots`` metadata table — at-least-once replay becomes
  exactly-once effect, same contract as the marker file / Delta txn.

Iceberg-touching work happens only inside functions; the module imports
cleanly everywhere.  Integration tests are env-gated on
``FSHS_ICEBERG_CATALOG`` (a configured catalog name) since the runtime
jar is absent in this container.

Mapping recap:

=====================  ====================================================
function               Iceberg transaction
=====================  ====================================================
``upsert``             ``MERGE INTO t USING batch ON keys WHEN MATCHED AND
                       batch newer THEN UPDATE SET * WHEN NOT MATCHED THEN
                       INSERT *``
``merge_fold``         read snapshot → fold → ``writeTo().createOrReplace``
``append``             ``writeTo().append()``
``append_idempotent``  append + snapshot-property stamp, skip on replay
``compact``            ``CALL <catalog>.system.rewrite_data_files``
=====================  ====================================================
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from feature_store_healthcare_spark.tableops_delta import newer_condition

__all__ = [
    "append",
    "append_idempotent",
    "compact",
    "merge_fold",
    "merge_into_sql",
    "newer_condition",
    "upsert",
]


def _table_exists(spark: SparkSession, table: str) -> bool:
    return spark.catalog.tableExists(table)


def merge_into_sql(
    table: str, view: str, keys: Iterable[str], ts_col: str,
    tiebreak: Iterable[str] = (),
) -> str:
    """The full MERGE statement :func:`upsert` issues — pure string
    construction (unit-testable without Iceberg).  ``s``/``b`` aliases
    match the other bindings; the newer-guard is shared."""
    on = " AND ".join(f"b.`{k}` <=> s.`{k}`" for k in keys)
    return (
        f"MERGE INTO {table} s USING {view} b ON {on} "
        f"WHEN MATCHED AND ({newer_condition(ts_col, tiebreak)}) "
        f"THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def upsert(
    batch: DataFrame,
    state_path: str,
    keys: Iterable[str],
    ts_col: str,
    tiebreak: Iterable[str] = (),
    marker: dict | None = None,
) -> None:
    """Latest-wins upsert as ONE Iceberg MERGE commit (``state_path`` is
    a table identifier).  Same reduce-then-merge shape as the Delta
    binding (a MERGE rejects two source rows for one target row);
    replaying an applied batch is a no-op MERGE.  ``marker``
    accepted for signature parity and ignored (the commit is atomic)."""
    from feature_store_healthcare_spark.operators import cdc

    keys, tiebreak = list(keys), list(tiebreak)
    spark = batch.sparkSession
    latest = cdc.latest_change(batch, keys, ts_col, tiebreak=tiebreak)
    if not _table_exists(spark, state_path):
        latest.writeTo(state_path).create()
        return
    view = f"__fshs_upsert_batch_{abs(hash(state_path)) % 10**8}"
    latest.createOrReplaceTempView(view)
    try:
        spark.sql(merge_into_sql(state_path, view, keys, ts_col, tiebreak))
    finally:
        spark.catalog.dropTempView(view)


def merge_fold(
    batch: DataFrame,
    state_path: str,
    fold_fn,
    marker: dict | None = None,
) -> None:
    """Arbitrary read-modify-write committed as one ``createOrReplace``
    (Iceberg's full-table REPLACE transaction; optimistic concurrency
    aborts a lost-update racer at commit)."""
    spark = batch.sparkSession
    existing = (
        spark.read.table(state_path) if _table_exists(spark, state_path) else None
    )
    fold_fn(existing, batch).writeTo(state_path).createOrReplace()


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Blind ACID append (``path`` is a table identifier).  Partitioning
    is a table property in Iceberg — set at creation — so
    ``partition_by`` only applies when this append creates the table."""
    if not _table_exists(df.sparkSession, path):
        w = df.writeTo(path)
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.create()
        return
    df.writeTo(path).append()


def _replayed(spark: SparkSession, table: str, txn_id: str, batch_id: int) -> bool:
    """Has a snapshot stamped (txn_id, batch_id) already committed?

    The predicate is pushed into SQL with LIMIT 1 (r12 ADVICE #3: the
    original collected the ENTIRE ``.snapshots`` metadata table to the
    driver per append — O(total commits) per batch, quadratic over a
    long-lived stream).  ``summary`` is a MAP column; element lookups
    filter engine-side, and at most one row ever reaches the driver."""
    rows = spark.sql(
        f"""
        SELECT 1 FROM {table}.snapshots
        WHERE summary['fshs-txn-id'] = '{_sql_quote(txn_id)}'
          AND summary['fshs-batch-id'] = '{_sql_quote(str(batch_id))}'
        LIMIT 1
        """
    ).collect()
    return bool(rows)


def _sql_quote(s: str) -> str:
    """Escape a string literal for embedding in the snapshot-property
    predicate (txn ids are caller-supplied).  Backslashes first: Spark
    SQL string literals process C-style escapes by default, so a value
    ending in ``\\`` would otherwise escape the closing quote — a parse
    error per micro-batch, or a wrong predicate whose false-negative
    ``_replayed`` means a duplicate append (r13 ADVICE #1)."""
    return s.replace("\\", "\\\\").replace("'", "''")


def append_idempotent(
    df: DataFrame, path: str, txn_id: str, batch_id: int,
    partition_by: list[str] | None = None,
) -> None:
    """Append stamped with a ``(txn_id, batch_id)`` snapshot property;
    a replayed pair is detected in the table's ``.snapshots`` metadata
    and skipped — Iceberg's documented custom-snapshot-metadata route to
    the exactly-once-effect contract (Delta: txnAppId/txnVersion;
    plain parquet: the marker file)."""
    spark = df.sparkSession
    if _table_exists(spark, path) and _replayed(spark, path, txn_id, batch_id):
        return
    w = (
        df.writeTo(path)
        .option("snapshot-property.fshs-txn-id", txn_id)
        .option("snapshot-property.fshs-batch-id", str(batch_id))
    )
    if not _table_exists(spark, path):
        w.create()
    else:
        w.append()


def compact(spark: SparkSession, path: str) -> None:
    """``rewrite_data_files`` — bin-packing compaction under Iceberg's
    commit protocol; readers keep resolving consistent snapshots, so the
    plain-parquet lease/swap machinery has nothing left to replace."""
    catalog, _, ident = path.partition(".")
    spark.sql(
        f"CALL {catalog}.system.rewrite_data_files(table => '{ident}')"
    )
