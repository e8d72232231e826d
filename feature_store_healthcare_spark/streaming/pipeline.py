"""Streaming feature pipelines (OP-43..47).

Design (SURVEY.md §2.9): ``readStream`` on an events source → watermarked
event-time windows (tumbling/sliding/session) for derived features →
``foreachBatch`` doing the dual write the reference does synchronously
(feature_server.py:410-455): merge-upsert the online latest table guarded by
``event_ts`` (late rows never regress the online value, OP-44) AND append to
the offline long store (late rows still land there — bitemporal append model,
feature_registry.py:438-439).

Scale notes: watermark bounds state; the online upsert merges each batch
with one latest-per-key argmax whose ``max`` aggregate combines map-side,
so the shuffle is proportional to *distinct keys*, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feature_store_healthcare_spark import tableops
from feature_store_healthcare_spark.stores import LatestStore

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """OP-43: file-source stream of event rows (json/parquet drop dir).
    In production this is Kafka/Kinesis; the file source exercises the same
    incremental execution."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(source_dir)


def tumbling_window_features(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """OP-45: tumbling event-time windows with late-data bound (OP-44)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "user_id", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_window_features(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """OP-45: sliding windows (overlapping) — e.g. purchase_total_1h
    refreshed every 30 min (the ref's refresh_frequency analog)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), "user_id")
        .agg(F.sum("value").alias("sum_value"), F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "sum_value",
            "n",
        )
    )


def session_window_features(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """OP-45: session windows — activity sessions per user separated by
    ``gap`` of inactivity."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def streaming_dedup(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """OP-46: stateful dedup bounded by the watermark — exactly-once-ish
    event feed from an at-least-once source."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_interval_join(
    purchases: DataFrame,
    clicks: DataFrame,
    interval: str = "1 HOUR",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of the batch PIT /
    trailing-window joins: each purchase is enriched with the same user's
    clicks from the trailing ``interval`` ending at (and including) the
    purchase time.

    Both sides are watermarked and the join condition time-bounds the
    click relative to the purchase, so Spark can expire buffered state for
    both streams (state ∝ events inside watermark+interval, not the full
    history) — the requirement for an unbounded 100 TB/day feed.  Inner
    join ⇒ append output mode."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {interval}"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", F.col("p_user").alias("user_id"), "p_ts",
        "purchase_value", "click_id", "c_ts", "click_value",
    )


def streaming_online_upsert(
    stream: DataFrame,
    store,
    keys: list[str],
    ts_col: str = "ts",
    tiebreak: list[str] | None = None,
    checkpoint_dir: str | None = None,
    queryName: str = "online_upsert",
):
    """OP-43/44: foreachBatch dual-path maintenance of the online latest
    table.  Each micro-batch is merged into the store with an event-ts
    guard — an out-of-order event can never overwrite a newer online
    value, while the offline append keeps every row (callers append the
    raw stream separately).  ``store`` is stores.LatestStore or anything
    with ``merge(df, keys, ts_col, tiebreak)``."""
    tiebreak = tiebreak or []

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.merge(batch_df, keys, ts_col, tiebreak)

    return _maintenance_writer(stream, _upsert, queryName, checkpoint_dir)


def _maintenance_writer(stream: DataFrame, fb, queryName: str, checkpoint_dir: str | None):
    """The shared writer tail of every ``foreachBatch`` maintainer here."""
    writer = (
        stream.writeStream.foreachBatch(fb)
        .outputMode("update")
        .queryName(queryName)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def _refresh_tables(spark: SparkSession, *tables: str):
    """Post-append cache invalidation for the driver session (see
    :func:`tableops.idempotent_commit`): drop the cached relation (file
    listing) of each index table so the next probe re-lists.  Targeted —
    one call per applied batch per table, never a blanket
    ``clearCache``."""

    def _do() -> None:
        for t in tables:
            spark.catalog.refreshTable(t)

    return _do


def streaming_postings_maintenance(
    stream: DataFrame,
    table: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "postings_maintenance",
):
    """Streaming half of the stored text-index lifecycle: every
    micro-batch of documents appends into the bucketed postings table
    through ``retrieval.append_postings_index``, so BM25 / perplexity
    probes always see the corpus as of the last committed batch with zero
    rescans — the document stream is tokenized exactly once per row.
    Bootstrap the index with ``build_postings_index`` first (the append
    fails fast on a never-built index by design).

    **Idempotence**: ``foreachBatch`` is at-least-once — a crashed batch
    re-runs under the SAME batch id, and a blind re-append would
    double-count its postings (the stats merge is addition).  A marker
    file at ``{path}__applied.{md5(txn_id)}`` (one per logical stream,
    :func:`tableops.marker_path`) records ``(txn_id, batch_id)`` after
    each successful append (written atomically via rename); a replay of
    an already-recorded batch is skipped.  This is the
    txnAppId/txnVersion discipline Delta Lake documents for idempotent
    foreachBatch writes, applied to the plain-parquet index.  The
    residual window — a crash BETWEEN the append and the marker write
    re-appends one batch — is the same non-transactional two-file gap
    ``append_postings_index`` itself documents; recovery is a rebuild.

    ``txn_id`` identifies the LOGICAL stream — batch ids are only
    monotone within one checkpoint, so the marker is meaningful only
    scoped to one.  It is REQUIRED (falling back to ``checkpoint_dir``
    when that is passed through this function's parameter): a constant
    default would make a SECOND logical stream into the same index —
    fresh checkpoint, batch ids restarting at 0 — silently skip every
    new batch as a "replay".  Restarting from the same checkpoint under
    the same ``txn_id`` resumes correctly; a new logical load gets a new
    ``txn_id`` and its OWN marker file (and accepts that re-streaming
    already-loaded documents double-loads them, exactly as a repeated
    batch append would).  Crash window: see
    :func:`tableops.idempotent_commit`.  Since round 9 the postings stats
    are append-only per-batch rows folded at read time, so concurrent
    appenders under distinct txn_ids compose; the remaining
    single-writer surface is COMPACTION (``stores.compact_bucketed``
    swaps the whole table — pause maintenance streams around it).

    Run ``stores.compact_bucketed`` on the postings table periodically,
    exactly as with batch appends.
    """
    from feature_store_healthcare_spark.operators import retrieval

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: retrieval.append_postings_index(
            batch_df, id_col, text_col, table, path, n_buckets=n_buckets
        ),
        refresh=_refresh_tables(stream.sparkSession, table, f"{table}__stats"),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_band_maintenance(
    stream: DataFrame,
    table: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 8,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "band_maintenance",
):
    """Streaming half of the stored LSH band-index lifecycle: each
    micro-batch of admitted documents appends its (id, band, bkey) rows
    through ``dedup.append_band_index``, so tomorrow's
    ``minhash_lsh_pairs_cross`` probe sees today's documents with no
    rebuild.  Bootstrap with ``dedup.build_band_index`` first; signature
    parameters MUST match the existing index (the digest-provenance
    contract).  A blind foreachBatch replay would re-append the batch's
    band rows — not a double-COUNT like postings stats, but duplicate
    band rows that inflate every future probe's candidate set — so the
    same (txn_id, batch_id) marker discipline guards it
    (:func:`tableops.idempotent_commit`, including the
    one-active-writer contract and the crash-window caveat).

    Note the dedup loop's ordering: probe the delta FIRST
    (``minhash_lsh_pairs_cross`` with ``corpus_bands``), admit survivors,
    and stream only ADMITTED docs here — appending pre-dedup input would
    index the very duplicates the loop exists to reject.
    """
    from feature_store_healthcare_spark.operators import dedup

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: dedup.append_band_index(
            batch_df, id_col, text_col, table, path, n_buckets,
            n=n, num_hashes=num_hashes, bands=bands, portable=portable,
        ),
        refresh=_refresh_tables(stream.sparkSession, table),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_ivf_maintenance(
    stream: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "ivf_maintenance",
):
    """Streaming half of the stored IVF ANN-index lifecycle: each
    micro-batch of new vectors is assigned against the CURRENT version's
    centroids and appended into that version's ``__list=`` partition
    directories through ``similarity.append_ivf_index`` (fail-fast on a
    never-built index — bootstrap with ``similarity.build_ivf_index``).
    A blind replay would append duplicate vectors, so the same (txn_id,
    batch_id) marker discipline guards it
    (:func:`tableops.idempotent_commit`; one ACTIVE writer per index;
    the marker is keyed by the index root, so it survives new versions).

    Compaction contract: ``compact_ivf_index`` and rebuilds commit a NEW
    version with one pointer flip, so probes never see a mix; a batch
    appended to the old version after the compaction read it is missing
    from the new one — stop the stream around a compaction.

    Appends cannot re-train the quantizer: rebuild on the cadence recall
    monitoring dictates (see ``append_ivf_index``), and run
    ``compact_ivf_index`` when per-list file counts grow.

    No ``refresh`` hook: the IVF index is probed by PATH
    (``spark.read.parquet``), which builds a fresh file index per read —
    only catalog-name reads go through the session's relation cache
    (see :func:`tableops.idempotent_commit`).
    """
    from feature_store_healthcare_spark.operators import similarity

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: similarity.append_ivf_index(
            batch_df, path, corpus_id=corpus_id, corpus_vec=corpus_vec
        ),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_pca_maintenance(
    stream: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    emb_col: str = "embedding",
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "pca_maintenance",
):
    """Streaming half of the stored PCA ANN-index lifecycle (round 13 —
    completes the family: postings/band/IVF/DSIR all have one): each
    micro-batch of new vectors is projected with the index's EXISTING
    model and appended into the projected-corpus parquet through
    ``similarity.append_pca_index`` (fail-fast on a never-built index —
    bootstrap with ``similarity.build_pca_index``).  A blind replay would
    append duplicate projected rows, so the same (txn_id, batch_id)
    marker discipline guards it (:func:`tableops.idempotent_commit`; one
    ACTIVE writer per index).  Batches append to the CURRENT version,
    with :func:`streaming_ivf_maintenance`'s compaction contract: stop
    the stream around ``compact_pca_index``.

    Like the IVF centroids, the model is a quantizer, not a corpus
    statistic: appends are bit-identical to re-projecting the grown
    corpus with the original model, but they cannot re-FIT — rebuild
    with ``build_pca_index`` on the cadence recall monitoring dictates.

    No ``refresh`` hook: the index is probed by PATH
    (``spark.read.parquet``), which builds a fresh file index per read.
    """
    from feature_store_healthcare_spark.operators import similarity

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: similarity.append_pca_index(
            batch_df, path, corpus_id=corpus_id, emb_col=emb_col
        ),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_dsir_dist_maintenance(
    stream: DataFrame,
    path: str,
    text_col: str,
    is_target,
    prefix_chars: int = 2,
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "dsir_dist_maintenance",
):
    """Streaming half of the stored DSIR-distribution lifecycle
    (round-11): each micro-batch of new documents folds its per-dim
    token counts into the append-only distribution table through
    ``sampling.append_dsir_dist`` — one delta-sized pass per batch, the
    corpus never re-read, and ``sampling.dsir_score_from_dist`` reads
    the folded statistics (integer counts sum exactly, so the stored
    distributions equal a single-pass recompute at any batch history —
    the catalog's `dsir_incremental_stored` oracle proves it).

    An additive count append double-counts on blind replay, so the same
    (txn_id, batch_id) marker discipline guards it
    (:func:`tableops.idempotent_commit`).  Bootstrap with
    ``sampling.build_dsir_dist`` (a fresh version) before starting the
    stream, and stop it around ``sampling.compact_dsir_dist``;
    ``is_target`` must be the same predicate the bootstrap used — the
    statistics are meaningless if batches disagree about the target
    domain.  No ``refresh`` hook: the table is read by PATH."""
    from feature_store_healthcare_spark.operators import sampling

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: sampling.append_dsir_dist(
            batch_df, text_col, is_target, path, prefix_chars=prefix_chars
        ),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_media_stats_maintenance(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "media_stats_maintenance",
):
    """Incremental REAL-decode media statistics (round 12): each
    micro-batch of media rows (``multimodal.MEDIA_SCHEMA`` shape) runs
    through the unified codec kernel
    (``multimodal.decode_media_stats`` — PNG/BMP pixels, WAV samples,
    Y4M luma, one Arrow pass for all kinds) and the per-item stat rows
    APPEND to the parquet table at ``path`` — decode cost is paid once
    per item at ingest, every later consumer reads the tiny stats table
    instead of re-decoding payloads.

    A blind replay would duplicate stat rows, so the same
    (txn_id, batch_id) marker discipline as the index maintainers
    guards the append (:func:`tableops.idempotent_commit`).  The stats
    table is read by PATH (no catalog refresh hook needed).

    Poison-pill posture (r12 ADVICE #2): the decode runs with
    ``on_error="null"`` — a null / truncated / out-of-profile payload
    becomes an ``fmt='error'`` row with null stats instead of raising.
    Without this, one bad payload fails the micro-batch BEFORE its
    idempotency marker is written and every availableNow retry replays
    the same poison batch forever; the error rows keep the failure
    visible (and countable) in the stats table itself."""
    from feature_store_healthcare_spark.operators import multimodal

    _append = tableops.idempotent_commit(
        path,
        txn_id or checkpoint_dir,
        lambda batch_df: tableops.append(
            multimodal.decode_media_stats(batch_df, on_error="null"), path
        ),
    )
    return _maintenance_writer(stream, _append, queryName, checkpoint_dir)


def streaming_incremental_rollup(
    stream: DataFrame,
    state_path: str,
    keys: list[str],
    value_col: str,
    checkpoint_dir: str | None = None,
    txn_id: str | None = None,
    queryName: str = "incremental_rollup",
):
    """Incremental materialized-view maintenance under Structured
    Streaming: each micro-batch is reduced to its mergeable aggregate
    states (maintenance.incremental_agg — count / decimal-exact sum /
    min / max / HLL-distinct) and folded into the persistent state table
    at ``state_path`` (maintenance.merge_agg_states).  The rollup a
    dashboard reads is ``finalize_agg_states`` over that tiny table — the
    100 TB stream is touched exactly once per event, never rescanned.

    The additive fold is NOT naturally replay-idempotent (unlike the CDC
    argmax), so an at-least-once replay is guarded by a (txn_id,
    batch_id) high-water mark stored INSIDE each state version
    (:func:`tableops.merge_fold`) — the one pointer flip that commits
    the state commits the mark, so there is no window where the state
    holds a batch the mark does not know about, and a crash before the
    flip leaves the previous version (and its mark) serving.  On
    Delta/Iceberg the whole fold would be a single MERGE INTO
    transaction.

    ``txn_id`` SCOPE CONTRACT: batch ids are CHECKPOINT-scoped, so a
    stable ``txn_id`` asserts identical batch packing — same source
    files, same trigger config, same checkpoint lineage.  Reusing a
    txn_id after the checkpoint is lost/deleted while NEW source files
    have arrived is unsound: the restarted query repacks old+new rows
    into low-numbered batch ids that the stored high-water mark will
    skip, silently dropping the new rows.  The default therefore scopes
    the txn to the CHECKPOINT DIR (fresh checkpoint ⇒ fresh txn ⇒ the
    guard never cross-matches a different packing); pass an explicit
    ``txn_id`` only to assert replay identity across restarts that KEEP
    the checkpoint, and change it whenever the checkpoint is reset.
    """
    import os

    from feature_store_healthcare_spark import maintenance

    # default scope: the checkpoint dir (batch-id packing's true scope);
    # state_path only as the last resort for checkpoint-less test runs
    txn = txn_id or checkpoint_dir or state_path

    def _merge(existing: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        batch_states = maintenance.incremental_agg(batch_df, keys, value_col)
        if existing is None:
            return batch_states
        return maintenance.merge_agg_states(existing, batch_states, keys)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            last = tableops.read_batch_marker(
                os.path.join(tableops.current_dir(state_path), "_applied.json")
            )
        except FileNotFoundError:
            last = None  # first batch: nothing folded yet
        if (
            last is not None
            and last["txn_id"] == txn
            and batch_id <= last["batch_id"]
        ):
            return  # at-least-once replay of a folded batch: no double-add
        tableops.merge_fold(
            batch_df, state_path, _merge, {"txn_id": txn, "batch_id": batch_id}
        )

    return _maintenance_writer(stream, _fold, queryName, checkpoint_dir)


RUNNING_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

_RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def stateful_running_features(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 hours",
) -> DataFrame:
    """OP-43/45 (custom stateful operator): per-key running aggregate
    features (event count, value sum, last event time) maintained across
    micro-batches with ``applyInPandasWithState`` — the escape hatch for
    stateful semantics the built-in windowed aggregates can't express
    (running lifetime counters here; the same shape serves sessionized
    EWMAs, decayed sums, per-entity model state).

    State is one tiny row per key, Arrow-batched per group; the watermark
    bounds how late input can arrive, and at scale state shards with the
    groupBy key exactly like any shuffle partition.
    """
    import pandas as pd  # local import: executors ship their own

    # the output schema names ITS key column after `key` AND carries the
    # key's ACTUAL type from the input stream — a caller grouping by a
    # string key (e.g. event_type) must not get a schema pinned to the
    # default's LongType (applyInPandasWithState would cast-fail or null
    # the column at runtime)
    out_schema = T.StructType(
        [T.StructField(key, stream.schema[key].dataType)]
        + list(RUNNING_FEATURES_SCHEMA.fields[1:])
    )

    def update(key_tuple, pdfs, state):
        if state.exists:
            n, s, last_us = state.get
        else:
            n, s, last_us = 0, 0.0, None
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
            batch_max = pdf[ts_col].max()
            us = int(batch_max.value // 1_000)  # ns → µs
            last_us = us if last_us is None else max(last_us, us)
        state.update((n, s, last_us))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_events": [n],
                "sum_value": [s],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def streaming_cdc_apply(
    stream: DataFrame,
    state_path: str,
    keys: list[str],
    *,
    ts_col: str = "ts",
    tiebreak: list[str] | None = None,
    checkpoint_dir: str | None = None,
    queryName: str = "cdc_apply",
):
    """Streaming twin of operators.cdc: fold a CDC changelog stream
    (upsert/delete ops) into a materialized state table, micro-batch by
    micro-batch.  It is :func:`streaming_online_upsert` over a
    ``stores.LatestStore`` at ``state_path``: each non-empty micro-batch
    is one ``LatestStore.merge``, the argmax over (state ∪ batch) on
    ``(ts_col, *tiebreak)`` committed as a new version with one pointer
    flip (a crash leaves the previous version serving; re-folding an
    applied batch changes nothing).  The op column rides through the
    merge untouched; :func:`read_cdc_state` is where its name matters.

    Params after ``keys`` are keyword-only, so a positional caller
    cannot bind an op-column name to ``ts_col`` or ``tiebreak``.

    The state RETAINS winning delete rows as tombstones (read them out
    with :func:`read_cdc_state`, which filters them): a late update older
    than a delete must LOSE, and without the tombstone the delete's
    timestamp would be forgotten the moment it wins.  The argmax's
    ``max`` aggregate combines map-side, so the shuffle scales with
    distinct keys, not rows; each fold reads and rewrites the full state
    (per-batch state I/O is O(total keys))."""
    return streaming_online_upsert(
        stream,
        LatestStore(stream.sparkSession, state_path),
        keys,
        ts_col=ts_col,
        tiebreak=tiebreak,
        checkpoint_dir=checkpoint_dir,
        queryName=queryName,
    )


def read_cdc_state(
    spark: SparkSession, state_path: str, op_col: str = "op"
) -> DataFrame:
    """Live rows of a streaming_cdc_apply state (tombstones filtered)."""
    from feature_store_healthcare_spark.operators import cdc

    return (
        spark.read.parquet(tableops.current_dir(state_path))
        .where(F.col(op_col) != cdc.DELETE_OP)
        .drop(op_col)
    )


THROTTLE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)

_THROTTLE_STATE_SCHEMA = T.StructType(
    [T.StructField("last_us", T.LongType())]
)


def streaming_burst_throttle(
    stream: DataFrame,
    min_gap_seconds: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``dedup.burst_dedup`` (gap-based telemetry
    throttle): drop an event arriving < ``min_gap_seconds`` after the
    previous RAW event of the same (user, type) — the same
    gap-vs-previous-event semantics as the batch lag window, carried
    across micro-batches by one tiny state row (last seen event time) per
    key via ``applyInPandasWithState``.

    For in-order delivery the emitted set is IDENTICAL to the batch twin
    (pinned by test): the gap compares WHOLE epoch seconds, exactly the
    twin's ``ts.cast("long")`` truncation — µs-exact subtraction would
    silently diverge on sub-second timestamps (59.2 s < 60 dropped here,
    60 ≥ 60 kept there).  Out-of-order rows inside a micro-batch are
    locally sorted first; a CROSS-batch late event (event time behind the
    key's high-water mark, within the watermark) is dropped WITHOUT
    regressing the mark — its true event-time predecessor is unknowable
    here, and rewinding the state would corrupt every later gap decision
    (the twin would judge the next event against the high-water
    predecessor, not the late one).  Under reordering the stream is thus
    a conservative subset of the twin whose post-late decisions still
    match it.  State is one long per key — sharded with the groupBy key.
    """
    import pandas as pd  # executors import their own

    def update(key_tuple, pdfs, state):
        last_us = state.get[0] if state.exists else None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for _, row in pdf.iterrows():
                us = int(row["ts"].value // 1_000)
                if last_us is not None and us < last_us:
                    continue  # cross-batch late event: drop, keep the mark
                sec, last_sec = us // 1_000_000, (
                    None if last_us is None else last_us // 1_000_000
                )
                if last_sec is None or sec - last_sec >= min_gap_seconds:
                    out.append(row)
                last_us = us
        if last_us is not None:
            state.update((last_us,))
        cols = [f.name for f in THROTTLE_OUT_SCHEMA.fields]
        yield (
            pd.DataFrame(out)[cols]
            if out
            else pd.DataFrame({c: [] for c in cols})
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            outputStructType=THROTTLE_OUT_SCHEMA,
            stateStructType=_THROTTLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


DECAY_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("decayed_count", T.DoubleType()),
        T.StructField("decayed_sum", T.DoubleType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def streaming_decayed_counters(
    stream: DataFrame,
    half_life_days: float = 7.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of operators.decay.decayed_counters: per user, a
    decayed event count/value-sum that "forgets" at the half-life rate,
    maintained incrementally by the fold
    ``S(t') = S(t)·2^(−(t'−t)/hl) + new`` — the same algebra the batch
    operator's one-shot weighted sum computes, carried across
    micro-batches in one tiny state row per key
    (``applyInPandasWithState``).

    Emits the post-batch state per key each micro-batch (update
    semantics); read-time decay to any later as-of is one multiply.
    Equality with the batch twin is to float tolerance (incremental
    exp-products vs one exp per event), pinned in test_streaming.
    """
    import math

    import pandas as pd  # executors import their own

    lam = math.log(2.0) / (half_life_days * 86400.0 * 1e6)

    def update(key_tuple, pdfs, state):
        if state.exists:
            count, total, n, last_us = state.get
        else:
            count, total, n, last_us = 0.0, 0.0, 0, None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(ts.value // 1_000)
                if last_us is not None:
                    f = math.exp(-lam * (us - last_us))
                    count *= f
                    total *= f
                count += 1.0
                total += float(value)
                n += 1
                last_us = us
        state.update((count, total, n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key_tuple[0]],
                "decayed_count": [count],
                "decayed_sum": [total],
                "n_events": [n],
                "last_us": [last_us],
            }
        )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=DECAY_OUT_SCHEMA,
            stateStructType="count double, total double, n bigint, last_us bigint",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )
