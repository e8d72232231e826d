"""The plain-parquet commit layer.

This engine's persistent state — online latest tables, streaming CDC and
rollup state, the append-only value log, stored postings/band/IVF/PCA/
DSIR indexes — lives on PLAIN PARQUET directories.  Every durability
trick that implies (a versioned root behind one pointer flip, replay
marker files, a flock compaction lease) is hand-rolled here and correct
on a local filesystem.  It stands in for a table format: on Delta Lake
or Iceberg each operation below is one native transactional call (the
mapping table below).

This module owns ALL marker/lease/swap file I/O.  Operators and the
streaming maintainers call the interface; nothing else in the package
opens a marker or lease file, or moves or deletes a directory
(``tests/test_tableops.py`` scans the package for it).

One commit for every rewritten parquet directory: :func:`write_version`
writes the new state into a fresh ``vNNNNNN/`` under the root and flips
one pointer file (``_CURRENT``); readers resolve :func:`current_dir`.  A
crash at any point before the flip leaves the previous version serving.
The bucketed catalog tables are the one exception: their compaction is
a catalog drop-and-rename (``stores.compact_bucketed``).  The one
latest-wins merge, ``stores.LatestStore.merge`` (the online tables and
the streaming CDC state), commits through that flip.

Interface → table-format mapping:

=====================  ====================================================
this module            Delta Lake / Iceberg equivalent
=====================  ====================================================
:func:`merge_fold`     an arbitrary read-modify-write committed as one
                       transaction (Delta: ``txn.commit`` of the rewritten
                       files; Iceberg: ``newOverwrite()``); used for
                       aggregate-state folds that are not row-wise merges.
                       Commits by :func:`write_version`, replay mark
                       inside the new version.
:func:`append`         ``df.write.format("delta").mode("append")`` — blind
                       ACID append, no marker needed.  (``stores.
                       AppendStore.append`` appends into its current
                       version; bucketed index appends go through
                       ``stores.write_bucketed(mode="append")``.)
:func:`idempotent_commit`  Delta's documented ``txnAppId``/``txnVersion``
                       foreachBatch discipline — the (txn_id, batch_id)
                       marker file IS that pair on plain parquet.
:func:`write_version`  a table version: all parts in one new
                       ``vNNNNNN/``, one pointer flip commits them
                       (``LatestStore``, ``AppendStore``, CDC and rollup
                       state; stored IVF, PCA, DSIR indexes).
:func:`compact_version`  ``OPTIMIZE`` / Iceberg ``rewriteDataFiles`` of
                       such a root (and retention's ``DELETE WHERE``), same
                       single flip; the format's own lock replaces the
                       flock lease.
=====================  ====================================================

Residual gaps a real table format closes (and plain parquet cannot):
physically-simultaneous appends to one index (two writers interleaving
files — serialized here by the txn-marker contract and operational
discipline), an append racing a compaction (it can land in the version
the compaction already read), and multi-table atomic commits.  These
are documented at each call site.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame


def _local(path: str) -> str:
    from feature_store_healthcare_spark.stores import local_path

    return local_path(path)


# ---------------------------------------------------------------------------
# Replay markers (Delta: txnAppId/txnVersion)
# ---------------------------------------------------------------------------


def read_batch_marker(marker_path: str) -> dict | None:
    if not os.path.exists(marker_path):
        return None
    try:
        with open(marker_path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        # a torn/empty marker (crash between replace's metadata commit and
        # the data flush on a no-ordering filesystem) must mean "missing"
        # — the documented one-batch replay window — not a permanent
        # JSONDecodeError that fails every subsequent micro-batch
        return None


def write_batch_marker(marker_path: str, txn_id: str, batch_id: int) -> None:
    tmp = marker_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"txn_id": txn_id, "batch_id": batch_id}, fh)
        fh.flush()
        os.fsync(fh.fileno())  # data before rename — no torn marker
    os.replace(tmp, marker_path)  # atomic on POSIX


def marker_path(path: str, txn_id: str) -> str:
    """The replay-marker file for one (index, logical stream) pair:
    ``{path}__applied.{md5(txn_id)}``.  Keyed BY txn_id so a second
    logical stream into the same index gets its OWN marker instead of
    overwriting the first stream's replay protection (a single shared
    slot silently destroyed stream A's high-water mark the moment
    stream B committed a batch).  The FULL 128-bit digest is the
    filename — the earlier 12-char truncation made reads safe (txn_id
    is stored inside the file and re-checked) but left the WRITE path
    exposed: on a filename collision each applied batch overwrote the
    other stream's marker, destroying its high-water mark so its
    replays double-appended.  At 128 bits a collision needs ~2^64
    distinct txn_ids; the truncation bought nothing but that hazard."""
    digest = hashlib.md5(txn_id.encode()).hexdigest()
    return f"{_local(path)}__applied.{digest}"


def idempotent_commit(path: str, txn_id: str | None, apply_fn, refresh=None):
    """Shared at-least-once replay guard for the six appending
    ``foreachBatch`` maintainers (postings, LSH band, IVF, PCA, DSIR
    distributions, media stats): wraps
    ``apply_fn(batch_df)`` so a replayed (txn_id, batch_id) is skipped —
    the txnAppId/txnVersion discipline Delta Lake documents for
    idempotent foreachBatch writes, applied to the plain-parquet indexes
    this container supports.

    Contract (shared by all six maintainers):

    - ``txn_id`` identifies the LOGICAL stream — batch ids are only
      monotone within one checkpoint.  REQUIRED: with no scope, a second
      logical stream would either skip fresh batches as replays (shared
      marker) or double-append on replay (no marker).
    - Markers are per-txn files (:func:`marker_path`), so SERIAL streams
      under distinct txn_ids each keep their own high-water mark.
    - **Appends compose; compaction does not.**  Since round 9 the
      postings stats are append-only per-batch rows folded at read time
      (``retrieval._folded_postings_stats``), so two concurrent streams
      with distinct txn_ids no longer lose each other's stats updates —
      the old read-merge-overwrite hazard is gone.  What still requires
      exclusivity is COMPACTION: ``stores.compact_bucketed`` swaps the
      whole table, and an append interleaving with the swap window can
      land in the dropped table; on the versioned roots (:func:`compact_version`)
      an append that lands in the old version after the compaction read
      it is not carried over.  Concurrency control across append+compact is a
      table-format feature (Delta/Iceberg optimistic commits); plain
      parquet has none, so pause maintenance streams around compactions.
    - The replay-skip path is one local file read, never a Spark job
      (``isEmpty`` is checked only after the marker admits the batch).
    - Residual window: a crash BETWEEN the append and the marker write
      re-applies one batch — the same non-transactional two-file gap the
      underlying appenders document; recovery is a rebuild.
    - ``refresh``: called once after each APPLIED batch (never on the
      skip path).  foreachBatch runs ``apply_fn`` under a CLONED
      micro-batch session whose ``saveAsTable`` append invalidates only
      the CLONE's table-relation cache — the driver session that built
      the writer keeps serving its stale cached file listing, so a probe
      issued there after the stream commits silently misses every
      appended row (measured: catalog count frozen at the bootstrap
      size while the raw parquet count grew).  The maintainers pass a
      targeted ``spark.catalog.refreshTable`` on the ORIGINAL session
      here; other sessions refresh themselves, exactly as with any
      external append.
    """
    if txn_id is None:
        raise ValueError(
            "stored-index streaming maintenance requires txn_id (or a "
            "checkpoint_dir passed through the calling function): the "
            "idempotence marker is scoped to one logical stream, and a "
            "constant default would silently skip a second stream's "
            "batches as replays."
        )
    marker = marker_path(path, txn_id)
    # migration: older markers lived at (a) the pre-round-8 un-suffixed
    # path and (b) the round-8 12-char-truncated-digest path.  A stream
    # restarting across either upgrade must still see its high-water mark
    # there — otherwise the restart loses replay protection and the last
    # applied batch double-appends, the exact hazard the renames were
    # meant to close.  Both legacy reads are safe: txn_id is stored
    # inside the file and re-checked, so a foreign stream's colliding
    # marker is ignored.  New writes go to the full-digest path only.
    legacy_paths = (
        f"{_local(path)}__applied."
        f"{hashlib.md5(txn_id.encode()).hexdigest()[:12]}",
        f"{_local(path)}__applied",
    )

    def _last_applied() -> dict | None:
        last = read_batch_marker(marker)
        if last is not None:
            return last
        for legacy in legacy_paths:
            old = read_batch_marker(legacy)
            if old is not None and old["txn_id"] == txn_id:
                return old
        return None

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        last = _last_applied()
        if (
            last is not None
            and last["txn_id"] == txn_id
            and batch_id <= last["batch_id"]
        ):
            return  # at-least-once replay of an applied batch: skip
        if batch_df.isEmpty():
            return
        apply_fn(batch_df)
        write_batch_marker(marker, txn_id, batch_id)
        if refresh is not None:
            refresh()

    return _fb


# ---------------------------------------------------------------------------
# Version pointer and versioned directories (Delta: table versions behind
# one version pointer)
# ---------------------------------------------------------------------------


def flip_pointer(pointer_path: str, value: str) -> None:
    """Atomically repoint a current-version pointer file (write-tmp +
    ``os.replace``) — the snapshot-isolation primitive behind
    :func:`write_version`; a table format's own
    version pointer (Delta's ``_last_checkpoint`` / Iceberg's metadata
    pointer swap) replaces it."""
    tmp = pointer_path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(value)
        fh.flush()
        os.fsync(fh.fileno())  # data before rename — no torn pointer
    os.replace(tmp, pointer_path)  # atomic on POSIX


def read_pointer(pointer_path: str) -> str | None:
    """Current value of a :func:`flip_pointer` file (None if absent)."""
    try:
        with open(pointer_path) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        return None


def version_dir(root: str, version: int) -> str:
    """The directory of one committed (or being-written) version."""
    return os.path.join(root, f"v{version:06d}")


def versions(root: str) -> list[int]:
    """Version directories still on disk under ``root``, oldest first."""
    names = os.listdir(root)
    return sorted(int(n[1:]) for n in names if n.startswith("v") and n[1:].isdigit())


def current_version(root: str) -> int | None:
    """The version ``root``'s pointer names (None before the first commit).
    An unparsable pointer raises ``ValueError``: reading it as "never
    committed" would make the next :func:`write_version` restart at
    ``v000001`` and silently drop the committed state.  (A torn replay
    marker, by contrast, means "missing": see :func:`read_batch_marker`.)"""
    pointer = os.path.join(root, "_CURRENT")
    cur = read_pointer(pointer)
    if cur is None:
        return None
    try:
        return int(cur)
    except ValueError:
        raise ValueError(
            f"garbled version pointer {pointer!r} under {root!r}: {cur!r}"
        ) from None


def current_dir(root: str) -> str:
    """The committed version directory of ``root``; ``FileNotFoundError``
    when nothing was ever committed there (raised before any I/O)."""
    version = current_version(root)
    if version is None:
        raise FileNotFoundError(f"no committed version under {root!r}")
    return version_dir(root, version)


def write_version(root: str, write_fn, keep: int = 2) -> int:
    """Commit a new version of ``root``: ``write_fn(dir)`` writes every
    part into one fresh ``vNNNNNN/``, then one :func:`flip_pointer` makes
    it current, so a crash before the flip leaves the previous version
    serving (its orphan directory is replaced by the next commit).  The
    newest ``keep`` versions stay on disk; the default 2 lets a reader
    that resolved the previous version finish.  Returns the version."""
    new = (current_version(root) or 0) + 1
    target = version_dir(root, new)
    shutil.rmtree(target, ignore_errors=True)
    write_fn(target)
    flip_pointer(os.path.join(root, "_CURRENT"), str(new))
    for stale in versions(root)[:-keep]:
        if stale != new:
            shutil.rmtree(version_dir(root, stale), ignore_errors=True)
    return new


def compact_version(root: str, rewrite_fn) -> None:
    """Compaction commit: under ``root``'s compaction lease,
    ``rewrite_fn(src_dir, new_dir)`` rewrites the current version into a
    new one, committed by :func:`write_version`'s single flip."""
    lease, owner = acquire_compaction_lease(root)
    try:
        src = current_dir(root)
        write_version(root, lambda new: rewrite_fn(src, new))
    finally:
        release_compaction_lease(lease, owner)


# ---------------------------------------------------------------------------
# Compaction lease (a table format's own commit lock replaces it)
# ---------------------------------------------------------------------------


class LeaseHeldError(RuntimeError):
    """Another writer holds the compaction lease for this target."""


#: leases THIS process holds: lease_path -> (flocked fd, owner).  The fd
#: stays open for the compaction's duration — closing it is what releases
#: the kernel lock, which is also what makes crash recovery automatic.
_LEASE_FDS: dict[str, tuple[int, str]] = {}


def acquire_compaction_lease(
    target: str, owner: str | None = None, ttl_sec: float = 3600.0
) -> tuple[str, str]:
    """Claim the single-writer compaction lease for ``target`` (a table
    location or index root).  Mutual exclusion is a kernel advisory lock
    (``flock LOCK_EX | LOCK_NB``) on the marker file at
    ``{target}.__compact_lease``, held for the compaction's duration: a
    second live acquirer fails fast with :class:`LeaseHeldError`, and a
    CRASHED holder's lock is dropped by the kernel the moment its process
    dies, so takeover is automatic — no TTL heuristics and none of the
    read-then-act races a marker-content protocol has (a racer could
    watch a lease expire, then rename away the FRESH lease a competitor
    re-created in the same window; or read the empty just-created file of
    a live holder as "stale").  ``flock`` conflicts per open file
    description, so two acquirers in one process exclude each other too.

    The file's JSON payload ``{owner, acquired_at, ttl_sec}`` is
    diagnostics for humans and error messages — the kernel lock is the
    exclusion mechanism; ``ttl_sec`` is recorded but no longer drives
    takeover.  Acquisition re-binds if the path was unlinked between open
    and lock (a releasing holder removes the file), so a lock on a dead
    inode is never returned.  Returns ``(lease_path, owner)`` for
    :func:`release_compaction_lease`.

    Scope notes: the lease serialises COMPACTORS against each other —
    appenders and readers are already safe against a concurrent
    compaction by the existing contracts (append targets the catalog
    table; readers retry the swap window via ``stores.read_table``) and
    do not take it.  ``flock`` is host-local advisory locking, exactly
    the scope of this engine's local marker stores; compaction is
    operator/driver-run maintenance, not executor-parallel work (on a
    shared filesystem whose ``flock`` does not propagate, run compaction
    from one coordinator — the same assumption the marker files already
    make).
    """
    import fcntl
    import uuid

    lease = _local(target).rstrip(os.sep) + ".__compact_lease"
    owner = owner or f"{os.getpid()}:{uuid.uuid4().hex[:12]}"
    for _ in range(8):
        fd = os.open(lease, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            # held by someone else: build diagnostics, NEVER leak the fd
            # (a flaky read while reporting must not turn a polling
            # acquire loop into an fd leak)
            try:
                cur = json.loads(os.pread(fd, 4096, 0).decode() or "{}")
            except (OSError, ValueError):
                cur = {}
            finally:
                os.close(fd)
            age = time.time() - float(cur.get("acquired_at") or 0.0)
            raise LeaseHeldError(
                f"compaction lease for {target!r} held by "
                f"{cur.get('owner', '<unknown>')!r} (age {age:.0f}s)"
            )
        # We hold the lock from here on: any failure before the registry
        # insert must close the fd (closing releases the lock), or the
        # lease would be stuck held by this process with no release path.
        try:
            # Unlink-safe bind: if the path no longer names our inode
            # (the previous holder released — removed the file — between
            # our open and our flock), this lock is on a dead file; retry
            # on the live path.  Exactly one of the racers that re-open
            # will own the new inode's lock.
            try:
                bound = os.stat(lease).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                bound = False
            if not bound:
                os.close(fd)
                continue
            payload = json.dumps(
                {"owner": owner, "acquired_at": time.time(), "ttl_sec": ttl_sec}
            )
            os.ftruncate(fd, 0)
            os.pwrite(fd, payload.encode(), 0)
        except Exception:
            os.close(fd)
            raise
        _LEASE_FDS[lease] = (fd, owner)
        return lease, owner
    raise LeaseHeldError(
        f"compaction lease for {target!r}: lost the re-bind race 8 times "
        "(concurrent release/acquire churn) — retry"
    )


def release_compaction_lease(lease: str, owner: str) -> None:
    """Release a lease acquired by :func:`acquire_compaction_lease` in
    THIS process.  A caller that never acquired (or names a different
    owner) is a no-op — it cannot unlock, remove, or otherwise disturb a
    holder's lease, because the kernel lock rides on the holder's own fd.
    The marker file is removed before the fd closes; a racer that opened
    the old inode re-binds onto the fresh path (see acquire).  The fd is
    closed (= the lock freed) even if the marker removal fails — a
    permissions/IO error must not leave the lease stuck held."""
    held = _LEASE_FDS.pop(lease, None)  # atomic take: double-release is a no-op
    if held is None:
        return
    if held[1] != owner:
        _LEASE_FDS[lease] = held  # not yours: put it back untouched
        return
    try:
        os.remove(lease)
    except FileNotFoundError:
        pass
    finally:
        os.close(held[0])


# ---------------------------------------------------------------------------
# Read-modify-write folds and appends
# ---------------------------------------------------------------------------


def merge_fold(
    batch: DataFrame,
    state_path: str,
    fold_fn,
    marker: dict | None = None,
) -> None:
    """Generic transactional read-modify-write of a versioned parquet
    state root: ``fold_fn(existing: DataFrame | None, batch) -> new
    state`` runs with the current version (None before the first
    commit), and the result commits as a new version through
    :func:`write_version` — on Delta/Iceberg an arbitrary transaction
    commit.  When ``marker`` ({txn_id, batch_id}) is given it is written
    INSIDE the new version directory (``_applied.json``; underscore
    files are invisible to parquet readers) before the flip, so state
    and replay high-water mark commit in the same flip.  Used for folds
    that are not row-wise merges (mergeable aggregate states, count
    sketches)."""
    spark = batch.sparkSession
    try:
        existing = spark.read.parquet(current_dir(state_path))
    except FileNotFoundError:
        existing = None
    new_state = fold_fn(existing, batch)

    def _write(target: str) -> None:
        new_state.write.mode("overwrite").parquet(target)
        if marker is not None:
            write_batch_marker(
                os.path.join(target, "_applied.json"),
                marker["txn_id"],
                marker["batch_id"],
            )

    write_version(state_path, _write)


def append(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Blind append to a parquet directory — Delta/Iceberg: an ACID
    ``mode("append")`` commit.  No marker: parquet file writes are
    add-only and readers list the directory per query.  A versioned log
    appends through ``stores.AppendStore.append`` (into its current
    version); BUCKETED index tables use ``stores.write_bucketed(mode=
    "append")`` — same row of the mapping table."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
