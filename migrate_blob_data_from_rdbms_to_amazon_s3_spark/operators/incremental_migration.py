"""Incremental RDBMS→S3 migration: keyset-cursor passes, not full re-reads.

The reference's migration job reads the whole source table every run
(lambda_fns/order_rdbms_blob.js:447-523 walks the table page by page and
externalizes each blob). At 100 TB the source scan must be INCREMENTAL —
each pass reads only rows whose monotone cursor (auto-increment PK,
``updated_at``) moved past the last committed watermark, and the filter
is PUSHED INTO the RDBMS so the database never ships old rows.

One pass (``migrate_increment``):

1. **Read the increment** — ``cursor > watermark`` filtered JDBC scan
   (Catalyst pushes the predicate; tests assert ``PushedFilters`` on
   embedded Derby). Parallelized by the source's partition column.
2. **Stage it** — the raw increment lands in
   ``{target}/staging/run=<id>`` Parquet BEFORE any side-effect. The
   RDBMS is scanned exactly once per pass; blob writes and pointer rows
   both derive from the immutable staged copy, so a retry never sees a
   different increment than the failed attempt. The increment's row
   count and ``max(cursor)`` are an ``Observation`` on this write; an
   empty increment returns here, before any object I/O. The staged copy
   is read back with the increment's own schema, so no schema-inference
   job runs (on a 4-core host, building a read of a 100-row run took
   ~115 ms with inference and ~17 ms with the schema given).
3. **One object pass, whose output is the pointer run** — the staged
   rows, sorted by cursor within each partition (a local sort, no
   shuffle), run through blob_pipeline's object-I/O kernel (one store
   client per task). A live row is put under the 10 MB cap of
   order.js:388; a tombstone's object is deleted, after a head that
   tells whether it was there. Rows of one key run in cursor order, so
   a delete and a re-insert of one key leave the newer state, as the
   reference's single walk does (lambda_fns/order_rdbms_blob.js:447-523).
   Each row comes back as its pointer row — the post-migration shape
   plus ``(cursor, run_id)`` lineage and ``is_deleted`` — and is written
   to ``{target}/pointers/run=<id>`` (overwrite — a re-run of the same
   pass replaces its own output, it never duplicates it). The ledger's
   written, rejected and deleted object counts are an ``Observation``
   on that write. Object keys are derived from the PK, so re-running
   after a crash overwrites the same keys: idempotent. Open gap: two
   versions of one key that land in *different* staged partitions run
   in different tasks, so their object requests still race.
4. **Commit the watermark LAST** — a run-ledger JSON in ``state_path``
   recording ``max(cursor)`` of the staged increment and the pointer
   run's schema (``schema``, a ``StructType`` JSON string). Written via
   temp-file + atomic rename under the kernel flock lease
   (operators/mutation._writer_lock), so concurrent migrators serialize
   and a half-written ledger entry can never be read back.

Crash anywhere before step 4 ⇒ the watermark is unchanged and the next
pass re-reads the same rows; every downstream effect is keyed
(object keys by PK, pointer dirs by run id, staging dirs by run id), so
re-execution converges — at-least-once passes with idempotent effects.
The ledger is append-only; the live watermark is the max over committed
runs, so readers never depend on in-place file mutation. (Like the
mutation lease, plain-file atomicity is a local/POSIX rendition — on an
object store the ledger becomes a table-format commit.)

``read_current`` is the consumer view: union of the pointer runs with
keep-latest-per-key semantics — ``row_number() over (partition by pk
order by cursor desc, run_id desc) = 1`` — so a key UPDATEd in a later
increment shadows its older pointer row without any rewrite of earlier
runs. Pass ``state_path`` for READ COMMITTED (only ledger-committed
runs are scanned); without it the view is documented READ UNCOMMITTED
(every run dir on disk, including crashed passes' increments). Committed
reads (``read_current`` with the ledger, ``read_as_of``, compaction)
read the runs with the schema of the newest committed entry among them
that records one, so building the view launches no Spark job; only
READ UNCOMMITTED and ledgers written before entries carried a schema
infer it from the files. The same
transform is registered as the value-oracled
``incremental_pointer_latest`` query (plans/parity twin discipline).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import DEFAULT_S3_PREFIX, s3_object_key
from .blob_pipeline import _per_object, put_blob
from .mutation import _writer_lock, commit_json

LEDGER_PREFIX = "run-"


def _ledger_entries(state_path: str) -> list[dict]:
    if not os.path.isdir(state_path):
        return []
    out = []
    for name in sorted(os.listdir(state_path)):
        if name.startswith(LEDGER_PREFIX) and name.endswith(".json"):
            with open(os.path.join(state_path, name)) as fh:
                out.append(json.load(fh))
    return out


def current_watermark(state_path: str):
    """(watermark, next_run_id) from the committed ledger. None watermark
    means no pass has committed a cursor yet: the next pass is the full
    backfill. Entries CAN carry ``watermark: None`` (a compaction
    committed before any migrate pass), so the max skips them — a bare
    ``max()`` would raise TypeError on None vs value and wedge every
    subsequent pass."""
    entries = _ledger_entries(state_path)
    if not entries:
        return None, 0
    watermark = max(
        (e["watermark"] for e in entries if e["watermark"] is not None),
        default=None,
    )
    return watermark, max(e["run_id"] for e in entries) + 1


def _run_dirs(pointers_root: str) -> dict[int, str]:
    """Every ``run=<id>`` dir under ``pointers_root``, keyed by run id in
    id order — the one parser of the pointer-run layout."""
    names = os.listdir(pointers_root) if os.path.isdir(pointers_root) else []
    matches = (re.fullmatch(r"run=(\d+)", d) for d in names)
    return dict(sorted(
        (int(m[1]), os.path.join(pointers_root, m[0])) for m in matches if m
    ))


def _run_schema(entries: list[dict], ids) -> T.StructType | None:
    """The pointer-run schema recorded by the newest of ``entries`` whose
    run id is in ``ids``, or None when none records one (a ledger written
    before entries carried it): the reader then infers it from the
    files, one more Spark job."""
    recorded = [e for e in entries if e["run_id"] in ids and e.get("schema")]
    if not recorded:
        return None
    newest = max(recorded, key=lambda e: e["run_id"])
    return T.StructType.fromJson(json.loads(newest["schema"]))


def _commit_run(state_path: str, entry: dict) -> None:
    """Append one ledger entry: temp write + atomic rename
    (``mutation.commit_json``), serialized by the kernel flock lease so
    two migrators can't both claim a run id."""
    name = f"{LEDGER_PREFIX}{entry['run_id']:08d}.json"
    commit_json(os.path.join(state_path, name), entry)


def keep_latest(pointers: DataFrame, pk: str = "order_id",
                cursor_col: str = "cursor") -> DataFrame:
    """Keep-latest-per-key consumer view over unioned pointer runs: the
    newest (cursor, run_id) wins. One shuffle on the PK; at scale the
    window is the standard merge-on-read pattern (a periodic compaction
    materializes it back to one run)."""
    w = Window.partitionBy(pk).orderBy(
        F.col(cursor_col).desc(), F.col("run_id").desc()
    )
    return (
        pointers.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _live_view(spark: SparkSession, paths: list[str], pk: str,
               cursor_col: str, schema: T.StructType | None = None) -> DataFrame:
    """Read pointer-run ``paths`` (with ``schema`` when the ledger records
    it, so no inference job runs) → drop the Hive ``run`` column →
    keep-latest per key → hide keys whose LATEST row is a tombstone (its
    history stays in the runs until compaction sweeps it)."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    pointers = reader.parquet(*paths)
    if "run" in pointers.columns:
        pointers = pointers.drop("run")
    latest = keep_latest(pointers, pk, cursor_col)
    if "is_deleted" in latest.columns:
        latest = latest.filter(~F.coalesce(F.col("is_deleted"), F.lit(False)))
    return latest


def _committed_view(spark: SparkSession, state_path: str, runs: dict[int, str],
                    pk: str, cursor_col: str) -> DataFrame | None:
    """The live view over those of ``runs`` whose id appears in the
    committed ledger (a committed run's dir may legitimately be gone
    after a later compaction swept it), or None when there are none."""
    entries = _ledger_entries(state_path)
    ids = sorted({e["run_id"] for e in entries} & runs.keys())
    if not ids:
        return None
    return _live_view(spark, [runs[i] for i in ids], pk, cursor_col,
                      _run_schema(entries, ids))


def read_current(spark: SparkSession, target_path: str, pk: str = "order_id",
                 cursor_col: str = "cursor",
                 state_path: str | None = None) -> DataFrame:
    """Keep-latest consumer view over the pointer runs.

    With ``state_path`` (the run ledger): READ COMMITTED — only ``run=``
    dirs whose run id appears in a committed ledger entry are scanned, so
    a crashed pass's half-written increment is invisible until its retry
    commits. The committed dirs are read as explicit leaf paths: a dirty
    dir's (possibly partial) parquet footers are never even opened.

    Without ``state_path``: READ UNCOMMITTED, documented — every
    ``run=`` dir on disk is scanned, including increments from crashed
    passes that a retry may rewrite. Acceptable only when the caller
    knows no pass has ever crashed mid-write (e.g. single-process tests).

    The ``run=<id>`` dir / Hive partition column ``run`` is dropped:
    rows carry their lineage (run_id, cursor) as data columns — the dirs
    exist for idempotent per-run overwrite and run-grain pruning, not as
    the source of truth."""
    pointers_root = f"{target_path}/pointers"
    if state_path is None:
        return _live_view(spark, [pointers_root], pk, cursor_col)
    view = _committed_view(spark, state_path, _run_dirs(pointers_root), pk,
                           cursor_col)
    if view is None:
        raise FileNotFoundError(
            f"no committed pointer runs under {pointers_root} "
            f"(ledger: {state_path})"
        )
    return view


class CompactionHorizonError(RuntimeError):
    """Requested an as-of view older than the last compaction sweep."""


def read_as_of(spark: SparkSession, target_path: str, run_id: int,
               pk: str = "order_id", cursor_col: str = "cursor",
               state_path: str | None = None) -> DataFrame:
    """TIME-TRAVEL consumer view: the keep-latest state exactly as
    ``read_current`` returned it right after committed run ``run_id``
    landed — union of committed pointer runs with id <= run_id,
    keep-latest per key, tombstone-hidden. The audit/debug read every
    table format with a commit log offers (Delta `VERSION AS OF`,
    Iceberg snapshot reads); here the ledger IS the commit log, so a
    version is a committed run id.

    Honest horizon semantics instead of silent wrong answers:

    - ``run_id`` must be a COMMITTED id (ValueError otherwise — asking
      for an uncommitted or future version is a caller bug, not an
      empty view).
    - Compaction sweeps shadowed history dirs, so a version older than
      the last compaction is UNRECONSTRUCTIBLE; that read raises
      ``CompactionHorizonError`` (the Delta/Iceberg vacuum-retention
      caveat, surfaced as a typed error rather than a view that is
      quietly missing rows). The compacted run itself is a valid
      travel point: its rows keep their ORIGINAL (cursor, run_id)
      lineage, so views from the horizon forward are byte-stable
      across compactions.
    """
    if state_path is None:
        raise ValueError("read_as_of requires the run ledger (state_path)")
    entries = _ledger_entries(state_path)
    ids = sorted(e["run_id"] for e in entries)
    if run_id not in ids:
        raise ValueError(
            f"run {run_id} is not a committed version (committed: {ids})"
        )
    compactions = [e["run_id"] for e in entries if e.get("compaction")]
    horizon = max(compactions, default=None)
    if horizon is not None and run_id < horizon:
        raise CompactionHorizonError(
            f"version {run_id} predates compaction run {horizon}, which "
            f"swept the history needed to reconstruct it; earliest "
            f"reconstructible version is {horizon}"
        )
    # a compaction run consolidates everything before itself, so the read
    # set is [horizon .. run_id]; without one it is every id <= run_id
    lo = horizon if horizon is not None else -1
    wanted = [i for i in ids if lo <= i <= run_id]
    runs = _run_dirs(f"{target_path}/pointers")
    missing = [i for i in wanted if i not in runs]
    if missing:
        raise CompactionHorizonError(
            f"version {run_id} needs run dirs {missing} that are gone from "
            f"disk (outside any committed compaction's sweep — storage loss, "
            f"not history retention)"
        )
    return _live_view(spark, [runs[i] for i in wanted], pk, cursor_col,
                      _run_schema(entries, wanted))


def compact_pointer_runs(
    spark: SparkSession, target_path: str, state_path: str,
    pk: str = "order_id", cursor_col: str = "cursor",
    lock_timeout_s: float = 600.0,
) -> dict:
    """Materialize the keep-latest view into ONE pointer run and drop the
    shadowed history — the periodic compaction that keeps merge-on-read
    cheap (read_current's window cost grows with run count, not data).

    Crash-ordering contract (each clause closes a real loss path):

    - **The output run id never reuses an existing dir.** The ledger's
      next id can collide with a dir left by a crashed uncommitted pass;
      writing there and then sweeping "old" dirs would delete the fresh
      compaction output while its ledger entry commits as successful.
      The id is bumped past every ``run=`` dir on disk instead.
    - **Only COMMITTED runs are compacted** (read_current's view with
      the ledger): a crashed pass's half-written increment is neither
      consolidated nor silently promoted — its owner's retry re-reads
      the same rows from the source (the watermark never moved).
    - **The ledger entry commits BEFORE any dir is removed.** A crash
      between the compacted write and the deletes leaves byte-identical
      duplicates (rows keep their ORIGINAL (cursor, run_id) lineage, so
      keep_latest resolves both copies to the same view) which the next
      sweep removes. The reverse order could delete the only copy of the
      consolidated history while the ledger still pointed readers at it.
    - **After the commit, every other run dir is removed** — committed
      dirs are shadowed history; an uncommitted dir belongs to a dead
      pass (the lease serializes writers, so nobody live owns it) whose
      increment is recomputable from the unchanged watermark.

    Serialized against migrators by the same ledger lease
    (``lock_timeout_s``, see migrate_increment on why passes serialize);
    the ledger entry records the compaction without moving the
    watermark."""
    import shutil

    os.makedirs(state_path, exist_ok=True)
    with _writer_lock(f"{state_path}/ledger", timeout_s=lock_timeout_s):
        watermark, run_id = current_watermark(state_path)
        pointers_root = f"{target_path}/pointers"
        runs = _run_dirs(pointers_root)
        current = _committed_view(spark, state_path, runs, pk, cursor_col)
        if current is None:
            # nothing committed to compact — dirty dirs (if any) belong
            # to crashed passes whose retries will rewrite them
            return {"run_id": run_id, "n_rows": 0, "compaction": True,
                    "committed": False}
        # never reuse a dir of unknown provenance
        run_id = max(run_id, max(runs) + 1)
        obs = Observation()
        current.observe(obs, F.count(F.lit(1)).alias("n_rows")).write.mode(
            "overwrite").parquet(f"{pointers_root}/run={run_id}")
        entry = {"run_id": run_id, "watermark": watermark,
                 "n_rows": obs.get["n_rows"], "compaction": True,
                 "committed": True, "schema": current.schema.json()}
        _commit_run(state_path, entry)
        for path in runs.values():  # commit is durable: now drop the history
            shutil.rmtree(path, ignore_errors=True)
        return entry


def vacuum_pointer_runs(
    target_path: str, state_path: str, lock_timeout_s: float = 600.0,
) -> dict:
    """The cheap sweep compaction's crash-ordering contract defers to:
    remove superseded pointer-run dirs WITHOUT rewriting any data (pure
    file-listing + ledger, no Spark job — unlike re-running
    ``compact_pointer_runs``, which pays a full keep-latest shuffle just
    to drop duplicates a crash left behind).

    Under the same ledger lease (no live writer can exist while it is
    held), a run dir is removable iff:

    - its id is BELOW the latest committed compaction's id — that
      compaction consolidated all earlier history into its own run, so
      the dir is shadowed whether or not it was committed (this is
      exactly the byte-identical-duplicate window the compaction
      docstring leaves "for the next sweep"); or
    - its id is absent from the committed ledger — a dead pass's
      leftover (the lease serializes writers, so nobody live owns it;
      the committed watermark never advanced, so its increment is
      recomputable; ``read_current`` already ignores it).

    Everything else — the compaction run itself and committed
    post-compaction increments — stays. Returns
    ``{"removed_shadowed", "removed_uncommitted", "kept"}`` counts."""
    import shutil

    os.makedirs(state_path, exist_ok=True)
    with _writer_lock(f"{state_path}/ledger", timeout_s=lock_timeout_s):
        runs = _run_dirs(f"{target_path}/pointers")
        entries = _ledger_entries(state_path)
        committed_ids = {e["run_id"] for e in entries}
        # a committed compaction whose dir a later crash removed is not a
        # valid shadow anchor; require the dir to exist
        anchor = max(
            (e["run_id"] for e in entries
             if e.get("compaction") and e.get("committed") and e["run_id"] in runs),
            default=None,
        )
        removed_shadowed = removed_uncommitted = kept = 0
        for rid, path in runs.items():
            if anchor is not None and rid < anchor:
                shutil.rmtree(path, ignore_errors=True)
                removed_shadowed += 1
            elif rid not in committed_ids:
                shutil.rmtree(path, ignore_errors=True)
                removed_uncommitted += 1
            else:
                kept += 1
        return {
            "removed_shadowed": removed_shadowed,
            "removed_uncommitted": removed_uncommitted,
            "kept": kept,
        }


def migrate_increment(
    spark: SparkSession,
    source: DataFrame,
    *,
    store_url: str,
    target_path: str,
    state_path: str,
    cursor_col: str,
    pk: str = "order_id",
    blob_col: str = "order_blob",
    op_col: str | None = None,
    lock_timeout_s: float = 600.0,
) -> dict:
    """One incremental pass (module docstring). ``source`` is the lazily
    built full-table frame (e.g. ``JdbcSource.load(spark)``); the
    watermark filter applied here reaches the RDBMS as a pushed
    predicate. Returns the pass summary (committed ledger entry, or a
    no-op marker when the increment is empty).

    **Passes serialize fully, by design.** The ledger lease is held for
    the WHOLE pass — JDBC scan, blob externalization, pointer write,
    commit — not just the watermark read and the commit. Releasing it
    mid-pass would let two passes compute the same next run id and race
    their overwrites of the same staging/pointer dirs; keyed-idempotence
    protects against a RETRY of a dead pass, not against a concurrent
    live one. This matches the reference's single-writer migration job
    (one Lambda, lambda_fns/order_rdbms_blob.js:447-523). A second
    migrator or compactor therefore waits up to ``lock_timeout_s``
    (default 600 s — sized for a long scan, unlike mutation.rewrite's
    60 s point-write default) and then raises WriterLockTimeout.

    ``op_col`` enables source-side DELETE capture for append-only CDC
    feeds whose rows carry an op marker ('D' = tombstone, anything else,
    NULL included, = upsert). Tombstoned keys get their OBJECT deleted
    first (tolerant — a retry after a crash finds it already gone, and
    ``n_objects_deleted`` counts only objects a head found) and then a
    pointer tombstone row (``is_deleted = true``), the reference's
    S3-first cascade ordering (order.js:346-351 / README.md:126) applied
    incrementally; ``read_current`` hides keys whose LATEST row is a
    tombstone while the history stays queryable until compaction."""
    os.makedirs(state_path, exist_ok=True)
    with _writer_lock(f"{state_path}/ledger", timeout_s=lock_timeout_s):
        watermark, run_id = current_watermark(state_path)
        increment = source
        if watermark is not None:
            increment = increment.filter(F.col(cursor_col) > F.lit(watermark))
        staging = f"{target_path}/staging/run={run_id}"
        # the increment's row count and new watermark ride the staging
        # write (no re-scan of the staged copy)
        new_max = F.max(cursor_col)
        if isinstance(increment.select(cursor_col).schema[0].dataType,
                      (T.TimestampType, T.TimestampNTZType)):
            # rendered in the session time zone, the zone the next pass's
            # filter parses it in (a collected datetime is in the
            # driver's local zone, which shifts the watermark)
            new_max = F.date_format(new_max, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        obs = Observation()
        increment.observe(
            obs, F.count(F.lit(1)).alias("n_rows"), new_max.alias("watermark"),
        ).write.mode("overwrite").parquet(staging)
        stats = obs.get
        n_rows, new_watermark = stats["n_rows"], stats["watermark"]
        if n_rows == 0:
            return {"run_id": run_id, "watermark": watermark, "n_rows": 0,
                    "committed": False}
        is_tomb = F.col(op_col).eqNullSafe("D") if op_col else F.lit(False)
        rows = spark.read.schema(increment.schema).parquet(staging).select(
            F.col(pk).alias("order_id"),
            "description",
            F.col(cursor_col).alias("cursor"),
            F.lit(run_id).alias("run_id"),
            is_tomb.alias("is_deleted"),
            blob_col,
            s3_object_key(pk, F.lit(DEFAULT_S3_PREFIX)).alias("object_key"),
        ).sortWithinPartitions("cursor")

        def apply(store, *row):
            # objects FIRST, the pointer row second (order.js:346-351);
            # the delete is tolerant, so a crash-retry converges
            *pointer, is_deleted, blob, key = row
            if not is_deleted:
                return (*pointer, is_deleted, put_blob(store, key, blob)[2])
            existed = store.head(key)
            store.delete(key)
            return (*pointer, is_deleted, "deleted" if existed else "absent")

        run_schema = T.StructType(rows.schema.fields[:-2])
        pointer_rows = _per_object(rows, store_url, apply, T.StructType(
            run_schema.fields + [T.StructField("status", T.StringType())]
        ))
        objects = Observation()
        pointer_rows.observe(objects, *[
            F.count_if(F.col("status") == s).alias(s)
            for s in ("written", "rejected_oversize", "deleted")
        ]).drop("status").write.mode("overwrite").parquet(
            f"{target_path}/pointers/run={run_id}"
        )
        counts = objects.get
        entry = {
            "run_id": run_id,
            "watermark": (
                new_watermark.isoformat()
                if hasattr(new_watermark, "isoformat")
                else new_watermark
            ),
            "n_rows": n_rows,
            "n_objects_written": counts["written"],
            "n_objects_rejected": counts["rejected_oversize"],
            "n_objects_deleted": counts["deleted"],
            "committed": True,
            "schema": run_schema.json(),
        }
        _commit_run(state_path, entry)
        return entry
