"""Blob externalization pipeline — the reference's core capability as one
batch job (SURVEY §7 M1.5 / README.md:10-36).

Legacy shape  (order_id, description, order_blob LONGBLOB)      [in-row]
      │  externalize()
      ▼
objects       orders/<order_id>/<s3_prefix>                      [store]
pointer table (order_id, description, s3_prefix)                 [Parquet]

Every object request of the migration path runs through ONE
executor-side kernel, ``_per_object``. Its callers: ``externalize_blobs``
(put), ``validate_migration`` (head), ``cascade_delete`` (delete) and
``incremental_migration.migrate_increment`` (put for a live row, head
then delete for a tombstone, in cursor order). It is a ``mapInPandas``
task that builds one object-store client (the reference's G1 batching
lesson: credentials/clients per page, not per row) and keeps up to
``IN_FLIGHT`` (8) per-row requests in flight on it over its Arrow
batches; requests on the same object key run one after another, in row
order. Each request is a network round trip, and AQE can coalesce a
stage of tiny key rows into a single task, so one request at a time per
task made the round trips the migration's wall time. Keys always come
from ``functions.scalars.s3_object_key``.

Stages:
1. **write objects** — the kernel's put; each task also *returns* its
   manifest (key, n_bytes, md5) — an auditable write receipt instead of a
   fire-and-forget.
2. **emit pointer table** — the target shape, written as Parquet.
3. **validate** — existence check per key (A14) on the count/checksum
   reconciliation rows between source blobs and written objects, then
   one aggregate.
4. **cascade delete** (A15) — objects first, rows second; a failed object
   delete aborts the row delete (README.md:125-126 ordering contract).

At 100 TB: the object writes are the bottleneck, and they scale with
partition count × ``IN_FLIGHT`` — ``repartition`` the legacy table by key
range so tasks are uniform, size partitions so each holds ~128-256 MB of
blobs, and let speculative execution retry stragglers. The pointer-table emit is a narrow
projection of the same scan (no second read of the blobs).
"""

from __future__ import annotations

import hashlib
import threading
from collections.abc import Callable, Iterable, Iterator
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial
from itertools import islice
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.scalars import DEFAULT_S3_PREFIX, s3_object_key
from ..sources.object_store import IN_FLIGHT, make_store

# Ingestion contract: the reference's presigned POST enforces
# content-length-range 0..10485760 (order.js:388) — oversize payloads are
# rejected by the store, so the engine rejects them at externalization time
# (flagged in the manifest, never written).
MAX_OBJECT_BYTES = 10 * 1024 * 1024

WRITE_MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.StringType()),
        T.StructField("object_key", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_md5", T.StringType()),
        T.StructField("status", T.StringType()),  # written | rejected_oversize
    ]
)


def put_blob(store, key: str, blob) -> tuple[int, str | None, str]:
    """Write one blob to ``key`` unless it is over the cap: the order.js:388
    content-length-range rejection, flagged and never written. Returns
    ``(n_bytes, md5 or None, status)``, status ``written`` or
    ``rejected_oversize``."""
    payload = bytes(blob)
    if len(payload) > MAX_OBJECT_BYTES:
        return len(payload), None, "rejected_oversize"
    store.put(key, payload)
    return len(payload), hashlib.md5(payload).hexdigest(), "written"


def _map_in_flight(fn: Callable, rows: Iterable[tuple], key: Callable) -> list:
    """``[fn(*row) for row in rows]`` with up to ``IN_FLIGHT`` calls
    running at once on a thread pool, results in row order. Rows that
    share ``key(row)`` (the object key) run one after another in input
    order, as in a serial loop: the last row for a key is the last
    request on that object, and two writes to one object never overlap.
    The first error stops submission (rows not yet started are never
    called), waits for the calls already running and re-raises: an I/O
    failure fails the task, it is never swallowed."""
    rows = list(rows)
    out: list = [None] * len(rows)
    by_key: dict = {}
    for i, row in enumerate(rows):
        by_key.setdefault(key(row), []).append(i)
    stop = threading.Event()

    def run(chain: list) -> None:
        for i in chain:
            if stop.is_set():
                return
            out[i] = fn(*rows[i])

    chains = iter(by_key.values())
    pending: set = set()
    with ThreadPoolExecutor(IN_FLIGHT) as pool:
        try:
            while True:
                pending |= {pool.submit(run, c)
                            for c in islice(chains, IN_FLIGHT - len(pending))}
                if not pending:
                    return out
                done, pending = wait(pending, return_when=FIRST_COMPLETED)
                for f in done:
                    f.result()
        finally:
            stop.set()


def _per_object(rows: DataFrame, store_url: str, fn, schema: T.StructType) -> DataFrame:
    """The one executor-side object-I/O kernel: ``fn(store, *row)`` runs
    once per row of ``rows`` and returns one ``schema`` tuple. The store
    client is built once per task and reused across its Arrow batches
    (the reference's G1 batching lesson: clients per page, not per
    row); every put/head/delete of the migration path goes through here.

    Up to ``IN_FLIGHT`` calls run concurrently on that one client
    (``_map_in_flight``; boto3 clients are thread-safe and the S3 client
    pools ``IN_FLIGHT`` connections). Rows with the same ``object_key``
    column value run one after another in row order, so a batch holding
    two versions of one key still ends with the later version stored.
    Why 8: on the benchmark's ``backfill_s3`` cycle (moto S3 with 10 ms
    per request, 4-core host) one in flight took 13.2 s and 8 took
    6.1 s (medians of 10 runs); 4, 8 and 16 were indistinguishable
    there (6.8 / 6.7 / 6.6 s, medians of 3 runs) because the local moto
    server, not the round trips, is then the limit. Whether a real
    store's longer round trips gain more from 8 than from 4 is
    unmeasured.

    Each task also pays a fixed cost before ``fn`` first runs: Spark's
    hand-off to a Python worker plus the client build. On a 4-core host
    a trivial 100-row ``mapInPandas`` task ran 140-270 ms with PySpark's
    own daemon, most of it re-reading ``pyspark.zip``'s directory,
    and ~55 ms with the package's ``worker_daemon`` (``session.py``). A
    small increment is dominated by this per-task cost, not by its rows,
    so callers should not split tiny inputs over more tasks than their
    I/O needs."""
    names = schema.fieldNames()
    key = itemgetter(rows.columns.index("object_key"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        call = partial(fn, make_store(store_url))
        for pdf in batches:
            yield pd.DataFrame(
                _map_in_flight(call, pdf.itertuples(index=False, name=None), key),
                columns=names,
            )

    return rows.mapInPandas(kernel, schema)


def externalize_blobs(
    legacy: DataFrame,
    store_url: str,
    pk: str = "order_id",
    blob_col: str = "order_blob",
    s3_prefix: str = DEFAULT_S3_PREFIX,
) -> DataFrame:
    """Stage 1: write every blob to ``orders/<id>/<prefix>`` (key scheme
    order.js:174,273) and return the write manifest."""

    def put(store, oid, blob, key):
        n_bytes, md5, status = put_blob(store, key, blob)
        return (oid, key if status == "written" else None, n_bytes, md5, status)

    key = s3_object_key(pk, F.lit(s3_prefix)).alias("object_key")
    rows = legacy.select(pk, blob_col, key)
    return _per_object(rows, store_url, put, WRITE_MANIFEST_SCHEMA)


def pointer_table(legacy: DataFrame, pk: str = "order_id",
                  s3_prefix: str = DEFAULT_S3_PREFIX) -> DataFrame:
    """Stage 2: the post-migration target shape (order.sql:2-7) — narrow
    projection, blob column pruned from the scan."""
    return legacy.select(
        F.col(pk).alias("order_id"),
        "description",
        F.lit(s3_prefix).alias("s3_prefix"),
    )


def validate_migration(
    legacy: DataFrame, manifest: DataFrame, store_url: str, pk: str = "order_id",
    blob_col: str = "order_blob",
) -> dict:
    """Stage 3: reconciliation. Re-derive (n_bytes, md5) from the source
    blobs, full-outer join to the manifest, and existence-check every key
    (A14). Both join directions are audited: a source row with no written
    object is a ``missing_write`` (unless deliberately ``rejected``), and a
    manifest row with no source row is an ``orphan_manifest`` (phantom
    write). Mismatch flags are null-safe (``<=>``) so a NULL on either side
    reads as a mismatch, never as a silent pass. All counters except
    ``n_rows`` must be zero for a clean migration."""
    source_sums = legacy.select(
        F.col(pk).alias("order_id"),
        F.length(blob_col).cast("long").alias("src_bytes"),
        F.md5(blob_col).alias("src_md5"),
    )
    rejected = F.col("status") == "rejected_oversize"
    src_present = F.col("src_bytes").isNotNull()
    written = F.col("object_key").isNotNull()
    joined = source_sums.join(manifest, "order_id", "full_outer").select(
        "object_key",
        (written & src_present & ~F.col("src_bytes").eqNullSafe(F.col("n_bytes")))
        .alias("size_mismatches"),
        (written & src_present & ~F.col("src_md5").eqNullSafe(F.col("content_md5")))
        .alias("md5_mismatches"),
        (src_present & ~written & ~F.coalesce(rejected, F.lit(False)))
        .alias("missing_writes"),
        (~src_present).alias("orphan_manifests"),
        F.coalesce(src_present & rejected, F.lit(False)).alias("rejected_oversize"),
    )
    counters = joined.columns[1:] + ["missing_objects"]

    def head(store, key, *flags):
        # one output row per joined row: the existence check (A14) rides
        # the reconciliation rows themselves, so the report is one pass
        return (*flags, key is not None and not (key and store.head(key)))

    checked = _per_object(joined, store_url, head, T.StructType(
        [T.StructField(c, T.BooleanType()) for c in counters]
    ))
    report = checked.agg(
        F.count("*").alias("n_rows"),
        *[F.sum(F.col(c).cast("int")).alias(c) for c in counters],
    )
    return report.collect()[0].asDict()


def cascade_delete(
    pointers: DataFrame, keys: DataFrame, store_url: str, pk: str = "order_id"
) -> DataFrame:
    """Stage 4 / A15: delete objects FIRST, then drop rows whose object
    delete succeeded (order.js:346-351; ordering contract README.md:126).
    Returns the surviving pointer table."""
    doomed = pointers.join(keys.select(pk), pk, "left_semi").select(
        pk, s3_object_key(pk, "s3_prefix").alias("object_key")
    )
    results = _per_object(
        doomed, store_url, lambda store, oid, key: (oid, store.delete(key)),
        T.StructType([T.StructField(pk, T.StringType()),
                      T.StructField("deleted", T.BooleanType())]),
    )
    removable = results.filter(F.col("deleted")).select(pk)
    return pointers.join(removable, pk, "left_anti")
