"""End-to-end blob externalization: the reference's core migration as one
Spark job (SURVEY §7 M1.5), against the local object store."""

import ast
import pathlib
import random
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import blob_pipeline as BP
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import bridge
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.object_store import (
    IN_FLIGHT,
    make_store,
    read_objects,
)

# the reference's blob fixture is a tiny PNG (order_rdbms_blob.test.js:10);
# we use real binary bytes including the empty blob (order_rdbms_blob.js:210)
BLOBS = [
    ("a", "first", b"\x89PNG\r\n\x1a\n" + bytes(range(64))),
    ("b", "second", b""),
    ("c", "third", b"\xff" * 1024),
]


@pytest.fixture()
def legacy(spark):
    return spark.createDataFrame(
        BLOBS, "order_id string, description string, order_blob binary"
    )


def test_externalize_validate_roundtrip(spark, legacy, tmp_path):
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    assert manifest.count() == 3

    # objects exist and are byte-identical (the PNG round-trip contract)
    store = make_store(url)
    for oid, _, blob in BLOBS:
        assert store.get(f"orders/{oid}/image.png") == blob

    report = BP.validate_migration(legacy, manifest, url)
    assert report["n_rows"] == 3
    assert report["size_mismatches"] == 0
    assert report["md5_mismatches"] == 0
    assert report["missing_writes"] == 0
    assert report["missing_objects"] == 0


def test_pointer_table_shape(legacy):
    ptr = BP.pointer_table(legacy)
    assert ptr.columns == ["order_id", "description", "s3_prefix"]
    rows = {r.order_id: r.s3_prefix for r in ptr.collect()}
    assert rows == {"a": "image.png", "b": "image.png", "c": "image.png"}


def test_validation_detects_corruption(spark, legacy, tmp_path):
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    manifest.count()
    make_store(url).put("orders/a/image.png", b"CORRUPTED")  # tamper post-write
    # sizes/md5 in the manifest still match the source; object content check
    # is the store-level concern — but a *deleted* object must be caught:
    make_store(url).delete("orders/c/image.png")
    report = BP.validate_migration(legacy, manifest, url)
    assert report["missing_objects"] == 1


def test_binaryfile_readback_roundtrip(spark, legacy, tmp_path):
    """A13 bulk object source (app.js:519-576): externalize, read the whole
    store tree back through the binaryFile format, and prove byte-parity
    with the write manifest plus linkage back to the pointer table."""
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    assert manifest.count() == 3

    objs = read_objects(spark, url)
    assert set(objs.columns) == {"object_key", "n_bytes", "content", "mod_time"}
    back = objs.join(manifest, "object_key").select(
        "order_id",
        F.md5("content").alias("rt_md5"),
        "content_md5",
        F.length("content").cast("long").alias("rt_bytes"),
        manifest["n_bytes"],
    )
    rows = back.collect()
    # Spark's split planner skips zero-byte files: 'b' (the empty blob)
    # is audited from the manifest instead, not the binaryFile scan
    assert sorted(r.order_id for r in rows) == ["a", "c"]
    for r in rows:
        assert r.rt_md5 == r.content_md5, r
        assert r.rt_bytes == r.n_bytes, r
    unscanned = manifest.join(objs, "object_key", "left_anti").collect()
    assert [(r.order_id, r.n_bytes) for r in unscanned] == [("b", 0)]

    # D2 linkage over the real binaryFile listing (not a derived DF)
    linked = bridge.object_linkage(BP.pointer_table(legacy), objs.drop("content"))
    assert sorted(r.order_id for r in linked.collect()) == ["a", "c"]


def test_oversize_blob_rejected(spark, tmp_path):
    """order.js:388 content-length-range 0..10485760: an 11 MB payload is
    flagged in the manifest and never written; validation stays clean."""
    big = b"\x5a" * (BP.MAX_OBJECT_BYTES + 1)
    legacy = spark.createDataFrame(
        [("big", "huge", big), ("ok", "fine", b"tiny")],
        "order_id string, description string, order_blob binary",
    )
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    rows = {r.order_id: r for r in manifest.collect()}
    assert rows["big"].status == "rejected_oversize"
    assert rows["big"].object_key is None
    assert rows["big"].n_bytes == BP.MAX_OBJECT_BYTES + 1
    assert rows["ok"].status == "written"
    assert not make_store(url).head("orders/big/image.png")

    report = BP.validate_migration(legacy, manifest, url)
    assert report["rejected_oversize"] == 1
    assert report["missing_writes"] == 0
    assert report["size_mismatches"] == 0
    assert report["md5_mismatches"] == 0
    assert report["missing_objects"] == 0
    assert report["orphan_manifests"] == 0


def test_validation_catches_phantom_writes(spark, legacy, tmp_path):
    """A manifest row with no source row (phantom/orphan write) must fail
    validation — previously NULL src sums made every flag NULL → ignored."""
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    manifest.count()
    store = make_store(url)
    store.put("orders/zz/image.png", b"phantom")
    phantom = spark.createDataFrame(
        [("zz", "orders/zz/image.png", 7, "x" * 32, "written")],
        BP.WRITE_MANIFEST_SCHEMA,
    )
    report = BP.validate_migration(legacy, manifest.unionByName(phantom), url)
    assert report["orphan_manifests"] == 1
    assert report["size_mismatches"] == 0  # NULL src must not leak into these
    assert report["md5_mismatches"] == 0
    assert report["missing_writes"] == 0


def test_validation_counts_each_reconciliation_row_once(spark, legacy, tmp_path):
    """The report has one row per full-outer-join row: a duplicated
    manifest row is counted once (not squared by a join back on the key),
    and a NULL-PK source row with no object is a missing write, not a
    row that drops out of the report."""
    url = f"file://{tmp_path}/store"
    manifest = BP.externalize_blobs(legacy, url)
    manifest.cache()
    manifest.count()
    dup = BP.validate_migration(legacy, manifest.unionByName(manifest.limit(1)), url)
    assert dup["n_rows"] == 4
    assert dup["missing_objects"] == 0

    ghost = spark.createDataFrame(
        [(None, "no key", b"lost")],
        "order_id string, description string, order_blob binary",
    )
    report = BP.validate_migration(legacy.unionByName(ghost), manifest, url)
    assert report["n_rows"] == 4
    assert report["missing_writes"] == 1
    assert report["missing_objects"] == 0
    assert report["orphan_manifests"] == 0


def test_object_io_and_key_format_live_in_one_place():
    """Every object request of the operators goes through the one
    executor-side kernel, and ``s3_object_key`` is the only place that
    knows the ``orders/<id>/<prefix>`` key format."""
    pkg = pathlib.Path(BP.__file__).resolve().parents[1]
    callers, key_fstrings = set(), []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                func = getattr(node, "func", None)
                name = getattr(func, "id", getattr(func, "attr", None))
                if path.parent.name == "operators" and name == "make_store":
                    callers.add((path.name, getattr(top, "name", None)))
                if (isinstance(node, ast.JoinedStr) and node.values
                        and isinstance(node.values[0], ast.Constant)
                        and str(node.values[0].value).startswith("orders/")):
                    key_fstrings.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert callers == {("blob_pipeline.py", "_per_object")}
    assert key_fstrings == []


def test_cascade_delete_s3_first(spark, legacy, tmp_path):
    url = f"file://{tmp_path}/store"
    BP.externalize_blobs(legacy, url).count()
    pointers = BP.pointer_table(legacy)
    keys = spark.createDataFrame([("a",), ("nope",)], "order_id string")
    survivors = BP.cascade_delete(pointers, keys, url)
    assert sorted(r.order_id for r in survivors.collect()) == ["b", "c"]
    store = make_store(url)
    assert not store.head("orders/a/image.png")   # object gone first (A15)
    assert store.head("orders/b/image.png")
    # repeat delete of an absent key: no-op, absence-tolerant (README.md:125)
    again = BP.cascade_delete(survivors, keys, url)
    assert sorted(r.order_id for r in again.collect()) == ["b", "c"]


# --- the kernel's in-flight loop, without Spark --------------------------------


class FakeStore:
    """Records every ``head`` it serves; ``on_head(key)`` shapes the call."""

    def __init__(self, on_head):
        self.on_head = on_head
        self.calls = []
        self._lock = threading.Lock()

    def head(self, key):
        with self._lock:
            self.calls.append(key)
        return self.on_head(key)


def _first(row):
    return row[0]


def test_map_in_flight_keeps_in_flight_requests_running_at_once():
    """Every call waits on a barrier of ``IN_FLIGHT`` parties: run one at
    a time, the first wait would time out and break the barrier."""
    barrier = threading.Barrier(IN_FLIGHT, timeout=10)

    def on_head(key):
        barrier.wait()
        return True

    store = FakeStore(on_head)
    keys = [f"k{i}" for i in range(3 * IN_FLIGHT)]
    assert BP._map_in_flight(store.head, [(k,) for k in keys], _first) == [True] * len(keys)
    assert sorted(store.calls) == sorted(keys)


def test_map_in_flight_returns_rows_in_input_order():
    rng = random.Random(7)
    delays = {i: rng.uniform(0, 0.01) for i in range(50)}

    def on_head(i):
        time.sleep(delays[i])
        return i * 10

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        out = BP._map_in_flight(FakeStore(on_head).head, [(i,) for i in range(50)], _first)
    finally:
        sys.setswitchinterval(interval)
    assert out == [i * 10 for i in range(50)]


def test_map_in_flight_runs_rows_of_one_key_one_after_another():
    """Four versions of each of ``IN_FLIGHT`` keys, key-major as a CDC
    increment stages them: calls on one key never overlap and run in
    input order, so each key ends at its last version."""
    lock = threading.Lock()
    active, overlaps, seen = set(), [], []

    def put(key, version):
        with lock:
            if key in active:
                overlaps.append((key, version))
            active.add(key)
        time.sleep(0.005)
        with lock:
            active.discard(key)
            seen.append((key, version))
        return version

    rows = [(f"k{k}", v) for k in range(IN_FLIGHT) for v in range(4)]
    assert BP._map_in_flight(put, rows, _first) == [v for _, v in rows]
    assert overlaps == []
    for k in range(IN_FLIGHT):
        assert [v for key, v in seen if key == f"k{k}"] == [0, 1, 2, 3]


def test_map_in_flight_first_error_propagates_and_stops_submission(monkeypatch):
    """Row 3 fails. The other calls of the first window are held until
    row 3's future has failed (a future wakes its waiters before it runs
    its done-callbacks), so the loop sees the error before any other
    completion: it re-raises the error as raised, and no row past the
    first window is ever called (rows of the window whose thread had not
    started by then are skipped too)."""

    class Throttled(Exception):
        pass

    failed = threading.Event()

    class Pool(BP.ThreadPoolExecutor):
        def submit(self, *args):
            f = super().submit(*args)
            f.add_done_callback(
                lambda f: not f.cancelled() and f.exception() and failed.set())
            return f

    monkeypatch.setattr(BP, "ThreadPoolExecutor", Pool)

    def on_head(i):
        if i == 3:
            raise Throttled("row 3")
        assert failed.wait(10)
        return True

    store = FakeStore(on_head)
    with pytest.raises(Throttled, match="row 3"):
        BP._map_in_flight(store.head, [(i,) for i in range(20 * IN_FLIGHT)], _first)
    assert 3 in store.calls
    assert set(store.calls) <= set(range(IN_FLIGHT))
