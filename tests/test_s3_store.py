"""The boto3 S3 store exercised against a real (moto) S3 HTTP endpoint.

The pipeline's store clients are constructed INSIDE executor tasks —
separate Python worker processes — so in-process `mock_aws` patching
cannot reach them. moto's ThreadedMotoServer serves real HTTP instead,
and the endpoint travels to the workers inside the store URL, exactly
the mechanism a MinIO/localstack deployment would use.

Covers VERDICT r3 item 5: the same externalize → validate → cascade
delete pipeline that runs on the local-FS store (tests/test_blob_pipeline.py)
runs green against S3 (order.js:420-448 semantics incl. absence-tolerant
delete), plus the botocore ClientError retry taxonomy on real errors.
"""

import pytest

moto = pytest.importorskip("moto")
boto3 = pytest.importorskip("boto3")

from moto.server import ThreadedMotoServer

from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators import blob_pipeline as BP
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.operators.incremental_migration import (
    migrate_increment,
)
from migrate_blob_data_from_rdbms_to_amazon_s3_spark.sources.object_store import (
    IN_FLIGHT,
    RetryingStore,
    S3ObjectStore,
    _is_permanent,
    make_store,
)

BLOBS = [
    ("a", "first", b"\x89PNG\r\n\x1a\n" + bytes(range(64))),
    ("b", "second", b""),
    ("c", "third", b"\xff" * 1024),
]
BUCKET = "blob-store"


@pytest.fixture(scope="module")
def s3_url():
    server = ThreadedMotoServer(ip_address="127.0.0.1", port=0, verbose=False)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    client = boto3.client(
        "s3",
        endpoint_url=endpoint,
        region_name="us-east-1",
        aws_access_key_id="test",
        aws_secret_access_key="test",
    )
    client.create_bucket(Bucket=BUCKET)
    yield (
        f"s3://{BUCKET}?endpoint={endpoint}"
        "&region=us-east-1&access_key=test&secret_key=test"
    )
    server.stop()


@pytest.fixture()
def legacy(spark):
    return spark.createDataFrame(
        BLOBS, "order_id string, description string, order_blob binary"
    )


def _clear_bucket(url):
    store = make_store(url).inner
    resp = store._client.list_objects_v2(Bucket=BUCKET)
    for obj in resp.get("Contents", []):
        store.delete(obj["Key"])


# --- store unit surface -------------------------------------------------------


def test_s3_store_roundtrip(s3_url):
    store = make_store(s3_url)
    assert isinstance(store, RetryingStore)
    assert isinstance(store.inner, S3ObjectStore)
    store.put("orders/x/image.png", b"\x01\x02")
    assert store.head("orders/x/image.png")
    assert store.get("orders/x/image.png") == b"\x01\x02"
    assert store.delete("orders/x/image.png") is True
    assert not store.head("orders/x/image.png")
    # absence-tolerant: deleting the now-absent key is still success
    assert store.delete("orders/x/image.png") is True


def test_s3_client_pools_a_connection_per_in_flight_request(s3_url):
    """The kernel's request threads never outnumber the client's pooled
    connections (botocore's default pool is 10)."""
    assert make_store(s3_url).inner._client.meta.config.max_pool_connections == IN_FLIGHT


def test_s3_arn_bucket_strip(s3_url):
    """F6 (order.js:422): an ARN-form bucket name is stripped to the name."""
    store = S3ObjectStore(f"arn:aws:s3:::{BUCKET}")
    assert store.bucket == BUCKET


def test_s3_client_error_is_permanent_no_retry(s3_url):
    """A real botocore 404 (missing key) classifies as permanent: the
    retry wrapper must raise immediately, not burn attempts x backoff."""
    calls = {"n": 0}

    class Counting:
        def __init__(self, inner):
            self.inner = inner

        def get(self, key):
            calls["n"] += 1
            return self.inner.get(key)

    inner = make_store(s3_url).inner
    wrapped = RetryingStore(Counting(inner), attempts=3)
    with pytest.raises(Exception) as ei:
        wrapped.get("orders/never-written/image.png")
    assert _is_permanent(ei.value)
    assert calls["n"] == 1  # permanent -> no second attempt


# --- the reference pipeline end-to-end on S3 ---------------------------------


def test_externalize_validate_cascade_on_s3(spark, legacy, s3_url):
    """Same flow as the local-FS e2e (test_blob_pipeline): externalize all
    blobs, validate byte-parity, S3-first cascade delete, absence-tolerant
    repeat. The store clients here run in executor tasks against the moto
    HTTP endpoint — the real boto3 code path, no in-process mocks."""
    _clear_bucket(s3_url)
    manifest = BP.externalize_blobs(legacy, s3_url)
    manifest.cache()
    assert manifest.count() == 3

    store = make_store(s3_url)
    for oid, _, blob in BLOBS:
        assert store.get(f"orders/{oid}/image.png") == blob

    report = BP.validate_migration(legacy, manifest, s3_url)
    assert report["n_rows"] == 3
    assert report["size_mismatches"] == 0
    assert report["md5_mismatches"] == 0
    assert report["missing_writes"] == 0
    assert report["missing_objects"] == 0

    # tamper: delete one object behind the manifest's back -> caught
    store.delete("orders/c/image.png")
    report = BP.validate_migration(legacy, manifest, s3_url)
    assert report["missing_objects"] == 1
    store.put("orders/c/image.png", BLOBS[2][2])  # restore

    pointers = BP.pointer_table(legacy)
    keys = spark.createDataFrame([("a",), ("nope",)], "order_id string")
    survivors = BP.cascade_delete(pointers, keys, s3_url)
    assert sorted(r.order_id for r in survivors.collect()) == ["b", "c"]
    assert not store.head("orders/a/image.png")  # object gone first (A15)
    assert store.head("orders/b/image.png")
    # repeat delete of an absent key: no-op (README.md:125)
    again = BP.cascade_delete(survivors, keys, s3_url)
    assert sorted(r.order_id for r in again.collect()) == ["b", "c"]


def test_versions_of_one_key_in_one_pass_leave_the_newest_object_on_s3(
        spark, s3_url, tmp_path):
    """An increment with an insert and two updates of every key, each
    version with its own blob, leaves each key's newest blob in S3."""
    _clear_bucket(s3_url)
    rows = [(k * 3 + v + 1, f"id-{k}", f"v{v}", bytes([k * 3 + v]) * 4096)
            for k in range(8) for v in range(3)]
    source = spark.createDataFrame(
        rows, "seq long, order_id string, description string, order_blob binary"
    ).coalesce(1)
    e = migrate_increment(spark, source, store_url=s3_url,
                          target_path=str(tmp_path / "target"),
                          state_path=str(tmp_path / "state"), cursor_col="seq")
    assert e["n_objects_written"] == 24
    store = make_store(s3_url)
    for _, oid, _, blob in rows[2::3]:
        assert store.get(f"orders/{oid}/image.png") == blob
