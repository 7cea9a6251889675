"""Object-store abstraction for blob externalization (SURVEY §2 A12-A15).

The reference talks to S3 via presigned URLs and per-request STS tokens
(order.js:357-448). In the engine, object I/O happens inside executor
tasks, so the contract is a small client created *per partition* (one
client per partition = the reference's batching lesson, G1: one credential/
client setup per page, never per row — order.js:277-282, README.md:219-226).

Two implementations:
- ``LocalFSObjectStore`` — file:// tree, used by tests and local runs.
- ``S3ObjectStore``      — boto3-backed, identical interface; tested
  against a moto S3 server (tests/test_s3_store.py). boto3 is imported
  only when an ``s3://`` store is built.

One client serves ``IN_FLIGHT`` concurrent requests: the executor kernel
(operators/blob_pipeline._per_object) keeps that many round trips in
flight per task, and the S3 client pools as many connections.

Both honor the reference's error taxonomy: existence-check before delete,
absent object treated as success (order.js:439-446, README.md:125-126).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Object requests in flight per task client (see blob_pipeline._per_object
# for how 8 was chosen).
IN_FLIGHT = 8


class LocalFSObjectStore:
    """File-tree object store: key → <root>/<key>."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def _path(self, key: str) -> str:
        return f"{self.root}/{key}"

    def put(self, key: str, payload: bytes) -> None:
        path = self._path(key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(payload)

    def get(self, key: str) -> bytes:
        with open(self._path(key), "rb") as f:
            return f.read()

    def head(self, key: str) -> bool:
        return os.path.isfile(self._path(key))

    def delete(self, key: str) -> bool:
        """Absence-tolerant delete (skip = success, README.md:125-126)."""
        try:
            os.remove(self._path(key))
            return True
        except FileNotFoundError:
            return True

    # -- conditional-put (CAS) primitives (r12, VERDICT r11 item 7) ----------
    # The object-store lease (operators/mutation.CasWriterLease) needs
    # three atomic primitives. On a real object store they are HTTP
    # conditional requests (see S3ObjectStore); this local rendition
    # emulates the same atomicity with a short kernel flock on a per-key
    # sidecar, so the CAS semantics are real under concurrent threads/
    # processes on one host. ETag = md5 of the content, matching the
    # simple-put S3 convention.

    def _cas_locked(self, key: str):
        import fcntl
        from contextlib import contextmanager

        path = self._path(key) + ".__cas"
        os.makedirs(os.path.dirname(path), exist_ok=True)

        @contextmanager
        def guard():
            fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                os.close(fd)

        return guard()

    @staticmethod
    def _etag(payload: bytes) -> str:
        import hashlib

        return hashlib.md5(payload).hexdigest()

    def get_with_etag(self, key: str):
        """(payload, etag) or None if the key is absent."""
        try:
            data = self.get(key)
        except FileNotFoundError:
            return None
        return data, self._etag(data)

    def put_if_absent(self, key: str, payload: bytes):
        """Create-only put (If-None-Match: *): new etag, or None if the
        key already exists."""
        with self._cas_locked(key):
            if self.head(key):
                return None
            self.put(key, payload)
            return self._etag(payload)

    def put_if_match(self, key: str, payload: bytes, etag: str):
        """Compare-and-swap put (If-Match): replaces the object only if
        its current etag equals ``etag``; returns the new etag, or None
        on a lost race / missing key."""
        with self._cas_locked(key):
            cur = self.get_with_etag(key)
            if cur is None or cur[1] != etag:
                return None
            self.put(key, payload)
            return self._etag(payload)


class S3ObjectStore:
    """boto3-backed store. Mirrors LocalFSObjectStore; one client per
    instance — construct inside an executor task, never on the driver.
    The client is thread-safe and pools ``IN_FLIGHT`` connections, one
    per concurrent request of the task.
    Exercised end-to-end in tests against a moto S3 server
    (tests/test_s3_store.py); ``endpoint_url`` also serves any
    S3-compatible store (MinIO, localstack)."""

    def __init__(
        self,
        bucket: str,
        region: str | None = None,
        endpoint_url: str | None = None,
        access_key: str | None = None,
        secret_key: str | None = None,
    ):
        try:
            import boto3
            from botocore.config import Config
        except ImportError as e:  # pragma: no cover - boto3 absent
            raise NotImplementedError("boto3 not available in this environment") from e
        self.bucket = bucket.replace("arn:aws:s3:::", "")  # F6, order.js:422
        self._client = boto3.client(
            "s3",
            region_name=region,
            endpoint_url=endpoint_url,
            aws_access_key_id=access_key,
            aws_secret_access_key=secret_key,
            config=Config(max_pool_connections=IN_FLIGHT),
        )

    @staticmethod
    def _status(e: Exception) -> int | None:
        resp = getattr(e, "response", None)  # botocore ClientError
        if isinstance(resp, dict):
            code = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
            if isinstance(code, int):
                return code
        return None

    def put(self, key: str, payload: bytes) -> None:
        self._client.put_object(Bucket=self.bucket, Key=key, Body=payload)

    def get(self, key: str) -> bytes:
        return self._client.get_object(Bucket=self.bucket, Key=key)["Body"].read()

    def head(self, key: str) -> bool:
        try:
            self._client.head_object(Bucket=self.bucket, Key=key)
            return True
        except Exception as e:
            # NotFound/Forbidden both read as absent (order.js:439-446);
            # anything else (500, throttle, network) must surface, not
            # masquerade as a missing object in a validation report
            if self._status(e) in (403, 404):
                return False
            raise

    def delete(self, key: str) -> bool:
        """Absence-tolerant delete (README.md:125-126): S3 returns 204 for
        a missing key, so tolerance is inherent; the 404 guard covers
        S3-compatible stores that differ. Non-404 failures raise so the
        RetryingStore wrapper can retry transient ones."""
        try:
            self._client.delete_object(Bucket=self.bucket, Key=key)
            return True
        except Exception as e:
            if self._status(e) == 404:
                return True
            raise

    # -- conditional-put (CAS) primitives (r12, VERDICT r11 item 7) ----------
    # S3's public conditional writes: If-None-Match:* (create-only) and
    # If-Match (compare-and-swap) on PutObject; a lost precondition is
    # HTTP 412 (or 409 mid-flight on concurrent creates). These back
    # operators/mutation.CasWriterLease. Do NOT wrap CAS ops in blind
    # retries: a network error after a PUT may have committed — the
    # lease's own observe-then-CAS loop is the safe retry.

    def get_with_etag(self, key: str):
        try:
            r = self._client.get_object(Bucket=self.bucket, Key=key)
            return r["Body"].read(), r["ETag"].strip('"')
        except Exception as e:
            if self._status(e) in (403, 404):
                return None
            raise

    def put_if_absent(self, key: str, payload: bytes):
        try:
            r = self._client.put_object(
                Bucket=self.bucket, Key=key, Body=payload, IfNoneMatch="*"
            )
            return r["ETag"].strip('"')
        except Exception as e:
            if self._status(e) in (409, 412):
                return None
            raise

    def put_if_match(self, key: str, payload: bytes, etag: str):
        try:
            r = self._client.put_object(
                Bucket=self.bucket, Key=key, Body=payload, IfMatch=etag
            )
            return r["ETag"].strip('"')
        except Exception as e:
            if self._status(e) in (409, 412):
                return None
            raise


# Permanent failures retrying can never fix: retrying a missing key or a
# permissions error just multiplies wall clock by attempts x backoff in
# every executor task.
_PERMANENT_ERRORS = (
    FileNotFoundError,
    PermissionError,
    IsADirectoryError,
    NotADirectoryError,
    ValueError,
    TypeError,
    NotImplementedError,
)


def _is_permanent(e: Exception) -> bool:
    """True for failures a retry can never fix. Matches the stdlib types a
    LocalFSObjectStore raises AND botocore ClientError shapes: S3 surfaces
    a missing key / access denial / bad request as ClientError with a 4xx
    HTTPStatusCode, which must not burn attempts x backoff in every
    executor task. 408 (timeout) and 429 (throttling) stay retryable —
    those are the transient 4xx codes."""
    if isinstance(e, _PERMANENT_ERRORS):
        return True
    resp = getattr(e, "response", None)  # botocore ClientError duck-type
    if isinstance(resp, dict):
        code = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
        if isinstance(code, int) and 400 <= code < 500 and code not in (408, 429):
            return True
    return False


class RetryingStore:
    """Bounded-retry decorator for any store: transient put/get/delete
    failures (throttling, connection resets — the errors S3 surfaces
    under load) retry up to ``attempts`` times with deterministic
    backoff. Permanent error classes (missing key, permissions, bad
    arguments) re-raise immediately; ``head`` is never retried (a false
    negative is re-checked by the caller's validation pass, A14). Used
    inside executor tasks, so the sleep is per-task, never on the
    driver."""

    def __init__(self, inner, attempts: int = 3, backoff_s: float = 0.05):
        self.inner = inner
        self.attempts = attempts
        self.backoff_s = backoff_s

    def _retry(self, fn, *args):
        import time

        last: Exception | None = None
        for i in range(self.attempts):
            try:
                return fn(*args)
            except Exception as e:
                if _is_permanent(e):
                    raise
                last = e
                if i + 1 < self.attempts:
                    time.sleep(self.backoff_s * (2**i))
        raise last  # type: ignore[misc]

    def put(self, key: str, payload: bytes) -> None:
        self._retry(self.inner.put, key, payload)

    def get(self, key: str) -> bytes:
        return self._retry(self.inner.get, key)

    def delete(self, key: str) -> bool:
        return self._retry(self.inner.delete, key)

    def head(self, key: str) -> bool:
        return self.inner.head(key)


def read_objects(
    spark: SparkSession, root_url: str, glob: str | None = None
) -> DataFrame:
    """A13 bulk object source (sites/js/app.js:519-576 reads migrated
    objects back over HTTP; the engine's analog is Spark's ``binaryFile``
    format over the store tree). Returns one row per object:

        object_key   key relative to ``root_url`` (orders/<id>/<prefix>)
        n_bytes      object size
        content      the payload (BinaryType)
        mod_time     store mtime

    ``binaryFile`` is a real FileFormat: listing is distributed, each
    object is one task input split, and column pruning applies — a query
    that never touches ``content`` reads only file metadata, so a
    100 TB-tree audit (keys + sizes) costs no payload I/O. Use ``glob``
    (e.g. ``*.png``) as a pathGlobFilter to prune the listing itself.

    Known Spark behavior: the split planner emits no task for zero-byte
    files, so empty objects (a valid blob per order_rdbms_blob.js:210) do
    not appear here. Audit them from the write manifest (``n_bytes = 0``)
    or ``store.head`` — content-level checks are unaffected since they
    carry no payload."""
    root = root_url.removeprefix("file://").rstrip("/")
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root_url if "://" in root_url else f"file://{root}")
    # Paths come back scheme-qualified AND scheme-normalized (file:/abs/...;
    # s3:// may resurface as s3a://), so the marker is the SCHEME-LESS root
    # ("bucket/prefix" or "/abs/dir") — first occurrence is the authority/
    # root, ahead of any same-named key component. A path that somehow
    # doesn't contain the marker yields NULL, never a garbage key.
    marker = (root.split("://", 1)[-1]).rstrip("/") + "/"
    key = F.when(
        F.instr("path", marker) > 0,
        F.col("path").substr(
            F.instr("path", marker) + F.lit(len(marker)), F.length("path")
        ),
    )
    return df.select(
        key.alias("object_key"),
        F.col("length").alias("n_bytes"),
        "content",
        F.col("modificationTime").alias("mod_time"),
    )


def make_store(url: str):
    """``file:///path`` or ``s3://bucket`` → store instance, wrapped in
    bounded retries (``.inner`` is the bare store). Called inside
    executor tasks (the factory string travels; clients do not)."""
    if url.startswith("file://"):
        store = LocalFSObjectStore(url.removeprefix("file://"))
    elif url.startswith("s3://"):
        # optional query params ride along with the URL string into every
        # executor task: s3://bucket?endpoint=http://host:port&region=...
        # (&access_key/&secret_key for test/dev stores ONLY — production
        # omits them and uses the default credential chain)
        from urllib.parse import parse_qs, urlsplit

        parts = urlsplit(url)
        q = {k: v[0] for k, v in parse_qs(parts.query).items()}
        store = S3ObjectStore(
            parts.netloc,
            region=q.get("region"),
            endpoint_url=q.get("endpoint"),
            access_key=q.get("access_key"),
            secret_key=q.get("secret_key"),
        )
    else:
        raise ValueError(f"unsupported object store url: {url}")
    return RetryingStore(store)
