"""S3 endpoint for the benchmark: moto's S3 app behind a counting,
latency-injecting WSGI wrapper.

The package talks to S3 through boto3 clients built inside executor
tasks, so the only place every request can be seen without touching the
package is the server. ``StoreWrapper`` sleeps a fixed latency before
each request (a stand-in for the network round trip to a real object
store) and counts, per verb: requests, bytes, errors, and the number of
requests in flight (peak, time-weighted mean, busy time), plus the time
moto itself spent serving them (its own capacity limit).
"""

from __future__ import annotations

import logging
import threading
import time
from collections import Counter

import boto3
from moto.core import DEFAULT_ACCOUNT_ID
from moto.s3.models import s3_backends
from moto.server import DomainDispatcherApplication, create_backend_app
from werkzeug.serving import make_server

ACCESS = dict(region="us-east-1", access_key="bench", secret_key="bench")


def _verb(method: str, path: str) -> str:
    """Object-level verbs by HTTP method; bucket-level calls (create,
    list, delete bucket) and moto control calls are ``other``."""
    parts = path.lstrip("/").split("/", 1)
    if len(parts) < 2 or not parts[1] or parts[0].startswith("moto-api"):
        return "other"
    return {"PUT": "put", "GET": "get", "HEAD": "head", "DELETE": "delete"}.get(
        method, "other"
    )


class StoreWrapper:
    """WSGI middleware: fixed per-request latency plus request accounting.

    Counters are read and cleared with ``take()``; the benchmark driver
    calls it around each timed call (one call at a time, closed loop)."""

    def __init__(self, app, latency_s: float):
        self.app = app
        self.latency_s = latency_s
        self._lock = threading.Lock()
        self._clear(time.perf_counter())

    def _clear(self, now: float) -> None:
        self.counts: Counter = Counter()
        self.bytes_in = self.bytes_out = self.errors = 0
        self.inflight = self.max_inflight = 0
        self.area = self.busy_s = self.service_s = 0.0
        self.t_start = self.t_last = now

    def _advance(self, now: float) -> None:
        dt = now - self.t_last
        self.area += self.inflight * dt
        if self.inflight:
            self.busy_s += dt
        self.t_last = now

    def take(self) -> dict:
        """Counters since the last ``take()``, then clear them."""
        with self._lock:
            now = time.perf_counter()
            self._advance(now)
            wall = now - self.t_start
            out = {
                "put_n": self.counts["put"],
                "get_n": self.counts["get"],
                "head_n": self.counts["head"],
                "delete_n": self.counts["delete"],
                "other_n": self.counts["other"],
                "bytes_put": self.bytes_in,
                "bytes_get": self.bytes_out,
                "errors_n": self.errors,
                "max_inflight": self.max_inflight,
                "inflight_area": self.area,
                "busy_s": self.busy_s,
                "service_s": self.service_s,
                "wall_s": wall,
            }
            self._clear(now)
            return out

    def __call__(self, environ, start_response):
        verb = _verb(environ["REQUEST_METHOD"], environ.get("PATH_INFO", ""))
        n_in = int(environ.get("CONTENT_LENGTH") or 0)
        with self._lock:
            self._advance(time.perf_counter())
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)
        status = [500]
        n_out = 0
        t_serve = None
        try:
            time.sleep(self.latency_s)
            t_serve = time.perf_counter()

            def recording_start_response(st, headers, exc_info=None):
                status[0] = int(st.split(" ", 1)[0])
                return start_response(st, headers, exc_info)

            body = self.app(environ, recording_start_response)
            try:
                chunks = list(body)  # the full response is served in flight
            finally:
                if hasattr(body, "close"):
                    body.close()
            n_out = sum(len(c) for c in chunks)
            return chunks
        finally:
            # a 404 on HEAD/GET is the store's answer "absent", not a fault
            failed = status[0] >= 400 and not (
                status[0] == 404 and verb in ("head", "get")
            )
            now = time.perf_counter()
            with self._lock:
                self._advance(now)
                if t_serve is not None:
                    self.service_s += now - t_serve
                self.inflight -= 1
                self.counts[verb] += 1
                if verb == "put":
                    self.bytes_in += n_in
                if verb == "get":
                    self.bytes_out += n_out
                self.errors += int(failed)


class S3Endpoint:
    """A local S3 endpoint served from a thread of this process."""

    def __init__(self, latency_s: float):
        self.wrapper = StoreWrapper(
            DomainDispatcherApplication(create_backend_app), latency_s
        )
        logging.getLogger("werkzeug").setLevel(logging.ERROR)  # no per-request log
        self._server = make_server("127.0.0.1", 0, self.wrapper, threaded=True)
        self.endpoint = "http://127.0.0.1:%d" % self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="s3-endpoint", daemon=True
        )
        self._thread.start()

    def url(self, bucket: str) -> str:
        """The package's store URL for ``bucket`` on this endpoint."""
        return (
            f"s3://{bucket}?endpoint={self.endpoint}&region={ACCESS['region']}"
            f"&access_key={ACCESS['access_key']}&secret_key={ACCESS['secret_key']}"
        )

    @staticmethod
    def objects(bucket: str) -> dict[str, bytes]:
        """Every stored object of ``bucket``, read from moto's in-process
        backend: output checks see the store's state without adding
        requests to the counters."""
        b = s3_backends[DEFAULT_ACCOUNT_ID]["aws"].get_bucket(bucket)
        return {k: v.value for k, v in b.keys.items()}

    def client(self):
        """A boto3 client for set-up calls (its requests are counted
        too; callers ``take()`` the counters before timing)."""
        return boto3.client(
            "s3",
            endpoint_url=self.endpoint,
            region_name=ACCESS["region"],
            aws_access_key_id=ACCESS["access_key"],
            aws_secret_access_key=ACCESS["secret_key"],
        )

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=30)
