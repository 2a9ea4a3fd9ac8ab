"""The remote: the repository's S3-dialect stub with an emulated RTT,
metered on the wire.

Every request is classified as an object GET, a metadata request (HEAD
and LIST) or a mutation (PUT, multipart POST, COPY, DELETE), with the
bytes each GET sent and the time the stub spent on it. The meter is the
one vantage point that Spark worker processes and the benchmark share.
"""

from __future__ import annotations

import os
import threading
import time
from http.server import ThreadingHTTPServer

from sidecar_spark.testing import s3server

RTT_MS = 20

GET, META, PUT = "get", "meta", "put"


class Meter:
    """Request counts by class, and bytes and stub seconds of GETs."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.count = {GET: 0, META: 0, PUT: 0}
        self.get_bytes = 0
        self.get_s = 0.0

    def snapshot(self) -> dict:
        with self.lock:
            return {**self.count, "get_bytes": self.get_bytes,
                    "get_s": self.get_s}

    def start(self, kind: str) -> None:
        with self.lock:
            self.count[kind] += 1

    def finish(self, kind: str, nbytes: int, seconds: float) -> None:
        if kind == GET:
            with self.lock:
                self.get_bytes += nbytes
                self.get_s += seconds


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def counts(after: dict, before: dict) -> dict:
    """Requests of each class issued between two snapshots."""
    return {k: after[k] - before[k] for k in (GET, META, PUT)}


def _classify(command: str, path: str) -> str:
    if command == "GET":
        bare = "?" not in path and path.rstrip("/").count("/") >= 2
        return GET if bare else META
    return META if command == "HEAD" else PUT


class _MeteredHandler(s3server._Handler):
    # a request is counted once parsed, before any response byte is
    # sent, so a client that has its reply always sees its count
    def handle_one_request(self):
        self._kind = None
        self._length = 0
        super().handle_one_request()
        if self._kind:
            self.server.meter.finish(self._kind, self._length,
                                     time.perf_counter() - self._t0)

    def parse_request(self):
        self._t0 = time.perf_counter()  # the request line is in
        ok = super().parse_request()
        if ok:
            self._kind = _classify(self.command, self.path)
            self.server.meter.start(self._kind)
        return ok

    def send_header(self, keyword, value):
        if keyword == "Content-Length" and self._kind == GET:
            self._length = int(value)
        super().send_header(keyword, value)


class Remote:
    """A live stub on 127.0.0.1 with ``RTT_MS`` of emulated latency per
    request; ``put`` places objects directly in its store (input
    staging, not a measured upload)."""

    def __init__(self) -> None:
        os.environ["SIDECAR_S3_STUB_LATENCY_MS"] = str(RTT_MS)
        # credentials are explicit; keep the AWS SDK from probing an
        # instance-metadata endpoint (seconds per client, off-box)
        os.environ["AWS_EC2_METADATA_DISABLED"] = "true"
        self.store = s3server.S3Store()
        self.meter = Meter()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _MeteredHandler)
        self._httpd.store = self.store
        self._httpd.meter = self.meter
        self._thread = threading.Thread(target=self._httpd.serve_forever,
                                        daemon=True)
        self._thread.start()
        host, port = self._httpd.server_address
        os.environ["SIDECAR_S3_ENDPOINT"] = f"http://{host}:{port}"

    def put(self, bucket: str, key: str, data: bytes) -> None:
        with self.store.lock:
            self.store.buckets.setdefault(bucket, {})[key] = \
                s3server._Obj(data)

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
