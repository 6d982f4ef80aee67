"""Picklable stand-ins for the remote endpoints the migration sinks call.

Each fake serves one request in a fixed service time (a sleep, like a
round trip that does not use the client's CPU) and fails a stated share of
requests, chosen by a hash of the path so the output checks know in advance
which requests fail.  Counters are Spark accumulators: the fakes run in
executor Python workers, and accumulator updates made inside an action are
applied exactly once per successful task.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark import SparkContext

NOT_FOUND = "not_found"
ERROR = "error"
OK = "ok"


def injected_outcome(path: str, not_found_bp: int, error_bp: int) -> str:
    """The outcome the fakes inject for ``path``; shares in basis points."""
    h = int.from_bytes(hashlib.blake2b(path.encode(), digest_size=8).digest(),
                       "big") % 10_000
    if h < not_found_bp:
        return NOT_FOUND
    if h < not_found_bp + error_bp:
        return ERROR
    return OK


class _Fake:
    def __init__(self, sc: SparkContext, service_s: float,
                 not_found_bp: int = 0, error_bp: int = 0):
        self.service_s = service_s
        self.not_found_bp = not_found_bp
        self.error_bp = error_bp
        self.requests = sc.accumulator(0)
        self.not_found = sc.accumulator(0)
        self.errors = sc.accumulator(0)
        self.wait_us = sc.accumulator(0)

    def _serve(self, path: str) -> None:
        self.requests.add(1)
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        self.wait_us.add(int((time.perf_counter() - t0) * 1e6))
        outcome = injected_outcome(path, self.not_found_bp, self.error_bp)
        if outcome == NOT_FOUND:
            self.not_found.add(1)
            from databox_adls_loader_spark.sinks.rest import PathNotFound
            raise PathNotFound(path)
        if outcome == ERROR:
            self.errors.add(1)
            raise RuntimeError(f"injected failure: {path}")

    def counters(self) -> dict:
        return {"requests": self.requests.value,
                "not_found": self.not_found.value,
                "errors": self.errors.value,
                "wait_s": self.wait_us.value / 1e6}


class AclEndpoint(_Fake):
    """``sender`` for ``acl_pipeline(mode="apply")``: one setAccessControl."""

    def __call__(self, req: dict) -> None:
        self._serve(req["path"])


class FileCopier(_Fake):
    """``copier`` for ``copy_pipeline``: one file copy."""

    def __call__(self, path: str, length: int) -> None:
        self._serve(path)


class DirectoryCreator(_Fake):
    """``creator`` for ``copy_pipeline``: one mkdir, logged with a
    system-wide monotonic timestamp so the output check can verify that every
    parent was created before its children."""

    def __init__(self, sc: SparkContext, service_s: float, log_dir: str):
        super().__init__(sc, service_s)
        self.log_dir = log_dir

    def __call__(self, path: str) -> None:
        self._serve(path)
        log = os.path.join(self.log_dir, f"mkdir-{os.getpid()}.log")
        with open(log, "a", encoding="utf-8") as f:
            f.write(f"{time.monotonic_ns()} {path}\n")
