"""Ingest backend wrapper: seeded per-file faults and one record per call.

Implements the sink's ``IngestBackend`` protocol around
``LocalEmulatorBackend``. Faults are keyed on the staged file name, so
they spread over every batch instead of bunching into the first calls:

- a seeded share of files fail transiently on their first attempt and
  succeed on the retry;
- every file of a table named in ``failing_tables`` fails permanently.

Each ``ingest_file`` call is recorded as (file, table, start, end, ok,
source id, compressed size). The end time of a successful call is the ingest
acknowledgement the latency metrics are measured to.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from dataclasses import dataclass

from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestionProperties,
    IngestResult,
    LocalEmulatorBackend,
    PermanentIngestError,
    TransientIngestError,
)


@dataclass(frozen=True)
class IngestCall:
    file: str
    table: str
    start: float
    end: float
    ok: bool
    source_id: str
    gz_bytes: int


class FaultyBackend:
    def __init__(
        self,
        inner: LocalEmulatorBackend,
        seed: int,
        transient_share: float = 0.0,
        failing_tables: tuple = (),
    ):
        self.inner = inner
        self._seed = seed
        self._transient_share = transient_share
        self._failing_tables = set(failing_tables)
        self._lock = threading.Lock()
        self._failed_once: set[str] = set()
        self.calls: list[IngestCall] = []

    def _transient_fault(self, name: str) -> bool:
        """True on the first attempt of a file picked by the seeded hash."""
        digest = hashlib.blake2b(f"{self._seed}:{name}".encode(), digest_size=8)
        if int.from_bytes(digest.digest(), "big") / 2**64 >= self._transient_share:
            return False
        with self._lock:
            if name in self._failed_once:
                return False
            self._failed_once.add(name)
            return True

    def validate(self, props: IngestionProperties) -> None:
        self.inner.validate(props)

    def ingest_file(self, path: str, props: IngestionProperties) -> IngestResult:
        name = os.path.basename(path)
        gz_bytes = os.path.getsize(path)
        start = time.time()
        ok, source_id = False, ""
        try:
            if props.table in self._failing_tables:
                raise PermanentIngestError(f"table {props.table} rejects ingestion")
            if self._transient_fault(name):
                raise TransientIngestError(f"injected transient fault on {name}")
            result = self.inner.ingest_file(path, props)
            ok, source_id = result.accepted, result.source_id
            return result
        finally:
            call = IngestCall(name, props.table, start, time.time(), ok, source_id, gz_bytes)
            with self._lock:
                self.calls.append(call)
