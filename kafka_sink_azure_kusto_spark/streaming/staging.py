"""The staged-file writer: one ``mapInArrow`` pass over a micro-batch's
routed records, rolling them into the reference's gzipped files
(SURVEY §2.4 B1/B4/B5, E1–E4).

Input rows arrive hash-partitioned by (topic, partition) — the
file-assignment window's exchange — and sorted within each partition by
(topic, partition, file_seq, offset), so every rolled file is one
contiguous run of rows. The writer holds one file's rows at a time,
writes the file when its run ends and yields one manifest row per file:
the same role as one TopicPartitionWriter per Kafka partition, with
each file bounded by ``flush_size_bytes`` plus one record.

Per-route settings (:class:`Route`) pick the body format of a file:
text lines joined by newlines, Avro bytes verbatim (E4), struct values
as one Avro container (E2) or one Parquet/ORC file. With executor-side
ingest the writer also ingests each file where it wrote it and reports
the outcome in the manifest row instead of raising.
"""

from __future__ import annotations

import gzip
import io
import os
from dataclasses import dataclass
from typing import Any, Iterator, Optional

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestionProperties,
    classify_ingest_error,
)
from kafka_sink_azure_kusto_spark.streaming.retry import retry_with_backoff

# The reference's GZIPOutputStream default (Deflater.DEFAULT_COMPRESSION,
# FileWriter.java:146-153); Python's GzipFile would default to 9.
GZIP_LEVEL = 6

MANIFEST_SCHEMA = StructType(
    [
        StructField("route", IntegerType(), False),
        StructField("path", StringType(), False),
        StructField("topic", StringType(), False),
        StructField("partition", LongType(), False),
        StructField("file_offset", LongType(), False),
        StructField("records", LongType(), False),
        StructField("raw_bytes", LongType(), False),
        # Executor-side-ingest outcome (driver-mode rows carry "Staged").
        StructField("status", StringType(), False),
        StructField("error", StringType(), False),
        StructField("attempts", LongType(), False),
    ]
)


@dataclass(frozen=True)
class StagedFile:
    route: int
    path: str
    topic: str
    partition: int
    file_offset: int
    records: int
    raw_bytes: int
    status: str = "Staged"
    error: str = ""
    attempts: int = 0


@dataclass(frozen=True)
class Route:
    """How one mapping's files are written and ingested.

    ``binary`` is the E4 bytes passthrough: payloads are written verbatim
    with no separator (Avro bytes = one complete container per message,
    ByteRecordWriterProvider.java:21-39). ``avro_schema`` writes the
    file's ``value`` structs as ONE Avro Object Container File
    (AvroRecordWriterProvider.java:27-73). ``arrow_schema`` writes them
    as one Parquet or ORC file, typed by the Spark struct schema."""

    out_dir: str
    fmt: str
    props: IngestionProperties
    binary: bool = False
    avro_schema: Optional[dict] = None
    arrow_schema: Any = None


# Per-Python-worker backend cache for executor-side ingest: one client
# per (worker process, cache token) instead of one per rolled file —
# Spark reuses Python workers across tasks and batches.
_EXECUTOR_BACKENDS: dict = {}


def _cached_backend(token: str, factory):
    b = _EXECUTOR_BACKENDS.get(token)
    if b is None:
        if len(_EXECUTOR_BACKENDS) >= 16:
            # Long-lived workers serving many sink instances: bound the
            # cache (stale clients from finished sinks hold connections).
            _EXECUTOR_BACKENDS.clear()
        b = factory()
        _EXECUTOR_BACKENDS[token] = b
    return b


def ingest_with_retry(
    backend, path: str, props: IngestionProperties, max_attempts: int, backoff_ms: int
) -> tuple[int, Optional[Exception]]:
    """R2 constant backoff + R3 permanent classification around K1/K2.
    Returns (attempts, None) on success, (attempts, error) on failure."""
    classify = getattr(backend, "classify", classify_ingest_error)
    attempts = 0

    def attempt():
        nonlocal attempts
        attempts += 1
        result = backend.ingest_file(path, props)
        if not result.accepted:
            raise RuntimeError(f"ingestion final status {result.status}")
        return result

    try:
        retry_with_backoff(
            attempt, max_attempts=max_attempts, backoff_ms=backoff_ms, is_permanent=classify
        )
    except Exception as e:  # noqa: BLE001 — reported to the caller
        return attempts, e
    return attempts, None


def outcome(attempts: int, exc: Optional[Exception]) -> dict:
    """A file's manifest outcome fields after :func:`ingest_with_retry`."""
    if exc is None:
        return {"status": "Succeeded", "error": "", "attempts": attempts}
    return {"status": "Failed", "error": f"{type(exc).__name__}: {exc}", "attempts": attempts}


def _file_body(route: Route, rows) -> bytes:
    """Serialize one file's rows (a pyarrow Table) per the route."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if route.avro_schema is not None:
        from kafka_sink_azure_kusto_spark.functions.avro_io import write_container

        bio = io.BytesIO()
        write_container(
            (dict(v) for v in rows.column("value").to_pylist()), route.avro_schema, bio
        )
        return bio.getvalue()
    if route.arrow_schema is not None:
        table = pa.Table.from_pylist(
            rows.column("value").to_pylist(), schema=route.arrow_schema
        )
        bio = io.BytesIO()
        if route.fmt == "orc":
            import pyarrow.orc as orc

            orc.write_table(table, bio)
        else:
            import pyarrow.parquet as pq

            pq.write_table(table, bio)
        return bio.getvalue()
    lines = rows.column("line").combine_chunks().cast(pa.large_binary())
    one_list = pa.ListArray.from_arrays(pa.array([0, len(lines)], pa.int32()), lines)
    sep = b"" if route.binary else b"\n"
    body = pc.binary_join(one_list, pa.scalar(sep, pa.large_binary()))[0].as_py()
    return body + sep


def _write_file(routes: list[Route], rows, ingest: Optional[dict]) -> dict:
    """Write one rolled file, named per B4 (TopicPartitionWriter.java:
    235-242) with owner-only permissions like FileWriter.openFile
    (FileWriter.java:93-154); with ``ingest``, ingest and delete it here."""
    route_index = rows.column("route")[0].as_py()
    route = routes[route_index]
    topic = rows.column("topic")[0].as_py()
    partition = rows.column("partition")[0].as_py()
    file_offset = rows.column("file_offset")[0].as_py()
    # Parquet/ORC must NOT be externally gzipped: they are internally
    # compressed columnar containers and Kusto rejects a .gz wrapper
    # around them (deliberate deviation from the reference's
    # gzip-everything COMPRESSION_EXTENSION — the reference never stages
    # these formats). Text formats and Avro keep the reference's .gz.
    compress = route.arrow_schema is None
    ext = f".{route.fmt}.gz" if compress else f".{route.fmt}"
    os.makedirs(route.out_dir, exist_ok=True)
    path = os.path.join(route.out_dir, f"kafka_{topic}_{partition}_{file_offset}{ext}")
    body = _file_body(route, rows)
    with open(path, "wb") as raw:
        os.fchmod(raw.fileno(), 0o600)
        if compress:
            with gzip.GzipFile(
                fileobj=raw, mode="wb", mtime=0, compresslevel=GZIP_LEVEL
            ) as gz:
                gz.write(body)
        else:
            raw.write(body)
    result = {"status": "Staged", "error": "", "attempts": 0}
    if ingest is not None:
        backend = _cached_backend(ingest["token"], ingest["factory"])
        result = outcome(
            *ingest_with_retry(
                backend, path, route.props, ingest["max_attempts"], ingest["backoff_ms"]
            )
        )
        try:
            os.remove(path)  # B5 — co-located cleanup, success or not
        except OSError:
            pass
    return {
        "route": route_index,
        "path": path,
        "topic": topic,
        "partition": partition,
        "file_offset": file_offset,
        "records": rows.num_rows,
        "raw_bytes": len(body),
        **result,
    }


_FILE_KEY = ("topic", "partition", "file_seq")


def _run_starts(batch) -> list[int]:
    """Row indices where a new file's run of rows starts."""
    import pyarrow.compute as pc

    n = batch.num_rows
    changed = None
    for name in _FILE_KEY:
        col = batch.column(name)
        ne = pc.not_equal(col.slice(1), col.slice(0, n - 1))
        changed = ne if changed is None else pc.or_(changed, ne)
    return [0] + [i + 1 for i in pc.indices_nonzero(changed).to_pylist()]


def file_writer(routes: list[Route], ingest: Optional[dict] = None):
    """Build the ``mapInArrow`` body writing ``routes``' files.

    ``ingest`` (executor-side-ingest mode) carries ``{"factory",
    "token", "max_attempts", "backoff_ms"}``: each file is ingested right
    after it is written, so ``staging_dir`` needs no shared filesystem
    and ingest parallelism equals staging parallelism. The manifest row
    reports the per-file outcome instead of raising, so one poisoned
    file can't kill the Spark stage before its siblings finish."""

    def write_partition(batches: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(MANIFEST_SCHEMA)
        open_rows: list = []  # the open file's row runs
        open_key = None

        def flush():
            row = _write_file(routes, pa.Table.from_batches(open_rows), ingest)
            return pa.RecordBatch.from_pylist([row], schema=schema)

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            starts = _run_starts(batch)
            for lo, hi in zip(starts, starts[1:] + [n]):
                run = batch.slice(lo, hi - lo)
                key = tuple(run.column(c)[0].as_py() for c in _FILE_KEY)
                if key != open_key and open_rows:
                    yield flush()
                    open_rows = []
                open_key = key
                open_rows.append(run)
        if open_rows:
            yield flush()

    return write_partition
