"""The foreachBatch sink orchestrator — the data plane of the rebuild
(SURVEY §3.2): tombstone-filter → route → encode → stage gzipped rolled
files → ingest with retry → DLQ/raise per behavior.on.error → metrics.

Delivery semantics (R1): Structured Streaming writes the checkpoint
``commits/`` entry only after foreachBatch returns without raising, so a
failed ingest replays the whole micro-batch — the same at-least-once
guarantee as the reference's lastCommittedOffset scheme with replay
granularity of a micro-batch instead of a file (SURVEY §7.4).

Scale notes:
- One routed pass per micro-batch, like the reference's per-record
  route lookup (KustoSinkTask.java:334-340): each record is tagged with
  its mapping by one CASE on ``topic``, encoded by a CASE on that tag,
  assigned to rolled files once, and every mapping's files are staged
  in ONE Spark job. Encoding is JVM-side (``to_json``/``concat_ws``;
  whole-stage codegen).
- File staging runs on executors as a per-partition Arrow writer
  (``streaming/staging.py``, ``mapInArrow``): the file-assignment
  window's exchange is keyed on (topic, partition), the natural Kafka
  parallelism unit, so each Kafka partition's records land in rolled
  files exactly like one TopicPartitionWriter, and the writer holds one
  file's rows (≤ flush_size_bytes plus one record) at a time.
- Only the tiny per-file manifest is collected to the driver; record
  data never is (DLQ records — failed files only — are the bounded
  exception).
- Ingestion of a batch's staged files runs on one bounded thread pool
  (``config.ingest_threads``), each file with its own mapping's
  ingestion properties: ingest RPCs are I/O-bound HTTP, so one slow
  file no longer serializes the whole batch behind its retry loop.

Staging-directory requirement (multi-node clusters): in the default
driver-ingest mode, files are WRITTEN by executors and READ/deleted by
the driver-side ingest loop, so ``config.staging_dir`` MUST be shared
storage (NFS / DBFS / fuse-mounted object store) on a real cluster;
executor-local paths only work in local mode. A non-shared path
surfaces as ``FileNotFoundError`` at ingest time, which
``classify_ingest_error`` treats as PERMANENT (no retry-budget burn)
precisely to make this misconfiguration fail fast.

``executor_side_ingest=True`` removes that requirement entirely — the
writer ingests each rolled file on the executor that wrote it (retry +
permanent classification included), the file never leaves local disk,
and ingest parallelism equals staging parallelism. This is the
1000-executor mode; the driver only settles the per-file outcome
manifest (metrics, behavior.on.error, DLQ) on the same path as driver
mode.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructType

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.functions.encoders import encode_for_format
from kafka_sink_azure_kusto_spark.functions.filters import drop_tombstones
from kafka_sink_azure_kusto_spark.functions.routing import route_index
from kafka_sink_azure_kusto_spark.operators.batching import with_file_assignment
from kafka_sink_azure_kusto_spark.streaming.backends import (
    IngestBackend,
    IngestionProperties,
)
from kafka_sink_azure_kusto_spark.streaming.metrics import SinkMetrics
from kafka_sink_azure_kusto_spark.streaming.staging import (
    MANIFEST_SCHEMA,
    Route,
    StagedFile,
    file_writer,
    ingest_with_retry,
    outcome,
)

log = logging.getLogger(__name__)


def _by_route(values: list[tuple[Column, list[int]]]) -> Column:
    """One CASE on the ``route`` tag choosing each route's expression
    (``values`` pairs an expression with the routes that use it; the
    last pair is the ELSE branch)."""
    *cases, (default, _) = values
    if not cases:
        return default
    hits = [(F.col("route").isin(routes), value) for value, routes in cases]
    expr = F.when(*hits[0])
    for hit, value in hits[1:]:
        expr = expr.when(hit, value)
    return expr.otherwise(default)


def _grouped(pairs) -> list[tuple[Column, list[int]]]:
    """[(key, expression)] per route → [(expression, routes)] per key."""
    out: dict = {}
    for i, (key, value) in enumerate(pairs):
        out.setdefault(key, (value, []))[1].append(i)
    return list(out.values())


class _WarmupNullBackend:
    """Backend stand-in for the attach-time warmup batch: accepts every
    staged file without recording anything, so the warmup leaves zero
    trace in the real backend's tables/ingest log."""

    def ingest_file(self, path: str, props: IngestionProperties):
        from kafka_sink_azure_kusto_spark.streaming.backends import (
            IngestResult,
        )

        return IngestResult(status="Succeeded", source_id="warmup")

    def validate(self, props: IngestionProperties) -> None:
        return None


class KustoSparkSink:
    """Composable sink: ``sink.attach(stream_df)`` starts the query;
    ``sink.process_batch(df, epoch)`` is the foreachBatch body (also
    callable on a static DataFrame for tests/batch backfills, mirroring
    the reference's put()-driven unit tests)."""

    def __init__(
        self,
        config: KustoSinkConfig,
        backend: IngestBackend,
        metrics: Optional[SinkMetrics] = None,
        dlq_writer=None,
        backend_factory=None,
        executor_side_ingest: bool = False,
        dlq_partition_producer_factory=None,
    ):
        self.config = config
        self.backend = backend
        self.metrics = metrics or SinkMetrics()
        # Executor-side ingest (the 1000-executor mode): each staging
        # group ingests its own rolled file where it wrote it — no shared
        # staging_dir, ingest parallelism = staging parallelism, and the
        # driver only sees the per-file outcome manifest.
        # ``backend_factory`` must be a picklable zero-arg callable
        # building the backend ON the executor (clients don't pickle).
        if executor_side_ingest and backend_factory is None:
            raise ValueError("executor_side_ingest=True requires backend_factory")
        self._backend_factory = backend_factory
        self._executor_side_ingest = executor_side_ingest
        # Sink-instance nonce: scopes the executor-side backend cache so
        # a reused Python worker never serves this sink with a client
        # built by a DIFFERENT sink's factory (same cluster URL ≠ same
        # factory — think tests, or credential rotation on restart).
        import uuid as _uuid

        self._instance_token = _uuid.uuid4().hex
        # K3 — dlq_writer: callable(list[dict]) shipping failed records.
        # Resolution order: explicit injection > Kafka DLQ when
        # misc.deadletterqueue.* is configured (KustoSinkTask.java:442-458,
        # producer built lazily on first failure) > NDJSON file fallback
        # under staging.
        if dlq_writer is None and config.dlq_enabled:
            from kafka_sink_azure_kusto_spark.streaming.dlq import KafkaDlqWriter

            dlq_writer = KafkaDlqWriter.from_config(config)
        self._dlq_writer = dlq_writer
        # Executor-side DLQ produce seam (config.dlq_executor_side):
        # picklable callable(props) -> producer, shipped to foreachPartition
        # tasks. None ⇒ kafka-python's default factory on the executors.
        self._dlq_partition_producer_factory = dlq_partition_producer_factory
        if config.validate_tables:
            # V1–V4 startup probes, errors aggregated across mappings then
            # thrown once (validateTableMappings, KustoSinkTask.java:342-375).
            errors = []
            for m in config.mappings:
                try:
                    self.backend.validate(self._props_for(m))
                except Exception as e:  # noqa: BLE001
                    errors.append(f"{m.db}.{m.table}: {e}")
            if errors:
                raise RuntimeError(
                    "table mapping validation failed: " + " | ".join(errors)
                )

    # ------------------------------------------------------------------ utils
    @staticmethod
    def _props_for(m: TopicToTableMapping) -> IngestionProperties:
        return IngestionProperties(
            database=m.db,
            table=m.table,
            format=m.ingest_format,
            mapping_reference=m.mapping,
            streaming=m.streaming,
        )

    # ------------------------------------------------------- the data plane
    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """SURVEY §3.2 as one routed pass: kafkaDF → filter tombstones →
        tag each record with its mapping → encode → assign rolled files
        → stage every mapping's files in one job → ingest them in one
        pool → DLQ or raise per behavior.on.error.

        Under ``behavior_on_error=FAIL`` the whole batch's files are
        ingested before the first failure is raised, so files of later
        mappings may land before an earlier mapping's failure fails the
        batch. No offsets are committed; the replay re-stages the same
        file names, so a backend that skips replayed files (the
        emulator's ``dedupe_replays``, ingest-by-tag on Kusto) lands
        every record once."""
        maps = self.config.mappings
        df = drop_tombstones(batch_df).withColumn("route", route_index(maps))  # F1, F3
        if not any(m.is_wildcard for m in maps):
            df = df.filter(F.col("route").isNotNull())  # unmapped topics
        value_type = df.schema["value"].dataType
        routes = [self._route(m, value_type, epoch_id) for m in maps]
        bytes_routes = [i for i, r in enumerate(routes) if r.binary]
        if "line" not in df.columns:
            df = df.withColumn("line", self._encode(df, value_type, bool(bytes_routes)))
        # F2 — empty serializations are skipped (JsonRecordWriterProvider.java:53-56).
        df = df.filter(F.length("line") > 0)
        # B1 — size-based file assignment on UNCOMPRESSED bytes (+1 newline,
        # matching CountingOutputStream accounting, FileWriter.java:332-362).
        # Text lines of a binary-valued batch count their string length.
        size = F.length("line")
        if 0 < len(bytes_routes) < len(routes):
            size = _by_route(
                [(size, bytes_routes), (F.length(F.col("line").cast("string")), [])]
            )
        df = df.withColumn("serialized_size", size.cast("long") + F.lit(1))
        # B3 — flush.interval.ms == 0 rolls EVERY record into its own file
        # (FileWriter.java:298); avro-bytes always does (E4, one message is
        # one complete container file, FileWriter.java:320-323).
        per_record = [
            i for i, r in enumerate(routes) if r.binary or self.config.flush_interval_ms == 0
        ]
        threshold = self.config.flush_size_bytes
        if len(per_record) == len(routes):
            threshold = 1
        elif per_record:
            threshold = _by_route([(F.lit(1), per_record), (F.lit(threshold), [])])
        df = with_file_assignment(df, threshold)
        staged = self._stage(df, routes)
        if not staged:
            return  # lazy-init parity: no empty files (FileWriter.java:185-190)
        if self._executor_side_ingest:
            self._settle(df, [(s, None) for s in staged], routes)
            return
        try:
            self._settle(df, self._ingest(staged, routes), routes)
        finally:
            for s in staged:
                try:
                    os.remove(s.path)  # B5 — delete local file after roll
                except OSError:
                    pass

    def _route(self, m: TopicToTableMapping, value_type, epoch_id: int) -> Route:
        """A mapping's staging settings. Dispatch mirrors
        FileWriter.initializeRecordWriter (F4): a struct payload is
        written per the mapping's format; a string/binary payload
        already IS the line (String/ByteRecordWriterProvider)."""
        fmt = m.ingest_format
        struct = isinstance(value_type, StructType)
        avro = fmt in ("avro", "apacheavro")
        avro_schema = arrow_schema = None
        if avro and struct:
            # E2 — struct payloads staged as real Avro container files
            # (AvroRecordWriterProvider.java:27-73) via the pure-Python writer.
            from kafka_sink_azure_kusto_spark.functions.avro_io import avro_schema_for

            avro_schema = avro_schema_for(value_type)
        if fmt in ("parquet", "orc") and struct:
            # Parquet/ORC staging (extension; Kusto ingests both
            # natively): typed by the Spark struct schema so the round
            # trip is lossless.
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(value_type)
        return Route(
            out_dir=os.path.join(self.config.staging_dir, f"epoch={epoch_id}", m.db, m.table),
            fmt=fmt,
            props=self._props_for(m),
            binary=avro and isinstance(value_type, BinaryType),
            avro_schema=avro_schema,
            arrow_schema=arrow_schema,
        )

    def _encode(self, df: DataFrame, value_type, any_bytes: bool) -> Column:
        """E1/E3/E4 — one ``line`` per record, JVM-side, by route."""
        if isinstance(value_type, BinaryType):
            # avro-bytes keeps the raw container bytes, untouched; text
            # routes share the same bytes (their size counts the string).
            return F.col("value") if any_bytes else F.col("value").cast("string")
        if not isinstance(value_type, StructType):
            return F.col("value").cast("string")
        fields = [f"value.{c}" for c in value_type.fieldNames()]

        def line(m: TopicToTableMapping):
            fmt = m.ingest_format
            if fmt in ("avro", "apacheavro", "parquet", "orc"):
                # Size proxy AND the DLQ value for failed records — keep
                # null fields so the DLQ payload is schema-faithful to the
                # staged record (to_json drops nulls by default). B1
                # thresholds then track serialized record size within a
                # small constant factor of the container bytes
                # (documented deviation — the reference counts exact
                # avro bytes; both bound file sizes).
                return "json_nulls", F.to_json(F.col("value"), {"ignoreNullFields": "false"})
            if fmt == "multijson":
                return "json", F.to_json(F.col("value"))
            return fmt, encode_for_format(df, fmt, cols=fields)

        return _by_route(_grouped(line(m) for m in self.config.mappings))

    def _stage(self, df: DataFrame, routes: list[Route]) -> list[StagedFile]:
        """Write every route's rolled files in ONE job (``mapInArrow``
        over rows sorted into contiguous files within each partition)
        and collect the per-file manifest."""
        cols = ["route", "topic", "partition", "offset", "line", "file_seq", "file_offset"]
        if any(r.avro_schema is not None or r.arrow_schema is not None for r in routes):
            cols.append("value")  # typed structs for the container writers
        ingest = None
        if self._executor_side_ingest:
            ingest = {
                "factory": self._backend_factory,
                "token": f"{self._instance_token}|{self.config.ingest_url}",
                "max_attempts": self.config.max_retry_attempts,
                "backoff_ms": self.config.retry_backoff_time_ms,
            }
        manifest = (
            df.select(*cols)
            .sortWithinPartitions("topic", "partition", "file_seq", "offset")
            .mapInArrow(file_writer(routes, ingest), MANIFEST_SCHEMA)
        )
        staged = [StagedFile(**row.asDict()) for row in manifest.collect()]
        return sorted(staged, key=lambda s: (s.route, s.topic, s.partition, s.file_offset))

    def _ingest(self, staged: list[StagedFile], routes: list[Route]):
        """Ingest every staged file on one bounded pool, each with its
        own route's properties; returns [(file with outcome, error)]."""

        def one(s: StagedFile):
            attempts, exc = ingest_with_retry(
                self.backend,
                s.path,
                routes[s.route].props,
                self.config.max_retry_attempts,
                self.config.retry_backoff_time_ms,
            )
            return replace(s, **outcome(attempts, exc)), exc

        workers = max(1, min(len(staged), self.config.ingest_threads))
        with ThreadPoolExecutor(max_workers=workers, thread_name_prefix="kusto-ingest") as pool:
            return list(pool.map(one, staged))

    def _settle(self, df: DataFrame, outcomes, routes: list[Route]) -> None:
        """Per-file outcome accounting: successes count toward
        records_written even when a sibling file fails, and only the
        failed files' records ever reach the DLQ — a delivered record
        must never reappear there as a duplicate. Then the R4
        behavior.on.error dispatch."""
        failed: list[StagedFile] = []
        first_error: Optional[Exception] = None
        for s, exc in outcomes:
            self.metrics.incr("ingestion_attempts", s.attempts)
            if s.status == "Succeeded":
                self.metrics.incr("ingestion_successes")
                self.metrics.incr("records_written", s.records)
            else:
                self.metrics.incr("ingestion_failures")
                self.metrics.incr("records_failed", s.records)
                failed.append(s)
                first_error = first_error or exc
        if not failed:
            return
        if first_error is None:  # executor-side: the manifest carries the error text
            first_error = RuntimeError(
                f"executor-side ingestion failed for {len(failed)}/{len(outcomes)} "
                f"files; first: {failed[0].error}"
            )
        if self.config.behavior_on_error is BehaviorOnError.FAIL:
            raise first_error
        if self.config.behavior_on_error is BehaviorOnError.LOG:
            props = [routes[s.route].props for s in failed]
            tables = sorted({f"{p.database}.{p.table}" for p in props})
            log.error(
                "ingestion failed for %d/%d staged files of %s: %s",
                len(failed), len(outcomes), ", ".join(tables), first_error,
            )
        self._send_to_dlq(df, failed, routes)

    @staticmethod
    def _failed_records(df: DataFrame, failed: list[StagedFile]) -> DataFrame:
        """The batch's records of the ``failed`` files. The topic and
        (topic, partition) predicates name only the file-assignment
        window's partition keys, so Catalyst pushes them below the
        window (the topic one into the source scan): the rescan reads
        and windows only the failed files' topic-partitions, and file
        assignment, computed per topic-partition, comes out the same."""

        def key(*cols):
            return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])

        tps = sorted({f"{s.topic}\x1f{s.partition}" for s in failed})
        files = [f"{s.topic}\x1f{s.partition}\x1f{s.file_offset}" for s in failed]
        topics = F.col("topic").isin(sorted({s.topic for s in failed}))
        return df.filter(topics & key("topic", "partition").isin(tps)).filter(
            key("topic", "partition", "file_offset").isin(files)
        )

    def _send_to_dlq(self, df: DataFrame, failed: list[StagedFile], routes: list[Route]) -> None:
        """K3 — one DLQ record per failed record, each key carrying the
        record's OWN kafka coordinates (TopicPartitionWriter.java:210-233
        formats them per sinkRecord, not per rolled file).

        Records come from :meth:`_failed_records` — never from
        re-reading staged gzip on the driver — so per-record offsets
        survive file rolling, binary Avro payloads never pass through a
        text decode (a corrupt staged file can't escalate a LOG/IGNORE
        batch into a query failure), and only failed-file records are
        collected (bounded by the failure volume, not the batch)."""
        filtered = self._failed_records(df, failed)
        key_col = F.concat(
            F.lit(
                "Failed to write record to KustoDB with the following "
                "kafka coordinates, topic="
            ),
            F.col("topic"),
            F.lit(", partition="),
            F.col("partition").cast("string"),
            F.lit(", offset="),
            F.col("offset").cast("string"),
            F.lit("."),
        )
        executor_side = self.config.dlq_executor_side and (
            self.config.dlq_enabled or self._dlq_partition_producer_factory
        )
        if executor_side or self._dlq_writer is None:
            # Produce from the executors (one producer per partition task):
            # DLQ cost scales with the cluster and the failure tail never
            # crosses the driver. Bytes are identical to the driver path
            # below; only the production locus moves. Without a broker or
            # custom writer, the fallback is one JSONL per task under
            # staging/_dlq — a whole-mapping failure on a big batch must
            # not materialize every failed record on the driver.
            import functools

            from kafka_sink_azure_kusto_spark.streaming.dlq import (
                FileDlqProducer,
                executor_partition_sender,
            )

            # A custom producer factory supplies its own destination; only
            # then is a missing dlq topic acceptable — each route gets a
            # deterministic pseudo-topic instead of None.
            tables = [f"dlq.{r.props.database}.{r.props.table}" for r in routes]
            if executor_side:
                props = self.config.dlq_producer_props()
                factory = self._dlq_partition_producer_factory
                if self.config.dlq_topic_name:
                    tables = [self.config.dlq_topic_name] * len(routes)
            else:
                props = {}
                factory = functools.partial(
                    FileDlqProducer, directory=os.path.join(self.config.staging_dir, "_dlq")
                )
            topic = _by_route(_grouped((t, F.lit(t)) for t in tables))
            sent = df.sparkSession.sparkContext.accumulator(0)
            filtered.select(
                topic.alias("topic"), key_col.alias("key"), F.col("line").alias("value")
            ).foreachPartition(executor_partition_sender(props, factory, counter=sent))
            # one evaluation of the failure frame; the accumulator counts
            # records handed to producers (post-flush), not candidates
            self.metrics.incr("dlq_records_sent", sent.value)
            return
        # Custom driver-side writer seam (tests, bespoke sinks): bounded
        # collect of the failure tail only.
        rows = (
            filtered.orderBy("route", "topic", "partition", "offset")
            .select("route", key_col.alias("key"), "line")
            .collect()
        )

        def value(r):
            if routes[r["route"]].binary:
                return bytes(r["line"])
            return r["line"] if isinstance(r["line"], str) else bytes(r["line"]).decode("utf-8")

        records = [{"key": r["key"], "value": value(r)} for r in rows]
        if not records:
            return
        self._dlq_writer(records)
        self.metrics.incr("dlq_records_sent", len(records))

    # --------------------------------------------------------- control plane
    def attach(
        self,
        stream_df: DataFrame,
        query_name: str = "kusto_sink",
        available_now: bool = False,
    ):
        """SURVEY §3.1 — start the streaming query. The processing-time
        trigger plays the reference's flush.interval.ms role (B2): every
        trigger flushes whatever is buffered. ``available_now=True``
        drains the source then stops (backfill / test mode — the analog
        of the reference's drain-on-stop close path)."""
        if self.config.warmup_on_attach:
            self._warmup(stream_df.sparkSession)
        writer = stream_df.writeStream.queryName(query_name).foreachBatch(
            self.process_batch
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.config.trigger_processing_time)
        if self.config.checkpoint_location:
            writer = writer.option("checkpointLocation", self.config.checkpoint_location)
        return writer.start()

    def _warmup(self, spark) -> None:
        """Cold-path warmup (config.warmup_on_attach, PERF.md r10): a
        tiny synthesized batch through the SAME encode→roll→stage→
        ingest plan, staged under a throwaway epoch and scrubbed from
        every observable (backend tables, ingest log, metrics) so a
        warmed sink is indistinguishable from a cold one to callers.
        Runs before writeStream.start(), overlapping source
        initialization."""
        from pyspark.sql import functions as F

        tiny = spark.range(64).select(
            F.col("id").cast("string").alias("key"),
            F.to_json(F.struct(F.col("id"))).alias("value"),
            F.lit(self.config.mappings[0].topic if self.config.mappings
                  else "warmup").alias("topic"),
            (F.col("id") % 4).cast("long").alias("partition"),
            F.col("id").cast("long").alias("offset"),
        )
        # wildcard mappings replace '*' with a literal topic name
        tiny = tiny.withColumn(
            "topic",
            F.when(F.col("topic") == "*", F.lit("warmup")).otherwise(
                F.col("topic")
            ),
        )
        saved = self.backend
        saved_executor_side = self._executor_side_ingest
        try:
            self.backend = _WarmupNullBackend()
            # Executor-side ingest ships self._backend_factory to the
            # workers and never consults self.backend — so the warmup
            # MUST force the driver-side path, or the 64 synthetic
            # records would land in the REAL destination table.
            self._executor_side_ingest = False
            self.process_batch(tiny, epoch_id=-1)
        finally:
            self.backend = saved
            self._executor_side_ingest = saved_executor_side
            self.metrics.reset()

    @staticmethod
    def close(query, timeout_s: float = 60.0) -> None:
        """R6 — graceful close: stop triggering first (no new ingestion),
        then wait for the in-flight batch to finish
        (KustoSinkTask.java:413-433,473-494)."""
        query.stop()
        query.awaitTermination(timeout_s)
