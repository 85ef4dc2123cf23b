"""The benchmark's workloads. Each takes a ``run.Run`` and returns a
``Result``; timed regions exclude input generation and checking."""

from __future__ import annotations

import datetime
import itertools
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import check
import gen
import trace
from backend import FaultyBackend
from layers import REGISTRY_QUERIES, registry_layers, sink_layers, traced_e2e

from kafka_sink_azure_kusto_spark.streaming import KustoSparkSink, LocalEmulatorBackend

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INGEST_URL = "https://ingest.example.kusto.windows.net"
QUERY_TIMEOUT_S = 90
TRIGGER_MS = 500


@dataclass
class Result:
    metrics: dict
    attempted: int
    failed: int
    errors: list = field(default_factory=list)
    summary: dict = field(default_factory=dict)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def e2e_metrics(setup_s, first_batch_s, throughput, p50, p99, rss_mb) -> dict:
    return {
        "setup_s": metric(setup_s, "s"),
        "first_batch_s": metric(first_batch_s, "s"),
        "throughput_per_s": metric(throughput, "1/s"),
        "latency_p50_ms": metric(p50, "ms"),
        "latency_p99_ms": metric(p99, "ms"),
        "peak_rss_mb": metric(rss_mb, "MB"),
    }


# ------------------------------------------------------------ sink runs
# The routed sink: four mappings on decoded struct values, 64 KB files,
# a seeded share of files failing once, and one table that rejects every
# file, so its records go to the file DLQ.
MAPPINGS = [  # (topic, table, format)
    ("clicks", "clicks", "json"),
    ("orders", "orders", "csv"),
    ("audit", "audit", "json"),
    ("*", "other", "json"),
]
FLUSH_SIZE_BYTES = 64 * 1024
TRANSIENT_SHARE = 0.10
FAILING_TABLES = ("audit",)
_TABLE_OF_TOPIC = {t: table for t, table, _ in MAPPINGS}
# The CSV encoder writes struct fields in alphabetical order.
CSV_ID_FIELDS = {
    table: sorted(gen.VALUE_FIELDS).index("id") for _, table, fmt in MAPPINGS if fmt == "csv"
}


def table_for_topic(topic: str) -> str:
    return _TABLE_OF_TOPIC.get(topic, _TABLE_OF_TOPIC["*"])


class SinkRun:
    """The sink's streaming query over an input directory, with its own
    checkpoint, staging directory, emulator and backend."""

    def __init__(self, run, in_dir: str, name: str, spans=None):
        import kafka_sink_azure_kusto_spark as pks
        from kafka_sink_azure_kusto_spark.sources.replay import replay_stream

        self.dir = run.path(name, "")
        self.staging = os.path.join(self.dir, "staging")
        self.kusto = os.path.join(self.dir, "kusto")
        cfg = pks.KustoSinkConfig(
            ingest_url=INGEST_URL,
            mappings=[
                pks.TopicToTableMapping(topic=t, db="db", table=table, format=fmt)
                for t, table, fmt in MAPPINGS
            ],
            flush_size_bytes=FLUSH_SIZE_BYTES,
            retry_backoff_time_ms=20,
            retry_max_time_ms=100,
            behavior_on_error="log",
            staging_dir=self.staging,
            checkpoint_location=os.path.join(self.dir, "checkpoint"),
            trigger_interval_ms=TRIGGER_MS,
        )
        self.emulator = LocalEmulatorBackend(self.kusto)
        self.backend = FaultyBackend(self.emulator, run.seed, TRANSIENT_SHARE, FAILING_TABLES)
        self.sink = KustoSparkSink(cfg, self.backend)
        if spans is not None:
            trace.trace_sink(self.sink, spans)
        self.stream = decode_structs(replay_stream(run.spark, in_dir))
        self.query = None
        self.batches_done = 0

    def attach(self) -> "SinkRun":
        self.query = self.sink.attach(self.stream)
        return self

    def close(self) -> None:
        KustoSparkSink.close(self.query, QUERY_TIMEOUT_S)

    def progress(self) -> list[dict]:
        return [dict(p) if not isinstance(p, dict) else p for p in self.query.recentProgress]

    def check(self, expected: dict) -> tuple[int, list[str]]:
        return check.check_sink_run(
            expected=expected,
            table_for_topic=table_for_topic,
            failing_tables=set(FAILING_TABLES),
            csv_id_field_by_table=CSV_ID_FIELDS,
            kusto_root=self.kusto,
            staging_dir=self.staging,
            ingest_log=self.emulator.ingest_log(),
            calls=list(self.backend.calls),
            counters=self.sink.metrics.snapshot(),
            flush_size_bytes=FLUSH_SIZE_BYTES,
        )


def decode_structs(stream):
    """Decode the JSON-string values into structs before the sink."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from kafka_sink_azure_kusto_spark.functions.encoders import decode_payload

    types = {"created_ms": LongType(), "user": LongType(), "amount": DoubleType()}
    schema = StructType(
        [StructField(n, types.get(n, StringType())) for n in gen.VALUE_FIELDS]
    )
    return (
        decode_payload(stream, "json", schema)
        .withColumn("value", F.col("payload"))
        .drop("payload")
    )


def first_batch_s(progress: list[dict]) -> float:
    durations = trace.progress_durations(progress, "triggerExecution")
    return durations[0] / 1000.0 if durations else 0.0


# ---------------------------------------------------------------- drain
# One running query: a closed-loop warm-up whose first batch is the cold
# one, then a window of ``--seconds`` in which chunks are released to
# the sink, then a wait until every released chunk's batch has ended.
DRAIN_CHUNK_RECORDS = 40_000
DRAIN_COLD_RECORDS = 2_000
DRAIN_WARM_CHUNKS = 2
DRAIN_POOL = 8
DRAIN_DEPTH = 1


def drain_routed_faults(run) -> Result:
    """Closed loop: the backlog is kept ``DRAIN_DEPTH`` chunks deep
    behind the running batch, so the sink never waits for input. A
    record's latency runs from the start of the batch that read it to
    the acknowledgement of its file, since time spent queued behind the
    running batch is set by the depth; throughput is the records the
    window batches landed over the sum of their trigger times."""
    in_dir = run.path("in", "")
    records = gen.RecordGenerator(run.seed)
    warm = [records.records(DRAIN_COLD_RECORDS, 0)]
    warm += [records.records(DRAIN_CHUNK_RECORDS, 0) for _ in range(DRAIN_WARM_CHUNKS - 1)]
    expected = records.take_ids()
    pool = []
    for _ in range(DRAIN_POOL):
        pool.append((records.records(DRAIN_CHUNK_RECORDS, 0), records.take_ids()))
    spans = trace.Spans() if run.trace else None
    rss = trace.TreeRss().start()
    # Each set-up gets its own directory, so the query that stays starts
    # from an empty checkpoint.
    set_ups = itertools.count()
    sink_run, setup_s = run.set_up(
        lambda spark: SinkRun(run, in_dir, f"drain-{next(set_ups)}", spans).attach(),
        discard=SinkRun.close,
    )
    chunk_of, released = {}, {}
    try:
        cold_s = _warm_up(sink_run, in_dir, warm)
        window_end = time.time() + run.seconds
        while time.time() < window_end and len(released) < DRAIN_POOL:
            if len(released) - (_batches(sink_run) - DRAIN_WARM_CHUNKS) <= DRAIN_DEPTH:
                i = len(released)
                lines, ids = pool[i]
                gen.write_chunk(in_dir, DRAIN_WARM_CHUNKS + i, lines)
                released[i] = time.time()
                chunk_of.update(dict.fromkeys(ids, i))
                expected.update(ids)
            time.sleep(0.05)
        _wait_for(lambda: _batches(sink_run) >= DRAIN_WARM_CHUNKS + len(released), sink_run)
    finally:
        sink_run.close()
    peak_mb = rss.stop()
    landing = {
        i: sum(1 for rid, c in chunk_of.items()
               if c == i and table_for_topic(expected[rid]) not in FAILING_TABLES)
        for i in released
    }
    # Window chunk i is the whole of batch DRAIN_WARM_CHUNKS + i (one
    # file per trigger).
    progress = [p for p in sink_run.progress() if p.get("numInputRows", 0) > 0]
    batches = {p["batchId"] - DRAIN_WARM_CHUNKS: p for p in progress}
    throughput = sum(landing.values()) / sum(
        batches[i]["durationMs"]["triggerExecution"] / 1000.0 for i in released
    )
    origin = {i: _trigger_start(batches[i]) for i in released}
    latencies = [
        (ack - origin[chunk_of[rid]]) * 1000.0
        for ack, rid in _record_acks(sink_run) if rid in chunk_of  # not a warm-up record
    ]
    failed, errors = sink_run.check(expected)
    attempted = len(expected)
    failed = min(failed, attempted)
    p50, p99 = trace.percentile(latencies, 0.5), trace.percentile(latencies, 0.99)
    summary = {
        "jvm_start_s": round(run.jvm_start_s, 3),
        "chunk_records": DRAIN_CHUNK_RECORDS,
        "window_chunks": len(released),
        "pool_exhausted": len(released) == DRAIN_POOL,
        "first_batch_s": cold_s,
        "records_per_s": throughput,
        "e2e_latency_p50_ms": p50,
        "e2e_latency_p99_ms": p99,
        "latency_samples": len(latencies),
        "batch_ms": trace.progress_durations(progress, "triggerExecution"),
        "rss_at_peak_mb": rss.parts_mb(),
        "error_rate": failed / attempted,
    }
    if run.trace:
        metrics = sink_layers(
            run, spans, sink_run, progress[DRAIN_WARM_CHUNKS:], since=min(released.values()),
            offered=[(released[i], landing[i]) for i in released],
            extra=traced_e2e(setup_s, cold_s, throughput, p50, p99, peak_mb),
        )
    else:
        metrics = e2e_metrics(setup_s, cold_s, throughput, p50, p99, peak_mb)
    return Result(metrics, attempted, failed, errors, summary)


def _warm_up(sink_run: "SinkRun", in_dir: str, chunks: list) -> float:
    """Write one chunk at a time, each after the previous batch ended;
    returns the seconds of the first (cold) batch."""
    for i, lines in enumerate(chunks):
        gen.write_chunk(in_dir, i, lines)
        _wait_for(lambda: _batches(sink_run) > i, sink_run)
    return first_batch_s(sink_run.progress())


def _trigger_start(progress: dict) -> float:
    """Start of a micro-batch's trigger, in epoch seconds."""
    ts = datetime.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp()


def _record_acks(sink_run: "SinkRun") -> list[tuple[float, str]]:
    """(acknowledgement time, record id) of every record in a table."""
    rows = check.table_rows_by_source(sink_run.kusto)
    table = {e["source_id"]: e["table"] for e in sink_run.emulator.ingest_log()}
    out = []
    for c in list(sink_run.backend.calls):
        if c.ok:
            field_pos = CSV_ID_FIELDS.get(table.get(c.source_id))
            out += [(c.end, check.record_id(r, field_pos)) for r in rows.get(c.source_id, ())]
    return out


def _batches(sink_run: "SinkRun") -> int:
    """Micro-batches that read rows and finished. Reads only the last
    progress event: converting the whole history on every poll costs the
    driver more than the poll is worth. Every batch of the file source
    reads a new chunk, so batch ids count the finished batches."""
    p = sink_run.query.lastProgress
    if p is not None and p["numInputRows"] > 0:
        sink_run.batches_done = max(sink_run.batches_done, p["batchId"] + 1)
    return sink_run.batches_done


def _wait_for(condition, sink_run: "SinkRun", timeout_s: float = QUERY_TIMEOUT_S) -> None:
    """Poll ``condition`` until true; raise if the query died or the
    wait timed out."""
    deadline = time.time() + timeout_s
    while not condition():
        if sink_run.query.exception() is not None:
            raise RuntimeError(f"query failed: {sink_run.query.exception()}")
        if time.time() > deadline:
            raise TimeoutError("sink did not acknowledge the records in time")
        time.sleep(0.05)


# ------------------------------------------------------------- registry
REGISTRY_SCALE = 1.0
REGISTRY_MIN_PASSES = 4
# The tables are the same on every run, so that runs differ only in the
# query order the seed sets: random tables move the similarity queries'
# work (bucket and candidate sizes) from seed to seed.
REGISTRY_TABLES_SEED = 0


def registry_hotset(run) -> Result:
    from registry_data import write_tables

    from kafka_sink_azure_kusto_spark.plans import registry
    from kafka_sink_azure_kusto_spark.sources.tables import load_table

    data_dir = run.path("tables", "")
    tables = write_tables(data_dir, REGISTRY_TABLES_SEED, REGISTRY_SCALE)
    order = list(REGISTRY_QUERIES)
    random.Random(run.seed).shuffle(order)
    spans = trace.Spans() if run.trace else None
    rss = trace.TreeRss().start()

    def prepare(spark):
        """The registry made ready: its query table built and every
        input table opened through the program's table loader."""
        registry.clear_gate_memos()
        for table in tables:
            load_table(spark, data_dir, table).schema
        return registry.queries()

    queries, setup_s = run.set_up(prepare)

    def run_pass(cold: bool = False) -> float:
        """Each hot-set query once, in the seeded order. The cold pass
        collects every query's rows for the oracle check; warm passes
        write through the noop writer."""
        t_pass = time.time()
        for name in order:
            registry.clear_gate_memos()
            t0 = time.time()
            df = queries[name](run.spark, data_dir)
            if cold:
                results[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t1 = time.time()
            if not cold:
                walls[name].append(t1 - t0)
            if spans is not None:
                spans.items.append(("query", t0, t1, {"name": name, "cold": cold}))
        return time.time() - t_pass

    results: dict[str, object] = {}
    walls: dict[str, list[float]] = {n: [] for n in order}
    cold_s = run_pass(cold=True)
    pass_walls = []
    window_end = time.time() + run.seconds
    while len(pass_walls) < REGISTRY_MIN_PASSES or time.time() < window_end:
        pass_walls.append(run_pass())
    peak_mb = rss.stop()
    registry_wall_s = statistics.median(pass_walls)
    # Query latency: the median and the slowest query of each pass, each
    # as a median over passes. A pass has six queries, too few for a
    # p99, so latency_p99_ms is in effect the slowest query's wall.
    per_pass = [[walls[n][i] for n in order] for i in range(len(pass_walls))]
    p50 = statistics.median(statistics.median(q) for q in per_pass) * 1000.0
    p99 = statistics.median(max(q) for q in per_pass) * 1000.0

    oracle_check = check.load_oracle_check(ROOT)
    oracles = registry.oracle_sql()
    con = oracle_check.duck_con(data_dir)
    errors = []
    try:
        for name in order:
            want = con.execute(oracles[name]).df()
            errors += [f"{name}: {e}" for e in oracle_check.compare(name, results[name], want)]
    finally:
        con.close()
    failed = len({e.split(":", 1)[0] for e in errors})
    summary = {
        "jvm_start_s": round(run.jvm_start_s, 3),
        "order": order,
        "passes": len(pass_walls),
        "registry_wall_s": registry_wall_s,
        "query_wall_s": {n: statistics.median(walls[n]) for n in order},
        "cold_pass_s": cold_s,
        "rss_at_peak_mb": rss.parts_mb(),
        "error_rate": failed / len(order),
    }
    throughput = len(order) / registry_wall_s
    if run.trace:
        metrics = registry_layers(run, spans, extra=traced_e2e(
            setup_s, cold_s, throughput, p50, p99, peak_mb))
    else:
        metrics = e2e_metrics(setup_s, cold_s, throughput, p50, p99, peak_mb)
    return Result(metrics, len(order), failed, errors, summary)


WORKLOADS = {
    "drain_routed_faults": drain_routed_faults,
    "registry_hotset": registry_hotset,
}
