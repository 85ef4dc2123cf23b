"""Per-layer metrics of a traced run.

Every traced run reports every name in ``PER_LAYER``; a layer a
workload does not use reads 0. Per-batch figures are medians over the
measured batches. The ``traced.*`` figures are the traced run's own
end-to-end numbers: their distance from an untraced run's is the
tracing overhead.
"""

from __future__ import annotations

import statistics

import check
import trace

REGISTRY_QUERIES = (
    "file_assignment",
    "topic_routing",
    "ndjson_encode",
    "flagship_pack_all",
    "similarity_topk_bruteforce",
    "matryoshka_recall_audit",
)

PER_LAYER: dict[str, str] = {
    # Spark streaming engine and the replay source (progress events)
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "engine.query_planning_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.add_batch_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "engine.trigger_ms": "ms",
    "source.rows_per_batch": "count",
    "source.backlog_records": "count",
    # streaming.sink: the process_batch span and the event log
    "sink.batch_ms": "ms",
    "sink.add_batch_coverage": "ratio",
    "sink.jobs_per_batch": "count",
    "sink.stages_per_batch": "count",
    "sink.source_scans_per_batch": "count",
    "sink.staging_self_ms": "ms",
    "sink.files_per_batch": "count",
    "sink.records_per_file": "count",
    # staging-job stages from the event log
    "stage.map_cpu_ms": "ms",
    "stage.shuffle_write_bytes": "B",
    "stage.write_ms": "ms",
    "stage.task_skew": "ratio",
    "stage.gc_ms": "ms",
    "stage.bytes_raw": "B",
    "stage.bytes_gz": "B",
    # streaming.backends: the ingest_file spans
    "ingest.calls": "count",
    "ingest.busy_ms": "ms",
    "ingest.wall_ms": "ms",
    "ingest.parallelism": "ratio",
    "ingest.file_p50_ms": "ms",
    "ingest.useful_ratio": "ratio",
    # streaming.retry and streaming.dlq
    "retry.attempts": "count",
    "retry.backoff_wait_ms": "ms",
    "dlq.records": "count",
    "dlq.stage_ms": "ms",
}
for _q in REGISTRY_QUERIES:
    PER_LAYER.update({
        f"registry.{_q}.wall_s": "s",
        f"registry.{_q}.jobs": "count",
        f"registry.{_q}.job_overlap": "ratio",
        f"registry.{_q}.shuffle_bytes": "B",
    })
PER_LAYER.update({
    "traced.setup_s": "s",
    "traced.first_batch_s": "s",
    "traced.throughput_per_s": "1/s",
    "traced.latency_p50_ms": "ms",
    "traced.latency_p99_ms": "ms",
    "traced.peak_rss_mb": "MB",
})


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _metrics(values: dict) -> dict:
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in PER_LAYER.items()
    }


def traced_e2e(setup_s, first_batch_s, throughput, p50_ms, p99_ms, peak_mb) -> dict:
    return {
        "traced.setup_s": setup_s,
        "traced.first_batch_s": first_batch_s,
        "traced.throughput_per_s": throughput,
        "traced.latency_p50_ms": p50_ms,
        "traced.latency_p99_ms": p99_ms,
        "traced.peak_rss_mb": peak_mb,
    }


def _event_log(run) -> dict:
    """Stop the session (which flushes its event log) and summarize it."""
    run.stop()
    return trace.summarize_event_log(trace.read_event_log(run.path("eventlog", "")))


def _backlog_samples(offered, acked) -> list[float]:
    """Offered minus acknowledged records, sampled each second from the
    first offer to the last acknowledgement. Both are (time, records)."""
    if not offered or not acked:
        return []
    t, end = min(t for t, _ in offered), max(t for t, _ in acked)
    samples = []
    while t <= end:
        samples.append(
            sum(n for s, n in offered if s <= t) - sum(n for s, n in acked if s <= t)
        )
        t += 1.0
    return samples


def sink_layers(run, spans, sink_run, progress, since: float, offered, extra) -> dict:
    """Per-layer metrics of a sink run. Batches whose epoch span starts
    before ``since`` (the warm-up) are left out; ``offered`` is a list of
    (release time, records expected to land)."""
    log = _event_log(run)
    values = dict(trace.engine_metrics(progress))
    calls = [c for c in sink_run.backend.calls if c.start >= since]
    rows = check.table_rows_by_source(sink_run.kusto)
    records_by_source = {e["source_id"]: e["records"] for e in sink_run.emulator.ingest_log()}
    acks = [(c.end, records_by_source.get(c.source_id, 0)) for c in calls if c.ok]
    values["source.backlog_records"] = _median(_backlog_samples(offered, acks))
    dlq_spans = spans.named("dlq")
    per_batch: dict[str, list[float]] = {}

    def add(name, value):
        per_batch.setdefault(name, []).append(value)

    epochs, dlq_total = [], 0
    for s, e, attrs in sorted(spans.named("epoch"), key=lambda ep: ep[0]):
        dlq_before, dlq_total = dlq_total, attrs.get("dlq_total", dlq_total)
        if s < since:
            continue
        epochs.append((s, e))
        b_calls = [c for c in calls if s <= c.start <= e]
        ingest_wall = trace.union_ms((c.start, c.end) for c in b_calls)
        busy = sum((c.end - c.start) * 1000.0 for c in b_calls)
        dlq_ms = sum((de - ds) * 1000.0 for ds, de, _ in dlq_spans if s <= ds <= e)
        batch_ms = (e - s) * 1000.0
        files = {c.file for c in b_calls}
        ok = [c for c in b_calls if c.ok]
        staged_records = sum(records_by_source.get(c.source_id, 0) for c in ok)
        add("sink.batch_ms", batch_ms)
        add("sink.staging_self_ms", batch_ms - ingest_wall - dlq_ms)
        add("sink.files_per_batch", len(files))
        add("sink.records_per_file", staged_records / len(ok) if ok else 0.0)
        add("ingest.calls", len(b_calls))
        add("ingest.busy_ms", busy)
        add("ingest.wall_ms", ingest_wall)
        add("ingest.parallelism", busy / ingest_wall if ingest_wall else 0.0)
        add("retry.attempts", len(b_calls) - len(files))
        add("retry.backoff_wait_ms", _backoff_wait_ms(b_calls))
        add("dlq.stage_ms", dlq_ms)
        add("dlq.records", dlq_total - dlq_before)
        add("stage.bytes_raw", sum(
            len(r.encode("utf-8")) + 1 for c in ok for r in rows.get(c.source_id, ())
        ))
        add("stage.bytes_gz", sum(c.gz_bytes for c in ok))
        jobs = trace.jobs_in(log, s, e)
        stages = [
            log["stages"][sid] for j in jobs for sid in j["stages"]
            if sid in log["stages"] and log["stages"][sid]["completed"]
        ]
        layer = [trace.stage_layer(st, dlq_spans) for st in stages]
        staging = [(ly, st) for ly, st in zip(layer, stages) if ly in ("staging_map", "stage_write")]
        add("sink.jobs_per_batch", len(jobs))
        add("sink.stages_per_batch", len(stages))
        add("sink.source_scans_per_batch", sum(st["scans"] for st in stages))
        add("stage.map_cpu_ms", sum(st["cpu_ms"] for ly, st in staging if ly == "staging_map"))
        add("stage.shuffle_write_bytes", sum(st["shuffle_write"] for _, st in staging))
        add("stage.write_ms", sum(sum(st["run_ms"]) for ly, st in staging if ly == "stage_write"))
        add("stage.task_skew", max((trace.task_skew(st["run_ms"]) for _, st in staging), default=1.0))
        add("stage.gc_ms", sum(st["gc_ms"] for st in stages))
    for name, vals in per_batch.items():
        values[name] = _median(vals)
    add_batch = sum(trace.progress_durations(progress, "addBatch"))
    epoch_total = sum((e - s) * 1000.0 for s, e in epochs)
    values["sink.add_batch_coverage"] = epoch_total / add_batch if add_batch else 0.0
    attempts = len(calls)
    values["ingest.file_p50_ms"] = _median((c.end - c.start) * 1000.0 for c in calls)
    values["ingest.useful_ratio"] = sum(1 for c in calls if c.ok) / attempts if attempts else 0.0
    values.update(extra)
    return _metrics(values)


def _backoff_wait_ms(calls) -> float:
    """Time between a failed attempt's end and the same file's next
    attempt, summed over files."""
    by_file: dict[str, list] = {}
    for c in calls:
        by_file.setdefault(c.file, []).append(c)
    wait = 0.0
    for attempts in by_file.values():
        attempts.sort(key=lambda c: c.start)
        for prev, nxt in zip(attempts, attempts[1:]):
            if not prev.ok:
                wait += (nxt.start - prev.end) * 1000.0
    return wait


def registry_layers(run, spans, extra) -> dict:
    """Per-query walls, jobs, job overlap and shuffle bytes."""
    log = _event_log(run)
    values = {}
    for name in REGISTRY_QUERIES:
        runs = [(s, e) for s, e, a in spans.named("query") if a["name"] == name and not a.get("cold")]
        walls, jobs, overlap, shuffle = [], [], [], []
        for s, e in runs:
            q_jobs = trace.jobs_in(log, s, e)
            busy_ms = sum((j["end_ms"] or j["submit_ms"]) - j["submit_ms"] for j in q_jobs)
            walls.append(e - s)
            jobs.append(len(q_jobs))
            overlap.append(busy_ms / ((e - s) * 1000.0))
            shuffle.append(sum(
                log["stages"][sid]["shuffle_write"]
                for j in q_jobs for sid in j["stages"] if sid in log["stages"]
            ))
        values[f"registry.{name}.wall_s"] = _median(walls)
        values[f"registry.{name}.jobs"] = _median(jobs)
        values[f"registry.{name}.job_overlap"] = _median(overlap)
        values[f"registry.{name}.shuffle_bytes"] = _median(shuffle)
    values.update(extra)
    return _metrics(values)
