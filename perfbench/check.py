"""Correctness checks, run after each timed run, outside the timed region.

Sink runs: every live record (not a tombstone, not empty) lands exactly
once, in its expected table or in the file DLQ of a failing table; each
staged file holds one (topic, partition)'s records from its named start
offset and stays within ``flush_size_bytes`` plus one record; the six
``SinkMetrics`` counters equal what the emulator, the backend and the
DLQ hold.

Registry runs: each query's rows equal its DuckDB oracle's, compared
with ``tools/oracle_check.compare``.
"""

from __future__ import annotations

import base64
import glob
import importlib.util
import json
import os
import re

_NAME_RE = re.compile(r"^kafka_(?P<topic>.+)_(?P<partition>\d+)_(?P<offset>\d+)\.")


def record_id(line: str, csv_id_field: int | None) -> str:
    """The ``id`` of a table row: a JSON object whose first key is
    ``id``, or a CSV line with the id at ``csv_id_field``."""
    if csv_id_field is not None:
        return line.split(",")[csv_id_field]
    if line.startswith('{"id":"'):
        return line[7:line.index('"', 7)]
    return json.loads(line)["id"]


def table_rows_by_source(kusto_root: str) -> dict[str, list[str]]:
    """Rows of every ingested part file, keyed by the ingest source id."""
    out = {}
    for path in glob.glob(os.path.join(kusto_root, "*", "*", "part-*")):
        source_id = os.path.basename(path)[len("part-"):].split(".", 1)[0]
        with open(path, encoding="utf-8") as f:
            out[source_id] = [line for line in f.read().splitlines() if line]
    return out


def dlq_ids(staging_dir: str, csv_id_field_by_topic: dict) -> list[str]:
    ids = []
    for path in glob.glob(os.path.join(staging_dir, "_dlq", "*.jsonl")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                value = base64.b64decode(rec["value"]).decode("utf-8")
                key = base64.b64decode(rec["key"]).decode("utf-8")
                topic = key.split("topic=", 1)[1].split(",", 1)[0]
                ids.append(record_id(value, csv_id_field_by_topic.get(topic)))
    return ids


def check_sink_run(
    *,
    expected: dict[str, str],
    table_for_topic,
    failing_tables: set,
    csv_id_field_by_table: dict,
    kusto_root: str,
    staging_dir: str,
    ingest_log: list[dict],
    calls,
    counters: dict,
    flush_size_bytes: int,
) -> tuple[int, list[str]]:
    """Return (records not found exactly once where they belong, every
    problem found); the run is correct when the list is empty.

    ``expected`` maps every live record id to its topic;
    ``table_for_topic(topic)`` gives the table it should land in."""
    errors: list[str] = []
    rows_by_source = table_rows_by_source(kusto_root)
    log_by_source = {e["source_id"]: e for e in ingest_log}
    seen: dict[str, int] = {}
    where: dict[str, str] = {}
    for source_id, rows in rows_by_source.items():
        entry = log_by_source.get(source_id)
        if entry is None:
            errors.append(f"part file {source_id} has no ingest-log entry")
            continue
        table = entry["table"]
        m = _NAME_RE.match(entry["file"])
        if m is None:
            errors.append(f"staged file {entry['file']} is not kafka_{{topic}}_{{partition}}_{{offset}}")
            continue
        csv_field = csv_id_field_by_table.get(table)
        ids = [record_id(r, csv_field) for r in rows]
        coords = [i.rsplit(":", 2) for i in ids]
        if any(c[0] != m["topic"] or c[1] != m["partition"] for c in coords):
            errors.append(f"{entry['file']} mixes records of other topic-partitions")
        if min(int(c[2]) for c in coords) != int(m["offset"]):
            errors.append(f"{entry['file']} is not named after its first offset")
        raw = sum(len(r.encode("utf-8")) + 1 for r in rows)
        longest = max(len(r.encode("utf-8")) + 1 for r in rows)
        if raw > flush_size_bytes + longest:
            errors.append(f"{entry['file']} holds {raw} B, over the flush size plus one record")
        for rid in ids:
            seen[rid] = seen.get(rid, 0) + 1
            where[rid] = table
    csv_by_topic = {
        topic: csv_id_field_by_table.get(table_for_topic(topic))
        for topic in set(expected.values())
    }
    dlq = dlq_ids(staging_dir, csv_by_topic)
    for rid in dlq:
        seen[rid] = seen.get(rid, 0) + 1
        where[rid] = "_dlq"
    wrong = 0
    for rid, topic in expected.items():
        table = table_for_topic(topic)
        want = "_dlq" if table in failing_tables else table
        if seen.get(rid, 0) != 1 or where.get(rid) != want:
            wrong += 1
    unexpected = sum(1 for rid in seen if rid not in expected)
    if wrong:
        errors.append(f"{wrong} of {len(expected)} records not found exactly once where expected")
    if unexpected:
        errors.append(f"{unexpected} landed records were never offered as live records")
    table_rows = sum(len(r) for r in rows_by_source.values())
    final_failures = {c.file for c in calls if not c.ok} - {c.file for c in calls if c.ok}
    want_counters = {
        "RecordsWritten": table_rows,
        "RecordsFailed": len(dlq),
        "IngestionAttempts": len(calls),
        "IngestionSuccesses": len(ingest_log),
        "IngestionFailures": len(final_failures),
        "DlqRecordsSent": len(dlq),
    }
    for name, value in want_counters.items():
        if counters.get(name) != value:
            errors.append(f"SinkMetrics {name}={counters.get(name)}, expected {value}")
    return wrong + unexpected, errors


def load_oracle_check(root: str):
    """Import ``tools/oracle_check.py`` of the checkout as a module."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module
