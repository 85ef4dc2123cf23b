"""The routed staging pass: every mapping of a micro-batch is encoded,
assigned to rolled files and staged in one job by the per-partition
Arrow writer, then ingested in one pool and settled on one path."""

import json
import os

import pytest

from kafka_sink_azure_kusto_spark.config import (
    BehaviorOnError,
    KustoSinkConfig,
    TopicToTableMapping,
)
from kafka_sink_azure_kusto_spark.streaming.backends import (
    LocalEmulatorBackend,
    PermanentIngestError,
)
from kafka_sink_azure_kusto_spark.streaming.sink import KustoSparkSink


def _cfg(tmp_path, mappings, name="staging", **kw):
    return KustoSinkConfig(
        ingest_url="https://ingest.example.kusto.windows.net",
        mappings=mappings,
        staging_dir=str(tmp_path / name),
        **kw,
    )


def _string_records(spark, topics, n=40, partitions=2):
    rows = [
        (f"k{i}", json.dumps({"i": i, "pad": "x" * (i % 7)}), topics[i % len(topics)],
         i % partitions, i)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )


def test_dlq_rescan_filter_sits_below_window(spark, tmp_path):
    src = str(tmp_path / "src")
    _string_records(spark, ["a", "b"]).write.parquet(src)
    df = spark.read.parquet(src)
    cfg = _cfg(
        tmp_path,
        [
            TopicToTableMapping(topic="a", db="db", table="ta"),
            TopicToTableMapping(topic="*", db="db", table="tw"),
        ],
        flush_size_bytes=100,
        behavior_on_error=BehaviorOnError.LOG,
    )

    class FailA(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            if props.table == "ta":
                raise PermanentIngestError("ta rejects")
            return super().ingest_file(path, props)

    dlq: list[dict] = []
    sink = KustoSparkSink(cfg, FailA(str(tmp_path / "kusto")), dlq_writer=dlq.extend)
    seen = []
    send = sink._send_to_dlq
    sink._send_to_dlq = lambda d, failed, routes: (seen.append((d, failed)), send(d, failed, routes))
    sink.process_batch(df, epoch_id=0)
    assert len(dlq) == 20  # every record of topic a, once
    d, failed = seen[0]
    plan = str(KustoSparkSink._failed_records(d, failed)._jdf.queryExecution().optimizedPlan())
    lines = plan.splitlines()
    windows = [i for i, line in enumerate(lines) if "Window [" in line]
    filters = [i for i, line in enumerate(lines) if "Filter " in line and "concat_ws" in line]
    assert windows and filters, plan
    below = [i for i in filters if i > max(windows)]
    above = [i for i in filters if i < min(windows)]
    # the (topic, partition) predicate runs below both windows, under the scan's
    # other filters; only the file predicate (it needs file_offset) stays above
    assert below and "file_offset" not in lines[below[0]], plan
    assert above and "file_offset" in lines[above[0]], plan


def test_jobs_per_batch_do_not_grow_with_mappings(spark, tmp_path):
    df = _string_records(spark, ["t0", "t1", "t2", "other"])
    sc = spark.sparkContext
    jobs = {}
    for n_maps in (1, 2, 4):
        maps = [
            TopicToTableMapping(topic=f"t{i}", db="db", table=f"t{i}", format=fmt)
            for i, fmt in enumerate(["json", "csv", "json"][: n_maps - 1])
        ] + [TopicToTableMapping(topic="*", db="db", table="w")]
        backend = LocalEmulatorBackend(str(tmp_path / f"k{n_maps}"))
        sink = KustoSparkSink(_cfg(tmp_path, maps, name=f"st{n_maps}"), backend)
        group = f"routed-staging-jobs-{n_maps}"
        sc.setJobGroup(group, "jobs of one batch")
        try:
            sink.process_batch(df, epoch_id=0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sink.metrics.snapshot()["RecordsWritten"] == 40
        jobs[n_maps] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] == jobs[2] == jobs[4], jobs


def _struct_records(spark):
    rows = [
        ((i, f"s{i}" if i % 5 else None, i * 0.5), ["tj", "tc", "ta", "tp"][i % 4], i % 2, i)
        for i in range(80)
    ]
    return spark.createDataFrame(
        rows,
        "value struct<id:long, s:string, d:double>, topic string, partition long, offset long",
    )


def _table_contents(backend, table):
    from kafka_sink_azure_kusto_spark.functions.avro_io import read_container

    files = {}
    for e in backend.ingest_log():
        if e["table"] == table:
            files[e["file"]] = e["records"]
    rows = []
    for path in sorted(backend.table_files("db", table)):
        if path.endswith(".parquet"):
            import pyarrow.parquet as pq

            rows += pq.read_table(path).to_pylist()
        elif path.endswith((".avro", ".apacheavro")):
            with open(path, "rb") as f:
                rows += read_container(f.read())[1]
        else:
            with open(path, encoding="utf-8") as f:
                rows += f.read().splitlines()
    return files, sorted(rows, key=str)


def test_one_pass_stages_like_single_mapping_sinks(spark, tmp_path):
    df = _struct_records(spark)
    maps = [
        TopicToTableMapping(topic="tj", db="db", table="json_t", format="json"),
        TopicToTableMapping(topic="tc", db="db", table="csv_t", format="csv"),
        TopicToTableMapping(topic="ta", db="db", table="avro_t", format="avro"),
        TopicToTableMapping(topic="tp", db="db", table="parquet_t", format="parquet"),
    ]
    together = LocalEmulatorBackend(str(tmp_path / "together"))
    KustoSparkSink(_cfg(tmp_path, maps, flush_size_bytes=100), together).process_batch(df, 0)
    for i, m in enumerate(maps):
        alone = LocalEmulatorBackend(str(tmp_path / f"alone{i}"))
        cfg = _cfg(tmp_path, [m], name=f"staging{i}", flush_size_bytes=100)
        KustoSparkSink(cfg, alone).process_batch(df, 0)
        files, rows = _table_contents(together, m.table)
        assert len(files) > 2  # several rolled files per mapping
        assert len(rows) == 20
        assert (files, rows) == _table_contents(alone, m.table), m.format


def test_binary_values_mix_avro_bytes_and_text_routes(spark, tmp_path):
    # Avro-bytes rolls one file per message; a text route on the same
    # binary column keeps its lines and its string-length flush bound.
    rows = [
        (bytes(f"avro-{i}", "ascii") if i % 2
         else json.dumps({"i": i, "s": "é" * 20}, ensure_ascii=False).encode(),
         "ab" if i % 2 else "tx", 0, i)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "value binary, topic string, partition long, offset long")
    maps = [
        TopicToTableMapping(topic="ab", db="db", table="bytes_t", format="avro"),
        TopicToTableMapping(topic="*", db="db", table="text_t", format="json"),
    ]

    def staged(backend, table):
        log = backend.ingest_log()
        files = sorted((e["file"], e["records"]) for e in log if e["table"] == table)
        blobs = []
        for path in sorted(backend.table_files("db", table)):
            with open(path, "rb") as f:
                blobs.append(f.read())
        return files, sorted(blobs)

    together = LocalEmulatorBackend(str(tmp_path / "together"))
    KustoSparkSink(_cfg(tmp_path, maps, flush_size_bytes=100), together).process_batch(df, 0)
    assert len(staged(together, "bytes_t")[0]) == 6  # one file per message
    assert sorted(json.loads(r)["i"] for r in together.table_rows("db", "text_t")) == list(
        range(0, 12, 2)
    )
    for i, m in enumerate(maps):
        alone = LocalEmulatorBackend(str(tmp_path / f"alone{i}"))
        cfg = _cfg(tmp_path, [m], name=f"staging{i}", flush_size_bytes=100)
        # alone, the wildcard would also take topic ab
        KustoSparkSink(cfg, alone).process_batch(df if i == 0 else df.filter("topic != 'ab'"), 0)
        assert staged(together, m.table) == staged(alone, m.table), m.format


def test_file_spanning_arrow_batches_stays_one_ordered_file(spark, tmp_path):
    # Offsets arrive shuffled and the writer sees 3-row Arrow batches, so
    # every rolled file spans several batches.
    order = [(i * 7) % 30 for i in range(30)]
    rows = [(f"k{o}", f"v{o:02d}-" + "y" * (12 + o % 5), "t", 0, o) for o in order]
    df = spark.createDataFrame(
        rows, "key string, value string, topic string, partition long, offset long"
    )

    class GzipHeaders(LocalEmulatorBackend):
        xfl: list = []

        def ingest_file(self, path, props):
            with open(path, "rb") as f:
                self.xfl.append(f.read(10)[8])
            return super().ingest_file(path, props)

    flush = 100
    backend = GzipHeaders(str(tmp_path / "kusto"))
    cfg = _cfg(
        tmp_path, [TopicToTableMapping(topic="t", db="db", table="t")], flush_size_bytes=flush
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        KustoSparkSink(cfg, backend).process_batch(df, epoch_id=0)
    finally:
        spark.conf.set(key, saved)
    log = sorted(backend.ingest_log(), key=lambda e: int(e["file"].split("_")[2].split(".")[0]))
    assert 1 < len(log) < 30
    assert sum(e["records"] for e in log) == 30
    offsets = []
    for path in backend.table_files("db", "t"):
        with open(path, encoding="utf-8") as f:
            lines = f.read().splitlines()
        own = [int(line[1:3]) for line in lines]
        assert own == sorted(own)  # one file, in offset order
        longest = max(len(line) + 1 for line in lines)
        assert sum(len(line) + 1 for line in lines) <= flush + longest
        offsets.append(own)
    assert sorted(o for own in offsets for o in own) == list(range(30))
    assert {e["file"] for e in log} == {f"kafka_t_0_{own[0]}.multijson.gz" for own in offsets}
    # gzip level 6 (the reference's Deflater default): XFL is 0, not 2 (level 9)
    assert set(GzipHeaders.xfl) == {0}


@pytest.mark.parametrize("failing", ["one", "two"])
def test_fail_mode_raises_commits_nothing_and_replays_once(spark, tmp_path, failing):
    from kafka_sink_azure_kusto_spark.sources.replay import replay_stream, stage_replay_dir

    df = _string_records(spark, ["t1", "t2"], n=30, partitions=2)
    stage_replay_dir(df, str(tmp_path / "replay"), chunks=1)
    chk = tmp_path / "chk"
    maps = [
        TopicToTableMapping(topic="t1", db="db", table="one"),
        TopicToTableMapping(topic="t2", db="db", table="two"),
    ]
    cfg = _cfg(
        tmp_path,
        maps,
        flush_size_bytes=100,
        behavior_on_error=BehaviorOnError.FAIL,
        checkpoint_location=str(chk),
    )
    root = str(tmp_path / "kusto")

    class TableDown(LocalEmulatorBackend):
        def ingest_file(self, path, props):
            if props.table == failing:
                raise PermanentIngestError(f"{failing} is down")
            return super().ingest_file(path, props)

    first = TableDown(root, dedupe_replays=True)
    q = KustoSparkSink(cfg, first).attach(
        replay_stream(spark, str(tmp_path / "replay")), query_name=f"fail_{failing}",
        available_now=True,
    )
    with pytest.raises(Exception, match="is down"):
        q.awaitTermination(120)
    q.stop()
    assert not os.path.exists(chk / "commits" / "0")  # no offsets committed
    healthy = "two" if failing == "one" else "one"
    # the healthy mapping's files were ingested before the failure was raised
    assert len(first.table_rows("db", healthy)) == 15

    replay = LocalEmulatorBackend(root, dedupe_replays=True)
    q = KustoSparkSink(cfg, replay).attach(
        replay_stream(spark, str(tmp_path / "replay")), query_name=f"replay_{failing}",
        available_now=True,
    )
    assert q.awaitTermination(120)
    q.stop()
    for table, topic in (("one", "t1"), ("two", "t2")):
        ids = sorted(json.loads(r)["i"] for r in replay.table_rows("db", table))
        assert ids == [i for i in range(30) if (i % 2 == 0) == (topic == "t1")], table


def test_unmapped_topic_without_wildcard_is_dropped(spark, tmp_path):
    df = _string_records(spark, ["a", "zzz"], n=10)
    backend = LocalEmulatorBackend(str(tmp_path / "kusto"))
    sink = KustoSparkSink(
        _cfg(tmp_path, [TopicToTableMapping(topic="a", db="db", table="ta")]), backend
    )
    sink.process_batch(df, epoch_id=0)
    assert len(backend.table_rows("db", "ta")) == 5
    assert sink.metrics.snapshot()["RecordsWritten"] == 5
