"""Topic→(db, table, format, …) routing (SURVEY §2.2 F3).

Reference: per-record lookup with exact topic match first, then ``*``
wildcard fallback; an unmapped topic is a hard error
(KustoSinkTask.java:334-340 lookup, :145-184 map build, :400-402 error).

Spark-first design: the routing table is tiny (one row per configured
topic), so we express the lookup as a **broadcast left join** against a
routing DataFrame — Catalyst turns this into a BroadcastHashJoin, i.e.
a map-side lookup with no shuffle, which is exactly the reference's
in-memory Map<String, TopicIngestionProperties> at any scale.
The wildcard fallback becomes a ``coalesce`` with the broadcast-joined
wildcard row's values.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.config import TopicToTableMapping

_ROUTE_SCHEMA = StructType(
    [
        StructField("topic", StringType(), False),
        StructField("db", StringType(), False),
        StructField("table", StringType(), False),
        StructField("format", StringType(), False),
        StructField("mapping", StringType(), True),
        StructField("streaming", BooleanType(), False),
    ]
)


def routing_table_df(
    spark: SparkSession, mappings: Sequence[TopicToTableMapping]
) -> DataFrame:
    """Materialize the routing config as a (tiny) DataFrame."""
    rows = [
        (m.topic, m.db, m.table, m.ingest_format, m.mapping, m.streaming)
        for m in mappings
    ]
    return spark.createDataFrame(rows, _ROUTE_SCHEMA)


def with_route(
    df: DataFrame,
    mappings: Sequence[TopicToTableMapping],
    topic_col: str = "topic",
    on_unmapped: str = "error_column",
) -> DataFrame:
    """F3 — append ``route_db``, ``route_table``, ``route_format``,
    ``route_mapping``, ``route_streaming`` columns resolved from the
    mapping config.

    Exact topic match wins; otherwise the ``*`` wildcard; otherwise the
    route columns are null (callers decide whether null ⇒ error, matching
    the reference's NotFoundException, or null ⇒ DLQ).

    Implementation: the config is compiled into a single CASE expression
    (no join at all — zero shuffle, fully codegen'd, pushdown-friendly).
    For O(10³)+ mappings a broadcast join would win; config sizes in the
    reference are O(10), so CASE keeps the plan narrow.
    """
    exact = {m.topic: m for m in mappings if not m.is_wildcard}
    wildcard: Optional[TopicToTableMapping] = next(
        (m for m in mappings if m.is_wildcard), None
    )

    def resolve(attr):
        col = F.lit(None).cast("string")
        if wildcard is not None:
            v = attr(wildcard)
            col = F.lit(v)
        expr = col
        for topic, m in exact.items():
            expr = F.when(F.col(topic_col) == F.lit(topic), F.lit(attr(m))).otherwise(
                expr
            )
        return expr

    out = (
        df.withColumn("route_db", resolve(lambda m: m.db))
        .withColumn("route_table", resolve(lambda m: m.table))
        .withColumn("route_format", resolve(lambda m: m.ingest_format))
        .withColumn("route_mapping", resolve(lambda m: m.mapping))
        .withColumn(
            "route_streaming",
            resolve(lambda m: m.streaming).cast("boolean"),
        )
    )
    return out


def route_index(
    mappings: Sequence[TopicToTableMapping], topic_col: str = "topic"
) -> Column:
    """F3 as one CASE on the topic: the index in ``mappings`` of the
    record's route — exact topics first, then the ``*`` wildcard, else
    null (an unmapped topic with no wildcard routes nowhere)."""
    wildcard = next((i for i, m in enumerate(mappings) if m.is_wildcard), None)
    expr = None
    for i, m in enumerate(mappings):
        if not m.is_wildcard:
            hit = F.col(topic_col) == F.lit(m.topic)
            expr = F.when(hit, F.lit(i)) if expr is None else expr.when(hit, F.lit(i))
    fallback = F.lit(wildcard).cast("int")
    return fallback if expr is None else expr.otherwise(fallback)
