"""Plan-shape guard for the expression (codegen) decoders: the protobuf
and avro walks must plan with zero Python operators, split into
compilable whole-stage spans by exactly the expected no-op coalesces —
floor((steps - 1) / 3) inside the walk plus one before field assembly."""

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_sink_azure_kusto_spark.functions.avro_io import (
    attach_avro_codegen_decode,
)
from kafka_sink_azure_kusto_spark.functions.protobuf_io import (
    _NOOP_COALESCE,
    _STEPS_PER_SPAN,
    attach_codegen_decode,
)

PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")


def _assert_shape(df, steps):
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in PYTHON_NODES:
        assert node not in plan, (node, plan)
    splits = plan.count(f"Coalesce {_NOOP_COALESCE}")
    assert splits == (steps - 1) // _STEPS_PER_SPAN + 1, plan


def test_codegen_decoders_plan_without_python_in_bounded_spans(spark):
    df = spark.createDataFrame([(b"\x00",)], "value binary")

    fs = {1: ("d", "double"), 2: ("f", "float"), 3: ("s", "string")}
    pb_schema = StructType(
        [
            StructField("d", DoubleType()),
            StructField("f", FloatType()),
            StructField("s", StringType()),
        ]
    )
    # default walk: one step per field plus two slack steps
    _assert_shape(attach_codegen_decode(df, "value", fs, pb_schema), len(fs) + 2)

    types = {
        "l": ("long", LongType()),
        "i": ("int", LongType()),
        "b": ("boolean", BooleanType()),
        "s": ("string", StringType()),
        "y": ("bytes", BinaryType()),
        "d": ("double", DoubleType()),
        "f": ("float", FloatType()),
    }
    avro_schema = {
        "type": "record",
        "name": "T",
        "fields": [{"name": n, "type": t} for n, (t, _) in types.items()],
    }
    av_schema = StructType([StructField(n, dt) for n, (_, dt) in types.items()])
    # one walk step per avro field
    _assert_shape(
        attach_avro_codegen_decode(df, "value", avro_schema, av_schema), len(types)
    )
