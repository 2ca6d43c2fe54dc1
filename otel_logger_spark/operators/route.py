"""Routing stage: compute sink predicates once, fan out filtered writes.

The reference emits every record into one OTLP sink (main.go:308,330-345);
the graft fans out to routed sinks (north_star): ``error`` (severity >= 17),
``tool_call`` (tool present), ``conversation_metrics`` (per-conv aggregate),
and ``logs`` (everything — the reference's single stream, preserving the
zero-rows-dropped invariant, main.go:184-190/463-471).

Routing is computed as boolean columns + a ``sinks`` array in ONE pass.
The sink predicates below are the ones operators/sinks.routed_sinks
filters with; the batch pipeline applies them to a re-read of the staged
logs sink, so the (expensive) parse stage runs exactly once regardless of
sink count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_logger_spark.schemas import SINK_ERROR, SINK_LOGS, SINK_TOOL_CALL

ERROR_SEVERITY_THRESHOLD = 17  # SeverityError1 (main.go:321-322)


def is_error_col() -> Column:
    """The ``error`` sink predicate over the enriched columns."""
    return F.col("severity_num") >= ERROR_SEVERITY_THRESHOLD


def is_tool_call_col() -> Column:
    """The ``tool_call`` sink predicate: a tool is present."""
    return F.col("tool").isNotNull()


def with_routing(df: DataFrame) -> DataFrame:
    """Adds is_error / is_tool_call / sinks (array of sink names; every row
    carries at least ``logs``)."""
    is_error = is_error_col()
    is_tool = is_tool_call_col()
    sinks = F.array_compact(
        F.array(
            F.lit(SINK_LOGS),
            F.when(is_error, F.lit(SINK_ERROR)),
            F.when(is_tool, F.lit(SINK_TOOL_CALL)),
        )
    )
    return (
        df.withColumn("is_error", is_error)
        .withColumn("is_tool_call", is_tool)
        .withColumn("sinks", sinks)
    )


def sink_counts(df: DataFrame) -> DataFrame:
    """Per-sink aggregate counts (the correctness gate's count-equality
    check; mirrors forwarder batching accounting, main.go:354-358)."""
    return (
        df.select(F.explode("sinks").alias("sink"))
        .groupBy("sink")
        .agg(F.count("*").alias("n"))
    )
