"""End-to-end pipeline: read -> coalesce -> parse -> enrich -> route ->
aggregate -> multi-sink write.

This is the Spark re-expression of the reference's three entry points
(SURVEY.md §3): the per-stream iterator/parse/emit chain
(/root/reference/main.go:457-497), the terminal summary record
(main.go:577-591), and the batched sink (main.go:330-366).

Scale shape (designed for 10^12 turns / 1000 executors, verified on
local[N]):
- ONE shuffle on conv_id (the multiline window + every per-conversation agg
  reuse it); `repartition(P, conv_id)` makes it explicit so AQE/skew-join
  can split hot conversations.
- parse stage is Arrow-batched pandas UDF, everything before/after is
  whole-stage-codegen JVM.
- both lookups are literal-map expressions (no join operator).
- the plan executes once, to write the logs sink; the other sinks read
  the staged logs table back (operators/sinks.write_routed_sinks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.config import PipelineConfig
from otel_logger_spark.functions.parse import with_parsed
from otel_logger_spark.operators.enrich import enrich_severity, enrich_tool
from otel_logger_spark.operators.multiline import coalesce_entries
from otel_logger_spark.operators.rollups import summary_rows
from otel_logger_spark.operators.route import with_routing
from otel_logger_spark.operators.sinks import write_routed_sinks


def parse_enrich_route(
    entries: DataFrame, config: PipelineConfig | None = None
) -> DataFrame:
    """parse -> enrich -> route over log entries (coalesced, or one turn
    each). The one chain the batch pipeline, the streaming pipeline and the
    query gates share; ``config`` supplies the parse field mappings and
    prefix regex. attrs are stored in the pipeline's adopted format
    (PipelineConfig.attrs_format, BENCH/AB_attrs_format.md)."""
    cfg = config or PipelineConfig()
    df = with_parsed(
        entries,
        json_prefix=cfg.json_prefix,
        ts_fields=cfg.timestamp_fields,
        level_fields=cfg.level_fields,
        msg_fields=cfg.message_fields,
        attrs_format=PipelineConfig.attrs_format,
    )
    return with_routing(enrich_tool(enrich_severity(df)))


def build_parsed(
    transcripts: DataFrame,
    coalesce_multiline: bool = True,
    repartition: int | None = None,
    json_prefix: str | None = None,
    config: PipelineConfig | None = None,
) -> DataFrame:
    """The transformation plan up to the routed frame (no actions).

    ``config`` (config.PipelineConfig) carries the reference CLI surface
    (field mappings, prefix/continuation regexes) and takes precedence
    when given; the convenience kwargs apply only with config=None."""
    cfg = config or PipelineConfig(
        coalesce_multiline=coalesce_multiline,
        json_prefix=json_prefix,
        repartition=repartition,
    )
    df = transcripts
    if cfg.repartition:
        # explicit conv_id hash partitioning (north_rule); reused by the
        # multiline window AND the metrics groupBy — one shuffle total.
        df = df.repartition(cfg.repartition, "conv_id")
    if cfg.coalesce_multiline:
        df = coalesce_entries(df, cont_pattern=cfg.continuation_pattern)
    else:
        df = df.filter(F.length("text") > 0)
    return parse_enrich_route(df, cfg)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    run_id: str = "run-0",
    config=None,
) -> dict:
    """Execute the full pipeline and commit all sinks; returns the lineage
    manifest (per-sink row counts — the correctness gate's numbers).
    ``config`` (config.PipelineConfig) carries the reference CLI surface,
    including --timeout -> per-sink export deadline (A3)."""
    from otel_logger_spark.io import read_table

    transcripts = read_table(spark, input_path)
    return write_routed_sinks(
        build_parsed(transcripts, config=config),
        None,
        out_dir,
        run_id=run_id,
        passthrough_raw=bool(config and config.passthrough_raw_sink),
        export_timeout_ms=config.export_timeout_ms if config else None,
    )


def logs_with_summaries(routed: DataFrame) -> DataFrame:
    """The full log stream plus per-conversation terminal rows — the
    union-at-exit semantics of executeCommand (main.go:577-591)."""
    base = routed.select(
        "conv_id", "turn_idx", "role", "raw", "message", "level", "severity_num", "event_ts"
    )
    return base.unionByName(summary_rows(routed).drop("exit_code"), allowMissingColumns=True)
