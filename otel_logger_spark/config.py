"""Pipeline configuration mirroring the reference CLI surface.

Maps every behavior-bearing flag of the reference (Config struct,
/root/reference/main.go:34-47; defaults proven by config_test.go:12-166)
onto engine parameters, so a user of the reference can express the same
run against this engine:

| reference flag            | here                          |
|---------------------------|-------------------------------|
| --json-prefix             | json_prefix                   |
| --timestamp-fields        | timestamp_fields              |
| --level-fields            | level_fields                  |
| --message-fields          | message_fields                |
| --continuation-pattern    | continuation_pattern          |
| --batch-size              | (*)                           |
| --flush-interval          | (*)                           |
| --timeout                 | per-sink export deadline      |
|                           | (<= 0 disables, as in OTel)   |
| --passthrough-stdout/err  | passthrough_raw_sink          |
| positional command        | (n/a: input table plays the   |
|                           |  wrapped process's streams)   |

(*) accepted and validated with the reference's syntax, so reference
command lines parse and malformed values raise, but not stored: the Arrow
batch size is a session setting (session.py) and streaming triggers are
set by run_streaming_pipeline's own arguments (max_files_per_trigger,
processing_time).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import ClassVar

from otel_logger_spark.functions.parse import (
    DEFAULT_LEVEL_FIELDS,
    DEFAULT_MESSAGE_FIELDS,
    DEFAULT_TIMESTAMP_FIELDS,
)
from otel_logger_spark.operators.multiline import DEFAULT_CONTINUATION_PATTERN

# Go time.Duration syntax (time.ParseDuration): optionally-signed sequence
# of decimal+unit parts, e.g. "500ms", "2m30s", "1.5h", ".5s", "1.s"; each
# part needs >=1 digit in its int or frac place; bare (signed) "0" is the
# one unitless form Go accepts. "µs" (U+00B5) and "μs" (U+03BC) both alias
# microseconds, as in Go's unitMap.
_GO_DURATION_PART = re.compile(r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|μs|ms|s|m|h)")
_UNIT_MS = {
    "ns": 1e-6,
    "us": 1e-3,
    "µs": 1e-3,
    "μs": 1e-3,
    "ms": 1.0,
    "s": 1000.0,
    "m": 60_000.0,
    "h": 3_600_000.0,
}


def _parse_go_duration(s: str) -> float:
    """Go time.ParseDuration -> SIGNED milliseconds (float). Raises
    ValueError on syntax Go rejects; sign is preserved (Go durations are
    signed — what a negative MEANS is the caller's flag semantics)."""
    orig = s
    s = s.strip()
    negative = False
    if s[:1] in ("+", "-"):
        negative = s[0] == "-"
        s = s[1:]
    if s == "0":  # Go's only unitless duration
        return 0.0
    pos = 0
    total_ms = 0.0
    for m in _GO_DURATION_PART.finditer(s):
        if m.start() != pos:
            raise ValueError(f"invalid duration {orig!r}")
        total_ms += float(m.group(1)) * _UNIT_MS[m.group(2)]
        pos = m.end()
    if pos != len(s) or pos == 0:
        raise ValueError(f"invalid duration {orig!r}")
    return -total_ms if negative else total_ms


def go_duration_to_ms(s: str) -> int:
    """Go duration -> whole milliseconds, signed. Sub-ms POSITIVES floor to
    1 ms (a requested deadline, however tiny, stays a deadline); zero and
    negatives pass through — per the reference's export-timeout semantics
    (otlp exporters skip the WithTimeout branch when the configured timeout
    is <= 0), a non-positive --timeout means NO deadline, so the caller
    must be able to see the sign."""
    total_ms = _parse_go_duration(s)
    if 0 < total_ms < 1:
        return 1
    return int(round(total_ms))


def go_duration_to_interval(s: str) -> str:
    """Convert a Go duration string ("500ms", "2m30s", "1.5h") to a Spark
    interval string, matching the reference's time.Duration flag parsing
    (main.go:38 --flush-interval). Raises ValueError on syntax Go rejects,
    and on negative durations (Go parses them, but a flush interval below
    zero has no streaming-trigger meaning — fail loudly over silently
    clamping). Sub-millisecond positives floor to 1 millisecond, the
    smallest non-zero Spark trigger, never to a 0 interval."""
    total_ms = _parse_go_duration(s)
    if total_ms < 0:
        raise ValueError(f"negative flush interval not supported: {s!r}")
    if 0 < total_ms < 1:
        return "1 milliseconds"
    return f"{int(round(total_ms))} milliseconds"


# Go strconv.ParseBool spellings, the values a bool flag takes after "="
_GO_BOOLS = {
    **dict.fromkeys(("1", "t", "T", "TRUE", "true", "True"), True),
    **dict.fromkeys(("0", "f", "F", "FALSE", "false", "False"), False),
}


def _parse_go_bool(flag: str, v: str) -> bool:
    if v not in _GO_BOOLS:
        raise ValueError(f"flag {flag} takes a boolean, got {v!r}")
    return _GO_BOOLS[v]


@dataclass
class PipelineConfig:
    json_prefix: str | None = None  # None -> default prefix regex (main.go:148)
    timestamp_fields: tuple[str, ...] = DEFAULT_TIMESTAMP_FIELDS
    level_fields: tuple[str, ...] = DEFAULT_LEVEL_FIELDS
    message_fields: tuple[str, ...] = DEFAULT_MESSAGE_FIELDS
    continuation_pattern: str = DEFAULT_CONTINUATION_PATTERN
    coalesce_multiline: bool = True
    # --timeout (main.go:35 -> WithExportTimeout, main.go:357): per-sink
    # export deadline. None = no deadline — the reference's 10s default
    # suits OTLP RPC exports; a distributed parquet write's natural scale
    # is minutes, so the engine applies a timeout only when configured.
    export_timeout_ms: int | None = None
    passthrough_raw_sink: bool = False  # tee of raw entries (main.go:42-43)
    repartition: int | None = None  # explicit conv_id hash partitions
    # attrs storage format through the pipeline + sinks: the JSON string,
    # adopted after the 37M-turn A/B (520k vs 382k turns/s at 8 cores,
    # identical sink counts; BENCH/AB_attrs_format.md). A class constant,
    # not a field: the parse API (with_parsed) itself still defaults to the
    # typed map, this is the PIPELINE's storage choice.
    attrs_format: ClassVar[str] = "json"

    @classmethod
    def from_reference_args(cls, argv: list[str]) -> "PipelineConfig":
        """Parse a reference-style flag list (subset of main.go:34-47).
        A value flag takes its value as the next token or after ``=``
        (``--timeout=5s``, split on the first ``=``); a value flag with
        no value raises ValueError. A passthrough flag is on when bare
        and otherwise takes a Go strconv.ParseBool value after ``=``
        (``--passthrough-stdout=false``; the last spelling of a flag
        wins); any other value raises ValueError. Unknown tokens are
        ignored."""
        cfg = cls()
        fields_map = {
            "--timestamp-fields": "timestamp_fields",
            "--level-fields": "level_fields",
            "--message-fields": "message_fields",
        }
        value_flags = {
            "--json-prefix", "--continuation-pattern", "--batch-size",
            "--flush-interval", "--timeout", *fields_map,
        }
        lists: dict[str, list[str]] = {v: [] for v in fields_map.values()}
        passthrough = {"--passthrough-stdout": False, "--passthrough-stderr": False}
        i = 0
        while i < len(argv):
            a = argv[i]
            i += 1
            flag, eq, v = a.partition("=")
            if flag in passthrough:
                passthrough[flag] = _parse_go_bool(flag, v) if eq else True
                continue
            if flag not in value_flags:
                continue
            if not eq:
                if i == len(argv):
                    raise ValueError(f"flag {flag} needs a value")
                v = argv[i]
                i += 1
            if flag == "--json-prefix":
                cfg.json_prefix = v
            elif flag in fields_map:
                # reference: --x-fields is repeatable, comma-splittable
                lists[fields_map[flag]].extend(
                    s.strip() for s in v.split(",") if s.strip()
                )
            elif flag == "--continuation-pattern":
                cfg.continuation_pattern = v
            elif flag == "--batch-size":
                int(v)  # validated only (see table above)
            elif flag == "--flush-interval":
                go_duration_to_interval(v)  # validated only
            else:  # --timeout
                # reference semantics: a non-positive export timeout means
                # NO deadline (the exporter's WithTimeout branch is skipped
                # when <= 0) — so "--timeout 0" disables, never insta-kills
                ms = go_duration_to_ms(v)
                cfg.export_timeout_ms = None if ms <= 0 else ms
        for attr, vals in lists.items():
            if vals:  # CLI overrides defaults wholesale (main.go:621-630)
                setattr(cfg, attr, tuple(vals))
        cfg.passthrough_raw_sink = any(passthrough.values())
        return cfg
