"""Schemas and static lookup data.

Transcript input shape is fixed by the graft contract (BASELINE.json
``input_hint``): (conv_id, turn_idx, role, text, tool, ts).
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# severity lookup (logLevelToSeverity, /root/reference/main.go:311-328;
# golden values main_test.go:286-311). Key is the lowercased level text;
# misses default to 9 (info).
SEVERITY_ROWS = [
    ("trace", 1),
    ("debug", 5),
    ("info", 9),
    ("warn", 13),
    ("warning", 13),
    ("error", 17),
    ("fatal", 21),
]
DEFAULT_SEVERITY = 9

# tool registry for enrichment (graft-side lookup; FIXTURES.md §2)
TOOL_REGISTRY_ROWS = [
    ("bash", "shell", True),
    ("python", "shell", True),
    ("search", "search", False),
    ("browse", "search", False),
    ("db.query", "db", True),
    ("db.write", "db", True),
    ("http.get", "http", False),
    ("http.post", "http", False),
    ("file.read", "fs", False),
    ("file.write", "fs", True),
]

# sink names for the routed fan-out (north_star: error, tool-call,
# conversation-metrics; plus the full log stream — the reference's single
# OTLP sink, main.go:330-345)
SINK_LOGS = "logs"
SINK_ERROR = "error"
SINK_TOOL_CALL = "tool_call"
SINK_CONV_METRICS = "conversation_metrics"
