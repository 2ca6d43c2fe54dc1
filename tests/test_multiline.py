"""Multiline coalescer golden tests, ported from
/root/reference/multiline_test.go:11-256 (every case). Each input line
becomes one transcript turn; expected output is the list of coalesced
entry texts in (conv_id, turn_idx) order.

Both formulations are tested: the window/running-sum plan (production,
scales) and the applyInPandas transcription of the Go loop
(tests/multiline_reference.py).
"""

from datetime import datetime

import pytest

from multiline_reference import coalesce_entries_pandas
from otel_logger_spark.operators.multiline import coalesce_entries

CASES = {
    "single_line": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "2024-01-15T10:30:10Z DEBUG Processing user request",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "2024-01-15T10:30:10Z DEBUG Processing user request",
        ],
    ),
    "space_indent": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "  - Configuration loaded",
            "  - Database connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "  Exception: NullPointerException",
            "    at com.example.Service.process(Service.java:42)",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application\n  - Configuration loaded\n  - Database connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request\n  Exception: NullPointerException\n    at com.example.Service.process(Service.java:42)",
        ],
    ),
    "tab_indent": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "\tConfiguration loaded",
            "\tDatabase connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "\tException: NullPointerException",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application\n\tConfiguration loaded\n\tDatabase connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request\n\tException: NullPointerException",
        ],
    ),
    "orphaned_continuations_dropped": (
        [
            "  - Orphaned continuation line at start",
            "    Another orphaned line",
            "2024-01-15T10:30:00Z INFO Starting application",
            "  - Configuration loaded",
            "  - Database connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "  Exception: NullPointerException",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application\n  - Configuration loaded\n  - Database connection established",
            "2024-01-15T10:30:05Z ERROR Failed to process request\n  Exception: NullPointerException",
        ],
    ),
    "empty_lines_skipped_dont_break_entries": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "",
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            "  Exception: NullPointerException",
            "",
            "2024-01-15T10:30:10Z DEBUG Processing user request",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "2024-01-15T10:30:05Z ERROR Failed to process request\n  Exception: NullPointerException",
            "2024-01-15T10:30:10Z DEBUG Processing user request",
        ],
    ),
    "java_stack_trace": (
        [
            "2024-01-15T10:30:05Z ERROR Failed to process request",
            '  java.lang.NullPointerException: Cannot invoke "String.length()" because "str" is null',
            "\tat com.example.service.UserService.validateUser(UserService.java:45)",
            "\t... 23 more",
            "2024-01-15T10:30:10Z INFO Request completed",
        ],
        [
            '2024-01-15T10:30:05Z ERROR Failed to process request\n  java.lang.NullPointerException: Cannot invoke "String.length()" because "str" is null\n\tat com.example.service.UserService.validateUser(UserService.java:45)\n\t... 23 more',
            "2024-01-15T10:30:10Z INFO Request completed",
        ],
    ),
    "whitespace_only_lines_are_orphans": (["", "", "   "], []),
    "json_array_spanning_lines": (
        [
            "[",
            "  {",
            '    "timestamp": "2024-01-15T10:30:00Z",',
            '    "level": "INFO",',
            '    "message": "First entry"',
            "  },",
            "  {",
            '    "message": "Second entry"',
            "  }",
            "]",
        ],
        [
            '[\n  {\n    "timestamp": "2024-01-15T10:30:00Z",\n    "level": "INFO",\n    "message": "First entry"\n  },\n  {\n    "message": "Second entry"\n  }\n]'
        ],
    ),
    "json_object_spanning_lines": (
        [
            "{",
            '  "Plan": {',
            '    "Node Type": "Limit",',
            '    "Total Cost": 258339.57',
            "  },",
            '  "Execution Time": 4725.163',
            "}",
        ],
        [
            '{\n  "Plan": {\n    "Node Type": "Limit",\n    "Total Cost": 258339.57\n  },\n  "Execution Time": 4725.163\n}'
        ],
    ),
    "two_arrays": (
        ["[", '  {"message": "First array"}', "]", "[", '  {"message": "Second array"}', "]"],
        [
            '[\n  {"message": "First array"}\n]',
            '[\n  {"message": "Second array"}\n]',
        ],
    ),
    "mixed_json_and_text": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "[",
            '  {"data": "json array"}',
            "]",
            "2024-01-15T10:30:05Z ERROR Failed to process",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            '[\n  {"data": "json array"}\n]',
            "2024-01-15T10:30:05Z ERROR Failed to process",
        ],
    ),
    # a bare closer's trailing whitespace is what Go's strings.TrimSpace
    # strips (tab, CR, NBSP), not only ASCII spaces (main.go:409-412)
    "closers_with_trailing_whitespace": (
        [
            "2024-01-15T10:30:00Z INFO Starting application",
            "}\t",
            "],\r",
            "]\u00a0",
            "2024-01-15T10:30:05Z INFO Next log entry",
        ],
        [
            "2024-01-15T10:30:00Z INFO Starting application\n}\t\n],\r\n]\u00a0",
            "2024-01-15T10:30:05Z INFO Next log entry",
        ],
    ),
    # leading non-ASCII whitespace: not a continuation indent, but trimmed
    "closer_with_leading_unicode_space": (
        ["2024-01-15T10:30:00Z INFO Data", "\u00a0},", "\u3000]"],
        ["2024-01-15T10:30:00Z INFO Data\n\u00a0},\n\u3000]"],
    ),
    "inline_brackets_not_continuation": (
        [
            "2024-01-15T10:30:00Z INFO Data: [1, 2, 3]",
            "2024-01-15T10:30:01Z INFO Next log entry",
        ],
        [
            "2024-01-15T10:30:00Z INFO Data: [1, 2, 3]",
            "2024-01-15T10:30:01Z INFO Next log entry",
        ],
    ),
}


def _to_df(spark, lines):
    ts0 = datetime(2024, 1, 15, 10, 30, 0)
    rows = [("c0", i, "assistant", line, None, ts0) for i, line in enumerate(lines)]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@pytest.mark.parametrize("name", sorted(CASES))
@pytest.mark.parametrize("impl", [coalesce_entries, coalesce_entries_pandas])
def test_multiline_golden(spark, name, impl):
    lines, expected = CASES[name]
    out = impl(_to_df(spark, lines)).orderBy("turn_idx").collect()
    assert [r["text"] for r in out] == expected
    # entry turn_idx = the start line's turn index
    starts = [r["turn_idx"] for r in out]
    assert starts == sorted(starts)


def test_multiline_multiple_conversations(spark):
    # entries never merge across conversations; conv boundary == stream boundary
    ts0 = datetime(2024, 1, 15, 10, 30, 0)
    rows = [
        ("a", 0, "assistant", "start A", None, ts0),
        ("a", 1, "assistant", "  cont A", None, ts0),
        ("b", 0, "assistant", "  orphan B", None, ts0),
        ("b", 1, "assistant", "start B", None, ts0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = {(r["conv_id"], r["text"]) for r in coalesce_entries(df).collect()}
    assert out == {("a", "start A\n  cont A"), ("b", "start B")}
