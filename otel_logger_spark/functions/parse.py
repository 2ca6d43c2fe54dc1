"""The vectorized parse stage.

Re-expresses the reference's extract/parse semantics
(/root/reference/main.go:142-266) as an Arrow-batched pandas UDF:

- P1 prefix strip  (ExtractJSON, main.go:156-171; default regex main.go:148)
- P2 JSON parse with plain-text fallback (ParseLogEntry, main.go:173-246)
- P3 timestamp field coalesce, first-PRESENT-key-wins (main.go:193-212)
- P4 multi-format timestamp parse (parseTimestamp, main.go:248-266)
- P5/P6 level/message coalesce (main.go:215-240)
- P8 attribute stringification (ProcessLogEntry, main.go:281-295)
- P9 raw preservation (log.record.original, main.go:298) — the input text
  column is carried through untouched as ``raw``.

Deviation (documented in SURVEY.md §7): the reference falls back to
``time.Now()`` for missing/unparseable timestamps (main.go:187,211); for
determinism we use the row's own ``ts`` column instead.

Design: one pandas UDF returning a struct; regexes compile once per Python
worker at module import (mirrors the reference's compile-once extractor,
main.go:142-154). The loop is per-Arrow-batch Python, but the JVM<->Python
boundary is Arrow-columnar, and everything downstream (enrich, route, agg)
stays JVM-side in whole-stage codegen.
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timedelta, timezone

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from otel_logger_spark.gofmt import render_attr

# --- P1: prefix extraction -------------------------------------------------

# Go default (main.go:148): ^(\d{4}-\d{2}-\d{2}[T\s]\d{2}:\d{2}:\d{2}[.\d]*[Z\-+\d:]*\s*)?(.*)$
# Go RE2 `$` = end-of-text and `.` excludes \n, so multiline entries never
# match and pass through whole. Python `$` also matches before a trailing
# newline, so we anchor with \Z to keep RE2 semantics.
DEFAULT_PREFIX_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2}[T\s]\d{2}:\d{2}:\d{2}[.\d]*[Z\-+\d:]*\s*)?(.*)\Z"
)

DEFAULT_TIMESTAMP_FIELDS = ("timestamp", "ts", "time", "@timestamp")
DEFAULT_LEVEL_FIELDS = ("level", "lvl", "severity", "priority")
DEFAULT_MESSAGE_FIELDS = ("message", "msg", "text", "content")

DEFAULT_LEVEL = "info"
DEFAULT_MESSAGE = "Log entry"


def extract_json(line: str, prefix_re: re.Pattern = DEFAULT_PREFIX_RE) -> str:
    """ExtractJSON (main.go:156-171): last capture group if nonempty."""
    if prefix_re is DEFAULT_PREFIX_RE and line and line[0] == "{":
        # fast path: the default prefix starts with \d{4}, so a '{' line has
        # an empty prefix group and group2 == line — skip the regex
        return line
    m = prefix_re.search(line)
    if m is None:
        return line
    groups = m.groups()
    if groups:
        last = groups[-1]
        if last:
            return last
    return line


# --- P4: multi-format timestamp parse ---------------------------------------

# The 6 Go layouts (main.go:250-257) collapse to: ISO date, 'T' or ' '
# separator, seconds required, optional fraction (Go accepts an input
# fraction even when absent from the layout), optional tz — but ' '
# separator only in the tz-less layout. Zero time (year 1) is "IsZero".
_TS_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})([T ])(\d{2}):(\d{2}):(\d{2})(?:\.(\d+))?(Z|[+-]\d{2}:\d{2})?$"
)

_GO_ZERO = datetime(1, 1, 1, tzinfo=timezone.utc)


def parse_go_timestamp(s: str) -> datetime | None:
    """parseTimestamp (main.go:248-266) -> UTC-aware datetime, or None."""
    m = _TS_RE.match(s)
    if m is None:
        return None
    y, mo, d, sep, hh, mm, ss, frac, tz = m.groups()
    if sep == " " and tz is not None:
        return None  # no space-separated layout carries a zone
    micros = int((frac or "").ljust(6, "0")[:6]) if frac else 0
    try:
        dt = datetime(int(y), int(mo), int(d), int(hh), int(mm), int(ss), micros)
    except ValueError:
        return None
    if tz and tz != "Z":
        sign = 1 if tz[0] == "+" else -1
        off = timedelta(hours=int(tz[1:3]), minutes=int(tz[4:6]))
        try:
            dt = dt - sign * off
        except OverflowError:
            # 0001-01-01T00:00:00+01:00 / 9999-12-31T23:59:59-01:00 leave
            # Python's datetime range; Go's time.Time handles them, but the
            # zero-rows-dropped invariant wins — treat as unparseable and let
            # the caller fall back to the row ts.
            return None
    return dt.replace(tzinfo=timezone.utc)


# --- P2/P3/P5/P6/P8: full entry parse ---------------------------------------


def _reject_const(name):  # Go json has no NaN/Infinity literals
    raise ValueError(name)


# Precompiled decoder: json.loads(s, parse_constant=...) constructs a fresh
# JSONDecoder on EVERY call (measured ~10% of parse time); decode() has
# identical leading/trailing-whitespace semantics.
_STDLIB_DECODER = json.JSONDecoder(parse_constant=_reject_const)

# orjson (4x faster than stdlib on the loads hot path) rejects NaN/Infinity
# (which we reject anyway) and lone-surrogate escapes, so those retry
# through the stdlib path. Ints outside [i64min, u64max] it parses LOSSILY
# as float instead of rejecting (stdlib yields a bigint) — harmless here
# because go_v renders every number through Go's float64 formatting (Go's
# json.Unmarshal into interface{} is float64 too), so both decoders produce
# identical rendered output; parity suite + oracles unchanged.
try:
    import orjson as _orjson
except ImportError:  # pragma: no cover - present in this environment
    _orjson = None


def _loads_go(json_str: str):
    if _orjson is not None:
        try:
            return _orjson.loads(json_str)
        except Exception:
            pass
    return _STDLIB_DECODER.decode(json_str)


# json.loads accepts lone-surrogate escapes (e.g. {"a":"\ud800"} is valid
# JSON text) but the resulting string is not UTF-8-encodable, so Arrow
# serialization of the UDF output would kill the task. Go's json.Unmarshal
# replaces each invalid surrogate with U+FFFD (main.go Unmarshal semantics);
# mirror that. Unpaired surrogates can ONLY enter via \uXXXX escapes (raw
# Spark strings are already valid UTF-8), so callers gate on '\\u' presence.
_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def _scrub_surrogates(s: str) -> str:
    return _SURROGATE_RE.sub("�", s)


# epoch-micros bounds of Python's datetime range (year 1 .. 9999)
_MIN_US = -62135596800_000_000
_MAX_US = 253402300799_999_999
_EPOCH_ORD = 719163  # date(1970,1,1).toordinal()


def parse_go_timestamp_us(s: str) -> int | None:
    """parse_go_timestamp, micros-native: the UDF hot path avoids building
    tz-aware datetimes entirely (datetime.replace alone was ~7% of worker
    time). Returns epoch micros, or None for unparseable/out-of-range."""
    m = _TS_RE.match(s)
    if m is None:
        return None
    y, mo, d, sep, hh, mm, ss, frac, tz = m.groups()
    if sep == " " and tz is not None:
        return None  # no space-separated layout carries a zone
    hh_i, mm_i, ss_i = int(hh), int(mm), int(ss)
    if hh_i > 23 or mm_i > 59 or ss_i > 59:  # Go rejects 24:00 / leap seconds
        return None
    try:
        days = datetime(int(y), int(mo), int(d)).toordinal() - _EPOCH_ORD
    except ValueError:
        return None
    micros = int(frac.ljust(6, "0")[:6]) if frac else 0
    us = (days * 86400 + hh_i * 3600 + mm_i * 60 + ss_i) * 1_000_000 + micros
    if tz and tz != "Z":
        off = (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60) * 1_000_000
        us = us - off if tz[0] == "+" else us + off
        if not (_MIN_US <= us <= _MAX_US):
            return None  # OverflowError parity (see parse_go_timestamp)
    return us


def parse_entry_us(
    line: str,
    prefix_re: re.Pattern = DEFAULT_PREFIX_RE,
    ts_fields=DEFAULT_TIMESTAMP_FIELDS,
    level_fields=DEFAULT_LEVEL_FIELDS,
    msg_fields=DEFAULT_MESSAGE_FIELDS,
):
    """ParseLogEntry (main.go:173-246), pure, micros-native (the UDF hot
    path; parse_entry wraps it with a datetime for the golden tests).

    Returns (event_us | None, level, message, attrs: dict[str,str],
    json_ok). event_us None means "reference would use time.Now()" — the
    caller substitutes the row's own ts.
    """
    json_str = extract_json(line, prefix_re)
    # cheap pre-check: an Unmarshal-into-map can only succeed when the first
    # non-space byte is '{' — skips the exception machinery for plain text
    c = json_str[:1]
    if c != "{" and (c not in " \t\r\n" or json_str.lstrip()[:1] != "{"):
        return None, DEFAULT_LEVEL, line.strip(), {}, False
    try:
        data = _loads_go(json_str)
        if type(data) is not dict:
            raise ValueError("not an object")  # Unmarshal-into-map fails
    except Exception:
        # fallback path (main.go:184-190)
        return None, DEFAULT_LEVEL, line.strip(), {}, False

    event_us = None
    # first-PRESENT-key wins: the loop breaks (and deletes) on the first key
    # holding a string or number, even if the string doesn't parse
    # (main.go:194-207). Non-string/number values fall through to later keys.
    # (type() checks: bool is excluded automatically, and they dodge the
    # isinstance machinery — 21M isinstance calls showed in the profile.)
    for f in ts_fields:
        v = data.get(f)
        tv = type(v)
        if tv is str:
            t = parse_go_timestamp_us(v)
            if t is not None and t != _MIN_US:  # IsZero check (main.go:201)
                event_us = t
            del data[f]
            break
        if tv is int or tv is float:
            try:
                sec = int(v)  # OverflowError on inf (1e400 via stdlib retry)
                # datetime.fromtimestamp range parity (year 1..9999)
                if -62135596800 <= sec <= 253402300799:
                    event_us = sec * 1_000_000
            except (OverflowError, ValueError):
                pass  # out of range -> deterministic fallback
            del data[f]
            break

    level = None
    for f in level_fields:
        v = data.get(f)
        if type(v) is str:  # only string values match (main.go:217)
            level = v
            del data[f]
            break
    if level is None:
        level = DEFAULT_LEVEL

    message = None
    for f in msg_fields:
        v = data.get(f)
        if type(v) is str:
            message = v
            del data[f]
            break
    if message is None:
        message = DEFAULT_MESSAGE

    attrs = {
        k: (v if type(v) is str else render_attr(v)) for k, v in data.items()
    }
    if "\\u" in json_str:  # only escapes can smuggle in lone surrogates
        level = _scrub_surrogates(level)
        message = _scrub_surrogates(message)
        attrs = {
            _scrub_surrogates(k): _scrub_surrogates(v) for k, v in attrs.items()
        }
    return event_us, level, message, attrs, True


def parse_entry(
    line: str,
    prefix_re: re.Pattern = DEFAULT_PREFIX_RE,
    ts_fields=DEFAULT_TIMESTAMP_FIELDS,
    level_fields=DEFAULT_LEVEL_FIELDS,
    msg_fields=DEFAULT_MESSAGE_FIELDS,
):
    """ParseLogEntry (main.go:173-246), pure — datetime-typed wrapper over
    parse_entry_us (the golden-test / reference-parity surface).

    Returns (event_ts | None, level, message, attrs: dict[str,str], json_ok).
    event_ts None means "reference would use time.Now()" — caller substitutes
    the row's own ts.
    """
    us, level, message, attrs, ok = parse_entry_us(
        line, prefix_re, ts_fields, level_fields, msg_fields
    )
    ets = None
    if us is not None:
        ets = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc).replace(
            microsecond=us % 1_000_000
        )
    return ets, level, message, attrs, ok


# --- Spark surface -----------------------------------------------------------

# The UDF exchanges ONLY cheap Arrow types. Timestamps cross as epoch
# MICROS (int64, unix_micros on the way in / timestamp_micros on the way
# out) and the attrs map crosses as an orjson-dumped JSON string decoded by
# from_json JVM-side: Arrow serialization of object-dtype datetime columns
# and list-of-dict map columns is per-element Python work that measured
# ~6x the cost of the parse itself (UDF throughput 47k rows/s/core against
# 304k rows/s for the bare parse loop); ints and strings are memcpy-class.
PARSED_STRUCT = T.StructType(
    [
        T.StructField("event_ts_us", T.LongType()),
        T.StructField("level", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("attrs_json", T.StringType()),
        T.StructField("json_ok", T.BooleanType()),
    ]
)

_EPOCH_NAIVE = datetime(1970, 1, 1)

_dumps = (
    (lambda d: _orjson.dumps(d).decode())
    if _orjson is not None
    else (lambda d: json.dumps(d, ensure_ascii=False, separators=(",", ":")))
)


def _dt_to_us(dt: datetime) -> int:
    td = dt - _EPOCH_NAIVE
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


def make_parse_udf(
    json_prefix: str | None = None,
    ts_fields=DEFAULT_TIMESTAMP_FIELDS,
    level_fields=DEFAULT_LEVEL_FIELDS,
    msg_fields=DEFAULT_MESSAGE_FIELDS,
):
    """Build the parse pandas UDF with a given config (mirrors the
    configurable FieldMappings / --json-prefix of the reference,
    main.go:125-129, main.go:621-633). Callers feed unix_micros(ts) and
    re-materialize event_ts/attrs JVM-side — see with_parsed."""
    prefix_re = re.compile(json_prefix) if json_prefix else DEFAULT_PREFIX_RE
    ts_fields = tuple(ts_fields)
    level_fields = tuple(level_fields)
    msg_fields = tuple(msg_fields)

    @pandas_udf(PARSED_STRUCT)
    def parse_udf(text: pd.Series, fallback_us: pd.Series) -> pd.DataFrame:
        n = len(text)
        out_us = [None] * n
        out_level = [None] * n
        out_msg = [None] * n
        out_attrs = [None] * n
        out_ok = [False] * n
        if fallback_us.isna().any():  # null ts -> float64 NaN from Arrow
            fb = [None if v != v else int(v) for v in fallback_us.tolist()]
        else:
            fb = fallback_us.tolist()
        dumps = _dumps
        parse = parse_entry_us
        for i, line in enumerate(text.tolist()):
            if line is None:
                # parse_entry("") result, inlined
                out_us[i] = fb[i]
                out_level[i] = DEFAULT_LEVEL
                out_msg[i] = ""
                out_attrs[i] = "{}"
                continue
            us, level, msg, attrs, ok = parse(
                line, prefix_re, ts_fields, level_fields, msg_fields
            )
            out_us[i] = fb[i] if us is None else us
            out_level[i] = level
            out_msg[i] = msg
            out_attrs[i] = dumps(attrs) if attrs else "{}"
            out_ok[i] = ok
        return pd.DataFrame(
            {
                "event_ts_us": pd.array(out_us, dtype="Int64"),
                "level": out_level,
                "message": out_msg,
                "attrs_json": out_attrs,
                "json_ok": out_ok,
            }
        )

    return parse_udf


def with_parsed(
    df,
    text_col: str = "text",
    ts_col: str = "ts",
    json_prefix: str | None = None,
    ts_fields=DEFAULT_TIMESTAMP_FIELDS,
    level_fields=DEFAULT_LEVEL_FIELDS,
    msg_fields=DEFAULT_MESSAGE_FIELDS,
    keep_text: bool = False,
    attrs_format: str = "map",
):
    """Apply the parse stage: adds event_ts, level, message, attrs, json_ok
    and ``raw`` (the untouched input text — main.go:298 parity).

    ``attrs_format``: "map" (default) materializes ``attrs`` as
    map<string,string> via from_json; "json" keeps the UDF's already-built
    JSON string — semantically the same key-values (OTLP attributes are a
    storage-format choice), but the string skips from_json, moves through
    UnsafeRow copies as one flat buffer instead of a map, and parquet-
    encodes as a plain BYTE_ARRAY column: the sink-write A/B in
    BENCH/AB_attrs_format.md quantifies the difference. Map consumers
    re-parse on demand (from_json is cheap on the tiny filtered slices
    that actually inspect attrs).

    ``raw`` is the input column RENAMED, not copied: carrying two identical
    string columns through persist/joins/writes doubles memory traffic,
    which is the single-box scaling ceiling. keep_text=True restores the
    duplicate for callers that still need ``text`` downstream."""
    if attrs_format not in ("map", "json"):
        raise ValueError(f"attrs_format must be 'map' or 'json': {attrs_format!r}")
    udf = make_parse_udf(json_prefix, ts_fields, level_fields, msg_fields)
    parsed = df.withColumn(
        "_p", udf(F.col(text_col), F.unix_micros(F.col(ts_col).cast("timestamp")))
    )
    if keep_text:
        parsed = parsed.withColumn("raw", F.col(text_col))
    else:
        parsed = parsed.withColumnRenamed(text_col, "raw")
    attrs_col = (
        F.col("_p.attrs_json")
        if attrs_format == "json"
        else F.from_json(F.col("_p.attrs_json"), "map<string,string>")
    )
    return (
        parsed.withColumn("event_ts", F.timestamp_micros(F.col("_p.event_ts_us")))
        .withColumn("level", F.col("_p.level"))
        .withColumn("message", F.col("_p.message"))
        .withColumn("attrs", attrs_col)
        .withColumn("json_ok", F.col("_p.json_ok"))
        .drop("_p")
    )


def severity_expr(level_col: Column) -> Column:
    """Pure-expression severity mapping (logLevelToSeverity,
    main.go:311-328) — stays inside whole-stage codegen; the broadcast-join
    variant lives in operators/enrich.py."""
    lv = F.lower(level_col)
    return (
        F.when(lv == "trace", F.lit(1))
        .when(lv == "debug", F.lit(5))
        .when(lv == "info", F.lit(9))
        .when((lv == "warn") | (lv == "warning"), F.lit(13))
        .when(lv == "error", F.lit(17))
        .when(lv == "fatal", F.lit(21))
        .otherwise(F.lit(9))
    )
