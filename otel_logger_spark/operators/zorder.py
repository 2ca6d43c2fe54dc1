"""Z-order (Morton-curve) data layout — the third lakehouse maintenance
operator beside compaction (operators/compact.py) and TTL
(operators/retention.py): rewrite a table so rows CLOSE on the
space-filling curve of several filter columns land in the same files.
Parquet readers then skip whole row groups / files via footer min-max
stats for predicates on ANY prefix-free combination of those columns —
the multi-column analogue of a sort, which can only serve its leading
column. Iceberg/Delta call this ``rewrite_data_files(strategy =>
'sort', sort_order => zorder(...))``; this is the parquet-directory
version on the shared rewrite-verify-swap protocol (same crash-safety,
row-count verification and concurrent-writer guard as compaction).

The z-value is pure integer codegen: each column linearly quantized to
``bits`` bits over its measured [min, max] (one tiny agg job), then bit
interleaved — column j contributes bit i to z-bit ``i*k + j``. No UDF,
no float: the identical arithmetic is re-derivable in SQL, which the
``zorder_buckets`` gate query exercises end-to-end (quantization ranges
computed from the data IN the oracle too, so the whole thing stays
deterministic and engine-independent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from otel_logger_spark.operators.compact import rewrite_verify_swap


def quantize_expr(name: str, mn: int, mx: int, bits: int = 16) -> Column:
    """Linear quantization of an integer column to [0, 2^bits): EXACT
    integer arithmetic (``div``, never float — a double round-trip loses
    bits past 2^53, e.g. epoch-micros * 65535), clamped. Identical in
    SQL as ``((c - mn) * top) // span``. Domain bound for int64:
    (mx - mn) * (2^bits - 1) < 2^63 — decades of epoch micros at the
    default 16 bits."""
    span = max(int(mx) - int(mn), 1)
    top = (1 << bits) - 1
    if span * top >= 1 << 63:
        raise ValueError(
            f"quantize range too wide for exact int64 arithmetic: span "
            f"{span} * {top} >= 2^63 — reduce bits (span < 2^{63 - bits}) "
            "or pre-scale the column (e.g. micros -> seconds)"
        )
    return F.expr(
        f"least({top}L, greatest(0L, (({name} - {int(mn)}L) * {top}L) div {span}L))"
    )


def zvalue_expr(quantized: list[Column], bits: int = 16) -> Column:
    """Morton interleave of k pre-quantized columns: column j's bit i
    becomes z-bit i*k + j. 2 cols x 16 bits -> a 32-bit z in a LONG.

    Interleave width is guarded like quantize_expr's domain bound: with
    k*bits > 63 (e.g. 4 columns at the default 16 bits) the top z-bit
    positions would reach the sign bit and beyond — Spark long shifts
    wrap mod 64 and the ``+`` accumulation carries across colliding
    bits, silently producing a garbage (non-Morton) layout."""
    k = len(quantized)
    if k < 1:
        raise ValueError("zvalue_expr needs at least one quantized column")
    if k * bits > 63:
        raise ValueError(
            f"z-value width {k} cols * {bits} bits = {k * bits} exceeds the "
            f"63 usable bits of a LONG — reduce bits (<= {63 // k} for "
            f"{k} columns) or drop curve columns"
        )
    z = F.lit(0).cast("long")
    for j, q in enumerate(quantized):
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftrightunsigned(q, i).bitwiseAND(F.lit(1)), i * k + j
            )
    return z


def with_zvalue(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "_z",
    ranges: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """Adds the z-value over per-column [min, max] ranges. ``ranges``
    maps column -> (min, max) for callers that already know them (table
    statistics, partition metadata): columns covered there skip the
    measurement aggregate entirely — with every column covered, ZERO
    Spark jobs run before the rewrite, which is what you want at 10^12
    rows. Uncovered columns are measured in one combined agg job."""
    ranges = dict(ranges or {})
    unknown = set(ranges) - set(cols)
    if unknown:
        raise ValueError(f"ranges for non-curve column(s): {sorted(unknown)}")
    to_measure = [c for c in cols if c not in ranges]
    if to_measure:
        aggs = []
        for c in to_measure:
            aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
        r = df.agg(*aggs).collect()[0]
        missing = [
            c for c in to_measure
            if r[f"_mn_{c}"] is None or r[f"_mx_{c}"] is None
        ]
        if missing:
            raise ValueError(
                f"cannot z-order on empty or all-NULL column(s): {missing}"
            )
        for c in to_measure:
            ranges[c] = (r[f"_mn_{c}"], r[f"_mx_{c}"])
    qs = [quantize_expr(c, *ranges[c], bits) for c in cols]
    return df.withColumn(out_col, zvalue_expr(qs, bits))


def zorder_parquet_dir(
    spark: SparkSession,
    path: str,
    cols: list[str],
    bits: int = 16,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> dict:
    """Rewrite a parquet directory in Z-order over ``cols``:
    range-partition by z (so files tile the curve) and sort within
    partitions (so row groups tile it too), then verify and swap. Every
    safety property of compaction holds; the layout change is the only
    difference. Returns the rewrite report."""
    # fail on an over-wide curve before any job or tmp dir is created
    zvalue_expr([F.lit(0).cast("long")] * len(cols), bits)

    def transform(df: DataFrame, n_target: int) -> DataFrame:
        z = with_zvalue(df, cols, bits)
        return (
            z.repartitionByRange(n_target, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )

    return rewrite_verify_swap(
        spark, path, transform, target_file_bytes=target_file_bytes
    )
