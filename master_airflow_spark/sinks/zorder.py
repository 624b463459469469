"""Z-order (Morton) layout — multi-dimensional data clustering for
file-level skipping at 100 TB.

Min/max file statistics prune scans on ONE leading sort column; a
corpus queried by both customer and date needs rows clustered so that
files are tight ranges in BOTH dimensions at once. Interleaving the
bits of the two keys (the Morton curve) gives a single sort key whose
ranges are small rectangles in (key1, key2) space: a writer that
range-partitions on the z-value and sorts within partitions gets files
whose per-column min/max footprints are narrow in every interleaved
dimension — the same layout trick Delta/Iceberg OPTIMIZE ZORDER
applies, expressed with nothing but column expressions.

The z-value is pure integer bit arithmetic (shifts, masks, adds), so
the judged query (operators/layout.zorder_layout_keys) carries an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16  # bits kept per dimension — 32-bit z-values, plenty for file routing


# Largest key span whose numerator (span * (2^Z_BITS - 1)) still fits
# in a signed 64-bit long — beyond this the multiply in _normalize
# would wrap silently, so the plan asserts instead of diverging.
MAX_KEY_SPAN = ((1 << 63) - 1) // ((1 << Z_BITS) - 1)


def _normalize(c: Column, lo: Column, hi: Column, bits: int = Z_BITS) -> Column:
    """Scale a key into [0, 2^bits): ((v - lo) * (2^bits - 1)) div
    max(hi - lo, 1), computed with LONG integer division (`div`) — the
    numerator is always >= 0 here, so this is exactly DuckDB's `//`
    for any span the long multiply can hold. Spans beyond MAX_KEY_SPAN
    (~2^47 at 16 bits) would overflow the multiply, so the expression
    asserts loudly instead of producing oracle-divergent z-values
    (in-plan assert_true: no extra scan, no driver action)."""
    span = F.greatest(hi - lo, F.lit(1)).cast("long")
    num = (c.cast("long") - lo.cast("long")) * F.lit((1 << bits) - 1)
    guard = F.assert_true(
        span <= F.lit(MAX_KEY_SPAN),
        F.lit(f"zorder key span exceeds MAX_KEY_SPAN={MAX_KEY_SPAN}; "
              "z-value multiply would overflow long"),
    )
    return F.coalesce(guard.cast("long"), F.call_function("div", num, span))


def interleave_bits(a: Column, b: Column, bits: int = Z_BITS) -> Column:
    """Morton-interleave two `bits`-wide non-negative ints: bit i of
    `a` lands at position 2i, bit i of `b` at 2i+1. Unrolled as a sum
    of masked shifts — a pure integer column expression (stays in
    WholeStageCodegen, replays exactly in any SQL engine)."""
    terms = []
    for i in range(bits):
        bit_a = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        terms.append(bit_a * F.lit(1 << (2 * i)) + bit_b * F.lit(1 << (2 * i + 1)))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def with_zvalue(
    df: DataFrame, col_a: str, col_b: str, bits: int = Z_BITS
) -> DataFrame:
    """Attach `zvalue`: both keys min-max normalized into [0, 2^bits)
    using GLOBAL bounds computed in one tiny aggregate (broadcast —
    2 longs, never data-sized), then Morton-interleaved. Normalizing
    first keeps the curve square even when the raw key ranges differ
    by orders of magnitude (custkey vs epoch-day)."""
    bounds = df.agg(
        F.min(F.col(col_a).cast("long")).alias("a_lo"),
        F.max(F.col(col_a).cast("long")).alias("a_hi"),
        F.min(F.col(col_b).cast("long")).alias("b_lo"),
        F.max(F.col(col_b).cast("long")).alias("b_hi"),
    )
    j = df.join(F.broadcast(bounds))
    na = _normalize(F.col(col_a), F.col("a_lo"), F.col("a_hi"), bits)
    nb = _normalize(F.col(col_b), F.col("b_lo"), F.col("b_hi"), bits)
    return j.withColumn("zvalue", interleave_bits(na, nb, bits)).drop(
        "a_lo", "a_hi", "b_lo", "b_hi"
    )
