"""Exact (order-independent) numeric aggregation helpers.

Spark executes aggregates as parallel partial aggregations whose
combine order is nondeterministic; IEEE-754 double addition is not
associative, so ``SUM(double)`` can differ run-to-run and engine-to-
engine in the last bits. The driver hash-compares values against a
single-threaded DuckDB oracle, and at 100 TB the partial-agg tree is
thousands deep — so judged aggregates must be order-independent.

Two fixes, both ending in ONE deterministic conversion to DOUBLE that
the oracle SQL mirrors exactly:

- scaled-long fast path (cents/lsum_money below — the default since
  round 7 for money/fixed-precision columns): snap to integer cents,
  multiply and sum as 64-bit integers. Fast (no per-row BigDecimal)
  but bounded — see the exactness-bound comment below.
- DECIMAL path (dsum/dmul): cast to DECIMAL before aggregating
  (decimal addition is exact and associative). Exact at any magnitude
  — source doubles here carry ≤2 fractional decimal digits, so
  DECIMAL(28,4) loses nothing and leaves ~24 integer digits of
  headroom, enough for a 100 TB sum of 1e6-scale values — the
  fallback once a workload outgrows the long bound.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM over a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast("decimal(28,4)")).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Deterministic AVG: exact decimal sum, then one double division."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast("decimal(28,4)")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def dmul(a: Column, b: Column) -> Column:
    """Exact product of two ≤2-decimal doubles via decimal multiply.

    decimal(28,4) × decimal(28,4) would overflow precision 38 under
    Spark's result-type rule, so multiply at decimal(18,4): plenty for
    per-row values (≤1e14), exact for the 2-decimal inputs.
    """
    return (a.cast("decimal(18,4)") * b.cast("decimal(18,4)")).cast("decimal(28,8)")


# SQL fragments for oracle parity -------------------------------------------

def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,4))) AS DOUBLE)"


def sql_dmul(a: str, b: str) -> str:
    return (
        f"CAST(CAST({a} AS DECIMAL(18,4)) * CAST({b} AS DECIMAL(18,4))"
        f" AS DECIMAL(28,8))"
    )


# -- scaled-long fast path ---------------------------------------------------
#
# The decimal path above is exact at ANY magnitude, but Spark executes
# decimal×decimal with per-row java.math.BigDecimal (no compact-long
# multiply fast path) and CheckOverflow — measured 2.7s vs 1.9s vs 1.1s
# for decimal-product-sum vs scaled-long vs raw-double on the sf0.1
# lineitem agg. Money columns in this schema carry ≤2 fractional
# decimal digits, so the same exact arithmetic runs on LONGs: snap each
# factor to integer cents (round(x*100) — exact: x is the double
# nearest d/100 for integer d, so x*100 differs from d by at most a
# few ulps — relative 2^-53, i.e. up to ~1e-3 ABSOLUTE near 1e13 —
# always far below the 0.5 that round() needs), multiply and sum as
# 64-bit
# integers (exact, associative, order-independent), and convert ONCE at
# the end: CAST(sum AS DOUBLE) is correctly rounded in both engines
# (DuckDB sums BIGINT into HUGEINT, so its oracle twin routes through
# VARCHAR→strtod, also correctly rounded), then one identical double
# division by the scale.
#
# Exactness bound, stated loudly: the long SUM itself is exact while
# |sum| < 2^63 — at 1e5-scale prices times two percent factors
# (scaled 1e6 → ≤ ~4e12/row) that is ~2e6-row groups at worst-case
# values and ~5e7 rows at the actual data's magnitudes; the final
# double is correctly rounded (not exact) once |sum| > 2^53, which
# both engines round identically. Beyond ~1e7-row groups, use the
# decimal path (dsum/dmul) — that is what it is for. The judged
# queries' groups sit orders of magnitude inside the bound at every
# driver SF and at the x10 scale-probe replicas.

MONEY_SCALE = 100  # ≤2-decimal money/percentage columns

# Runtime overflow guard for the long-sum bound above. Spark's
# SUM(BIGINT) wraps silently in non-ANSI mode while the DuckDB oracle
# promotes to HUGEINT, so a group that outgrew the documented ~2^63
# bound would diverge QUIETLY — the one failure mode a documented
# bound can't catch. Every lsum_money/lavg_money therefore carries a
# per-group structural assert: count(x)·max(|x|) (a worst-case bound
# on |sum|) must stay below 2^62. The product is computed in DOUBLE —
# computing it in long could itself wrap past 2^63 and sneak back
# under the threshold; doubles don't wrap, and the 2× headroom between
# the 2^62 threshold and the 2^63 wrap point dwarfs double rounding
# error. COALESCE(..., true) keeps empty/all-NULL groups (max ⇒ NULL)
# from tripping assert_true's not-true-raises semantics. Value-neutral
# below the bound — the guard adds count/max agg buffers to the same
# exchange but never changes the sum — so oracle SQL twins carry no
# counterpart (DuckDB's HUGEINT needs none).

_LONG_SUM_BOUND = float(2**62)


def _overflow_guard(scaled: Column) -> Column:
    """NULL-typed in-plan assert: raises at execution time if a group's
    worst-case |sum| could reach 2^62; NULL (harmless) otherwise."""
    worst = F.count(scaled).cast("double") * F.max(F.abs(scaled)).cast("double")
    return F.assert_true(
        F.coalesce(worst < F.lit(_LONG_SUM_BOUND), F.lit(True)),
        F.lit(
            "scaled-long sum overflow guard: group count*max|x| >= 2^62;"
            " route this aggregate through the decimal path (dsum/dmul)"
        ),
    )


def cents(col: Column | str, scale: int = MONEY_SCALE) -> Column:
    """A ≤2-decimal double as an exact scaled long (integer cents)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).cast("long")


def lsum_scaled(scaled: Column, alias: str | None = None) -> Column:
    """Guarded long SUM of a scaled expression, kept AS A LONG — for
    partial aggregates that a later merge will sum again (e.g. the
    shared-drain spool). The final conversion to double happens once,
    in the merge's lsum_money."""
    out = F.when(_overflow_guard(scaled).isNull(), F.sum(scaled))
    return out.alias(alias) if alias else out


def lsum_money(scaled: Column, scale_pow: int, alias: str | None = None) -> Column:
    """Order-independent SUM of a scaled-long money expression,
    returned as double. ``scale_pow`` = number of 100-factors in the
    scaled expression (1 for cents, 2 for cents×percent, 3 for
    cents×percent×percent). Carries the per-group overflow guard
    (module comment above)."""
    total = F.when(_overflow_guard(scaled).isNull(), F.sum(scaled))
    out = total.cast("double") / F.lit(float(100**scale_pow))
    return out.alias(alias) if alias else out


def lavg_money(scaled: Column, scale_pow: int, alias: str | None = None) -> Column:
    """Deterministic AVG via the exact long sum and one double division
    chain (sum→double, /scale, /count — identical order in the SQL
    twin). Carries the per-group overflow guard (module comment
    above)."""
    total = F.when(_overflow_guard(scaled).isNull(), F.sum(scaled))
    out = (
        total.cast("double") / F.lit(float(100**scale_pow))
    ) / F.count(scaled)
    return out.alias(alias) if alias else out


def sql_cents(expr: str, scale: int = MONEY_SCALE) -> str:
    return f"CAST(round(({expr}) * {scale}) AS BIGINT)"


def sql_lsum_money(scaled: str, scale_pow: int) -> str:
    """DuckDB twin of lsum_money. SUM(BIGINT) yields HUGEINT there;
    the VARCHAR round-trip forces a correctly-rounded strtod conversion
    that matches Spark's long→double cast bit-for-bit."""
    return (
        f"CAST(CAST(SUM({scaled}) AS VARCHAR) AS DOUBLE) / {float(100 ** scale_pow)!r}"
    )


def sql_lavg_money(scaled: str, scale_pow: int) -> str:
    return f"({sql_lsum_money(scaled, scale_pow)}) / COUNT({scaled})"


def sql_dmul_wide(a: str, b: str) -> str:
    """DuckDB-side exact product for sum-of-squares-scale values.

    DuckDB executes DECIMAL(18,4)×DECIMAL(18,4) on int64 and overflows
    near 1e9×1e9; width 19 forces the hugeint path (result width 38).
    The value is the same exact decimal either way, so the Spark side
    can keep its narrower ``dmul`` representation.
    """
    return f"CAST({a} AS DECIMAL(19,4)) * CAST({b} AS DECIMAL(19,4))"


def sql_dsum_prod(a: str, b: str) -> str:
    """Order-independent SUM of exact products, as a correctly-rounded
    DOUBLE.

    Sum-of-squares-scale decimals exceed 2^53 in scaled-integer form;
    DuckDB's direct decimal→double cast converts the integer first and
    divides by 10^scale (two roundings), which can land 1 ulp away from
    Spark's correctly-rounded BigDecimal conversion. The VARCHAR
    round-trip forces strtod — correctly rounded, so both engines agree
    bit-for-bit.
    """
    return f"CAST(CAST(SUM({sql_dmul_wide(a, b)}) AS VARCHAR) AS DOUBLE)"
