"""Deterministic (oracle-exact) statistical aggregates.

Reference statistics family:
/root/reference/src/AggregateFunctions/ (varSamp/varPop/stddev/covar/
corr, registerAggregateFunctions.cpp:154-160) and
AggregateFunctionStatisticsSimple.h — all accumulate floating moments,
whose value depends on summation order in a parallel engine.

Here each moment (Σx, Σx², Σxy, ...) is accumulated EXACTLY: the
per-row double product is IEEE-deterministic, the cast to decimal is
deterministic, and the decimal sum is order-independent. The final
formula is then evaluated in double — the same few IEEE ops on the
same inputs in any engine — so Spark and DuckDB agree bitwise.
The matching DuckDB SQL spellings are the *_sql functions.

Scale caveat: a double→decimal cast is only cross-engine-exact when
the rounding boundary is far above the double's ULP (Spark rounds the
shortest decimal repr, DuckDB the exact binary expansion). A product
like price² ≈ 5e9 has ULP ≈ 1e-6, so casting the double PRODUCT at
scale 6 is ambiguous at ULP level and the engines disagree. Therefore
second moments cast each INPUT to DECIMAL(18,4) first (inputs ≈1e5,
ULP ≈ 1e-11 « 1e-4 boundary → unambiguous) and multiply in decimal:
decimal(18,4)² = decimal(37,8) is exact in both engines, as is its
sum. First moments use DECIMAL(25,6) directly on the input.

Cost at scale: each moment is one extra decimal sum in the same
partial/final hash aggregation — no extra shuffle, no extra pass.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(25,6)"
_DEC_IN = "decimal(18,4)"


def _c(x) -> Column:
    return F.col(x) if isinstance(x, str) else x


def _s(col: Column) -> Column:
    """Exact sum of a double expression via decimal accumulation."""
    return F.sum(col.cast(_DEC)).cast("double")


def _sp(a: Column, b: Column) -> Column:
    """Exact sum of a product: decimal-cast inputs, decimal multiply."""
    return F.sum(a.cast(_DEC_IN) * b.cast(_DEC_IN)).cast("double")


def _n(col: Column) -> Column:
    return F.count(col).cast("double")


def dvar_samp(col: Column | str, alias: str | None = None) -> Column:
    x = _c(col)
    n, sx, sxx = _n(x), _s(x), _sp(x, x)
    out = (sxx - sx * sx / n) / (n - F.lit(1.0))
    return out.alias(alias) if alias else out


def dvar_pop(col: Column | str, alias: str | None = None) -> Column:
    x = _c(col)
    n, sx, sxx = _n(x), _s(x), _sp(x, x)
    out = (sxx - sx * sx / n) / n
    return out.alias(alias) if alias else out


def dstddev_samp(col: Column | str, alias: str | None = None) -> Column:
    out = F.sqrt(dvar_samp(col))
    return out.alias(alias) if alias else out


def dcovar_samp(a: Column | str, b: Column | str, alias: str | None = None) -> Column:
    x, y = _c(a), _c(b)
    n = _n(x)
    out = (_sp(x, y) - _s(x) * _s(y) / n) / (n - F.lit(1.0))
    return out.alias(alias) if alias else out


# NOTE on formula shape: every subtraction below consumes a division
# result, never a bare product (a - b/c, not a*b - c*d). DuckDB is
# built with FP contraction, so a*b - c*d may compile to an FMA and
# round differently than the JVM; division-first forms are not
# contractible, keeping both engines bitwise-identical.


def dcorr(a: Column | str, b: Column | str, alias: str | None = None) -> Column:
    x, y = _c(a), _c(b)
    n, sx, sy = _n(x), _s(x), _s(y)
    sxx, syy, sxy = _sp(x, x), _sp(y, y), _sp(x, y)
    out = (sxy - sx * sy / n) / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n))
    return out.alias(alias) if alias else out


def dlinreg_slope(x: Column | str, y: Column | str, alias: str | None = None) -> Column:
    """simpleLinearRegression slope (reference
    AggregateFunctionSimpleLinearRegression.cpp)."""
    xc, yc = _c(x), _c(y)
    n, sx, sy = _n(xc), _s(xc), _s(yc)
    out = (_sp(xc, yc) - sx * sy / n) / (_sp(xc, xc) - sx * sx / n)
    return out.alias(alias) if alias else out


# ---- DuckDB spellings (identical formulas & evaluation order) ------------


def _s_sql(expr: str) -> str:
    # Decimal->double via VARCHAR: DuckDB's direct cast divides the int128
    # payload by 10^scale in double (occasionally 1 ulp off the correctly-
    # rounded value the JVM produces); VARCHAR->DOUBLE is exact-digit strtod.
    return f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS STRING) AS DOUBLE)"


def _sp_sql(x: str, y: str) -> str:
    # DECIMAL(19,4): int128-backed in DuckDB (int64 DECIMAL(18) multiply
    # overflows); the Spark side uses decimal(18,4) — both are exact, so
    # the resulting doubles are identical.
    return (
        f"CAST(CAST(SUM(CAST(({x}) AS DECIMAL(19,4)) * CAST(({y}) AS DECIMAL(19,4)))"
        f" AS STRING) AS DOUBLE)"
    )


def _n_sql(expr: str) -> str:
    return f"CAST(COUNT({expr}) AS DOUBLE)"


def dvar_samp_sql(x: str, alias: str) -> str:
    n, sx, sxx = _n_sql(x), _s_sql(x), _sp_sql(x, x)
    return f"({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0) AS {alias}"


def dvar_pop_sql(x: str, alias: str) -> str:
    n, sx, sxx = _n_sql(x), _s_sql(x), _sp_sql(x, x)
    return f"({sxx} - {sx} * {sx} / {n}) / {n} AS {alias}"


def dstddev_samp_sql(x: str, alias: str) -> str:
    n, sx, sxx = _n_sql(x), _s_sql(x), _sp_sql(x, x)
    return f"sqrt(({sxx} - {sx} * {sx} / {n}) / ({n} - 1.0)) AS {alias}"


def dcovar_samp_sql(x: str, y: str, alias: str) -> str:
    n = _n_sql(x)
    return f"({_sp_sql(x, y)} - {_s_sql(x)} * {_s_sql(y)} / {n}) / ({n} - 1.0) AS {alias}"


def dcorr_sql(x: str, y: str, alias: str) -> str:
    # division-first form: see the FP-contraction note above dcorr()
    n, sx, sy = _n_sql(x), _s_sql(x), _s_sql(y)
    sxx, syy, sxy = _sp_sql(x, x), _sp_sql(y, y), _sp_sql(x, y)
    return (
        f"({sxy} - {sx} * {sy} / {n})"
        f" / (sqrt({sxx} - {sx} * {sx} / {n}) * sqrt({syy} - {sy} * {sy} / {n})) AS {alias}"
    )


def dlinreg_slope_sql(x: str, y: str, alias: str) -> str:
    n, sx, sy = _n_sql(x), _s_sql(x), _s_sql(y)
    return (
        f"({_sp_sql(x, y)} - {sx} * {sy} / {n})"
        f" / ({_sp_sql(x, x)} - {sx} * {sx} / {n}) AS {alias}"
    )
