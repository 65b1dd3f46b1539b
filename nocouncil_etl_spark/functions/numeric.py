"""Order-independent numeric aggregation kernels.

Floating-point addition is not associative: Spark's partial+final aggregation
combines partition sums in a nondeterministic order, so ``round(sum(double),
2)`` can land on either side of a .005 boundary run-to-run (observed as the
``rollup_timeseries`` driver hash flake in round 1). The fix: quantize each
addend to DECIMAL before summing — decimal addition is exact, hence
order-independent — then round and cast back to DOUBLE for a stable,
oracle-comparable value. The DuckDB oracle applies the identical quantization
(``rsum_sql`` et al.) so both engines fold bit-identical sums.

At 100 TB this matters more, not less: more partitions → more combine orders →
more chances for a float sum to straddle a rounding boundary. Decimal sums are
still partial+final hash aggregates under whole-stage codegen (Spark's
Decimal(≤18+10 digits) arithmetic is long-backed), so the plan shape is
unchanged — only the accumulator type widens.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Quantization grid: 6 fractional digits, |x| < 1e12 per addend. Spark widens
# the sum accumulator to DECIMAL(28,6) automatically (no overflow until 1e22).
DEC = "decimal(18,6)"


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def exact_sum(col) -> Column:
    """sum(x) with each addend quantized to DECIMAL(18,6) — exact and
    order-independent. Returns the decimal sum (callers round + cast)."""
    return F.sum(_col(col).cast(DEC))


def rsum(col, digits: int = 2) -> Column:
    """round(sum(x), digits) with order-independent accumulation; DOUBLE out.
    SQL twin: rsum_sql."""
    return F.round(exact_sum(col), digits).cast("double")


def ravg(col, digits: int = 4) -> Column:
    """round(avg(x), digits) where the numerator is the exact decimal sum, so
    both engines divide identical doubles. count(x) matches avg's null
    semantics. SQL twin: ravg_sql."""
    c = _col(col)
    return F.round(exact_sum(c).cast("double") / F.count(c), digits)


def rstddev(col, digits: int = 4) -> Column:
    """round(stddev_samp(x), digits) from exact decimal moments
    (sum x, sum x², n): both engines evaluate the same closed form over
    identical exact sums, so the result is order-independent. SQL twin:
    rstddev_sql."""
    c = _col(col)
    n = F.count(c).cast("double")
    s1 = exact_sum(c).cast("double")
    s2 = F.sum((c * c).cast(DEC)).cast("double")
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return F.round(F.sqrt(var), digits)


# ---------------------------------------------------------------------------
# Portable md5 hashes: the same integer on both engines (DuckDB spells them
# CAST(('0x' || substring(md5(x), 1, n)) AS BIGINT)).
# ---------------------------------------------------------------------------


def hash60(col) -> Column:
    """60-bit uniform hash of a string column: the first 15 hex chars of
    its md5 as a non-negative BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def pct_bucket(col) -> Column:
    """Deterministic 0..99 bucket of a column (cast to string): the first
    8 hex chars of its md5, mod 100 — the sample/split membership key."""
    return (
        F.conv(F.substring(F.md5(_col(col).cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )


# ---------------------------------------------------------------------------
# Split-sum money kernel (flagship hot path).
#
# The decimal kernel above is exact but expensive to PLAN: Catalyst's decimal
# precision-promotion rules cost ~1.3 s of per-build analysis on a 7-aggregate
# query (measured: scripts/bench_money_grid.py — decimal(18,6) 1.97 s/build vs
# 0.66 s for double sums at sf0.1). For the hot flagship query we instead fold
# two primitive LONG accumulators per column:
#
#   s_int  = sum(floor(x))                      -- integer part
#   s_frac = sum(floor((x - floor(x))*1e6 + 0.5)) -- 6dp fraction, in 1e-6 units
#
# Long addition is exact and order-independent; for data on a ≤6dp grid the
# quantization is lossless, so the finished values equal the decimal kernel's.
# floor(v + 0.5) is pure IEEE arithmetic that Spark and DuckDB evaluate
# bit-identically (no engine-specific HALF_UP-on-string tie rules), so the
# oracle can never diverge. The finish recombines in integer space:
#
#   S = s_int + s_frac DIV 1e6 ; r = s_frac % 1e6
#   round(sum, 2) = (S*100 + (r + 5000) DIV 10000) / 100.0      -- all integer
#   round(avg, d) = floor((S + r/1e6)/n * 10^d + 0.5) / 10^d    -- same doubles
#                                                                  both engines
# Overflow headroom at 100 TB: s_int caps at ~9.2e18 / max|x|, s_frac at
# ~9.2e18 / 1e6 ≈ 9.2e12 rows-per-group — vs a single 6dp-units long
# accumulator that dies at sum ≈ 9.2e12 currency units (TPC-H Q1 group sums
# pass that near sf150). Contract: non-negative inputs on a ≤6dp grid
# (DIV truncates toward zero in Spark but floors in DuckDB — identical only
# for non-negative operands).
# ---------------------------------------------------------------------------

FRAC = 1_000_000  # 6dp fraction units


def money_parts(col, name: str) -> list[Column]:
    """The two LONG partial aggregates for one money column. Pair with
    money_sum_col / money_avg_col over aliases __{name}_i / __{name}_f."""
    c = _col(col)
    i = F.floor(c)
    return [
        F.sum(i.cast("long")).alias(f"__{name}_i"),
        F.sum(F.floor((c - i) * FRAC + F.lit(0.5)).cast("long")).alias(f"__{name}_f"),
    ]


def _money_S_r(name: str) -> tuple[str, str]:
    # integral `div` (not `/`, which is double division and imprecise past
    # 2^53) keeps the recombination exact at any accumulator magnitude
    return (
        f"(__{name}_i + (__{name}_f div {FRAC}))",
        f"(__{name}_f % {FRAC})",
    )


def money_sum_col(name: str, digits: int = 2) -> Column:
    """Finished round(sum(x), digits) from the split partials — integer
    arithmetic end-to-end, DOUBLE out. SQL twin: money_sum_sql."""
    S, r = _money_S_r(name)
    unit = 10 ** (6 - digits)
    # divisor cast: Spark SQL parses `100.0` as a DECIMAL literal (DuckDB
    # parses it as DOUBLE) — an explicit CAST keeps both engines in DOUBLE
    return F.expr(
        f"CAST({S} * {10**digits} + (({r} + {unit // 2}) div {unit}) AS DOUBLE)"
        f" / CAST({10**digits} AS DOUBLE)"
    )


def money_avg_col(name: str, n: str, digits: int = 4) -> Column:
    """Finished round(sum(x)/n, digits): exact components recombined with the
    identical double expression on both engines (`n` = SQL expr for the row
    count). SQL twin: money_avg_sql."""
    S, r = _money_S_r(name)
    return F.expr(
        f"floor((CAST({S} AS DOUBLE) + {r} / CAST({FRAC} AS DOUBLE)) / ({n})"
        f" * {10**digits} + CAST(0.5 AS DOUBLE))"
        f" / CAST({10**digits} AS DOUBLE)"
    )


def money_parts_sql(expr: str, name: str) -> str:
    """DuckDB twin of money_parts (inner-query select list fragment)."""
    return (
        f"CAST(sum(CAST(floor({expr}) AS BIGINT)) AS BIGINT) AS __{name}_i, "
        f"CAST(sum(CAST(floor((({expr}) - floor({expr})) * {FRAC} + 0.5) AS BIGINT)) AS BIGINT)"
        f" AS __{name}_f"
    )


def _money_S_r_sql(name: str) -> tuple[str, str]:
    return (
        f"(__{name}_i + __{name}_f // {FRAC})",
        f"(__{name}_f % {FRAC})",
    )


def money_sum_sql(name: str, digits: int = 2) -> str:
    """DuckDB twin of money_sum_col (outer-query fragment, unaliased)."""
    S, r = _money_S_r_sql(name)
    unit = 10 ** (6 - digits)
    return (
        f"CAST(({S} * {10**digits} + ({r} + {unit // 2}) // {unit}) AS DOUBLE)"
        f" / {10**digits}.0"
    )


def money_avg_sql(name: str, n_expr: str, digits: int = 4) -> str:
    """DuckDB twin of money_avg_col (outer-query fragment, unaliased)."""
    S, r = _money_S_r_sql(name)
    return (
        f"floor((CAST({S} AS DOUBLE) + {r} / {float(FRAC)}) / ({n_expr})"
        f" * {10**digits} + 0.5) / {10**digits}.0"
    )


def rsum_sql(expr: str, digits: int = 2) -> str:
    """DuckDB twin of rsum (same quantization grid)."""
    return f"CAST(round(sum(CAST(({expr}) AS DECIMAL(18,6))), {digits}) AS DOUBLE)"


def ravg_sql(expr: str, digits: int = 4) -> str:
    """DuckDB twin of ravg."""
    return (
        f"round(CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / count({expr}), {digits})"
    )


def rstddev_sql(expr: str, digits: int = 4) -> str:
    """DuckDB twin of rstddev (same moment formula over the same exact sums)."""
    n = f"CAST(count({expr}) AS DOUBLE)"
    s1 = f"CAST(sum(CAST(({expr}) AS DECIMAL(18,6))) AS DOUBLE)"
    s2 = f"CAST(sum(CAST((({expr}) * ({expr})) AS DECIMAL(18,6))) AS DOUBLE)"
    return f"round(sqrt((({s2}) - ({s1}) * ({s1}) / ({n})) / (({n}) - 1.0)), {digits})"
