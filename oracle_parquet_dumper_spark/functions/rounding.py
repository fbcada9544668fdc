"""The numeric-portability policy: each Spark ``Column`` builder next
to its DuckDB SQL-text twin, plus ``round6`` for Python kernels.

Every number a query returns must be bit-identical between Spark and
DuckDB, and operators and oracle strings get that only from these
helpers (tests/test_registry_hygiene.py fails on a raw copy elsewhere):

- ``dec_sum``/``dec_avg``: sum exact DECIMAL(25,6) terms (``dec6``),
  not doubles, whose sum depends on the order of the rows.
- ``to_double``: decimal -> double with ONE correct rounding.  Spark's
  cast is ``BigDecimal.doubleValue``, so the builder is a plain cast.
  DuckDB's direct cast divides the integer payload by 10^scale in
  floating point, two roundings that go 1 ulp off past 2^53, so the
  twin hops through a correctly rounded ``VARCHAR(64)`` parse, a
  spelling ``spark.sql()`` also accepts.  On 50,000 random values per
  type (digit count uniform; Spark 4.1, DuckDB 1.0) DuckDB's direct
  cast misses on 409 DECIMAL(38,0), 4,653 DECIMAL(25,6) and no
  DECIMAL(18,0) values; Spark's cast equals its string hop on all.
- ``dec_money``/``dec_rate``/``dec_one_minus``/``dec_one_plus``:
  capture 2-decimal columns exactly before multiplying.  A double
  product cast per row to DECIMAL(25,6) is not portable: Spark rounds
  the shortest decimal repr, DuckDB the binary value.
- ``cents``/``cents_py``: a 2-decimal amount as integer cents, ROUNDED
  to nearest: ``x * 100`` of a 2-decimal double lands within an ulp of
  the integer on either side (0.29 * 100 = 28.999999999999996), so a
  floor is one cent low on ~5% of fixture amounts.  The products are
  never near a half, where Spark (HALF_UP on the shortest repr) and
  DuckDB (half away from zero on the binary value) could differ; the
  Python replica rounds like Spark.
- ``int128``/``exact_sum``/``exact_dot``/``comoment``: the exact
  integer-moment rule.  Sums of integers (cents, counts, ranks) and of
  their products run in DECIMAL(38,0), cast BEFORE summing: Spark's
  ANSI ``SUM(BIGINT)`` raises past 2^63 where DuckDB's widens to
  HUGEINT, so a sum-then-cast is not portable.  The numerator
  ``n*Sxy - Sx*Sy`` (``comoment``; the variance numerator when y = x)
  stays exact and enters the double world through ONE ``to_double``.
  NULL terms are skipped; an empty input sums to NULL.  DuckDB spells
  the type DECIMAL(38,0) too, except where it needs ``//`` or ``<<``:
  those are defined on HUGEINT only (``//`` on a DECIMAL returns
  DOUBLE), hence ``hugeint_sql``.
- ``round6``: Python replica of ``round(x, 6)``, HALF_UP on the
  shortest repr in Spark and half-away-from-zero in DuckDB, where
  Python's banker's ``round`` differs (the tie 221/128 = 1.7265625).
  Shipped to workers by value (kernels close over it).
"""

from __future__ import annotations

import sys as _sys
from decimal import ROUND_HALF_UP, Decimal

from pyspark import cloudpickle as _cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Replica of Spark ``F.round(double, 6)`` / DuckDB ``round(x, 6)``."""
    return float(Decimal(repr(float(x))).quantize(_Q6, ROUND_HALF_UP))


def cents_py(x: float) -> int:
    """Python replica of ``cents``: HALF_UP on the shortest repr of the
    double ``x * 100``, as Spark's ``round``."""
    return int(Decimal(repr(float(x) * 100)).quantize(Decimal(1), ROUND_HALF_UP))


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def to_double(c: Column | str) -> Column:
    """Correctly rounded decimal (or integer) -> DOUBLE."""
    return _col(c).cast("double")


def to_double_sql(e: str) -> str:
    """DuckDB twin of ``to_double``."""
    return f"CAST(CAST({e} AS VARCHAR(64)) AS DOUBLE)"


def dec6(c: Column | str) -> Column:
    """DECIMAL(25,6) capture of one summand of an exact sum."""
    return _col(c).cast("decimal(25,6)")


def dec6_sql(e: str) -> str:
    """DuckDB twin of ``dec6``."""
    return f"CAST({e} AS DECIMAL(25,6))"


def dec_sum(c: Column | str) -> Column:
    """Order-independent SUM: exact decimal sum, then one rounding."""
    return to_double(F.sum(dec6(c)))


def dec_sum_sql(e: str) -> str:
    """DuckDB twin of ``dec_sum``."""
    return to_double_sql(f"SUM({dec6_sql(e)})")


def dec_avg(c: Column | str) -> Column:
    """Order-independent AVG: ``dec_sum`` divided by the non-null count."""
    c = _col(c)
    return dec_sum(c) / F.count(c)


def dec_avg_sql(e: str) -> str:
    """DuckDB twin of ``dec_avg``."""
    return f"{dec_sum_sql(e)} / COUNT({e})"


def dec_money(c: Column | str) -> Column:
    """Exact DECIMAL(12,2) capture of a 2-decimal money column."""
    return _col(c).cast("decimal(12,2)")


def dec_money_sql(e: str) -> str:
    """DuckDB twin of ``dec_money``."""
    return f"CAST({e} AS DECIMAL(12,2))"


def dec_rate(c: Column | str) -> Column:
    """Exact DECIMAL(3,2) capture of a 2-decimal rate in [0, 1]."""
    return _col(c).cast("decimal(3,2)")


def dec_rate_sql(e: str) -> str:
    """DuckDB twin of ``dec_rate``."""
    return f"CAST({e} AS DECIMAL(3,2))"


def dec_one_minus(c: Column | str) -> Column:
    """(1 - rate) as an exact small decimal."""
    return F.lit(1) - dec_rate(c)


def dec_one_minus_sql(e: str) -> str:
    """DuckDB twin of ``dec_one_minus``, parenthesised."""
    return f"(1 - {dec_rate_sql(e)})"


def dec_one_plus(c: Column | str) -> Column:
    """(1 + rate) as an exact small decimal."""
    return F.lit(1) + dec_rate(c)


def dec_one_plus_sql(e: str) -> str:
    """DuckDB twin of ``dec_one_plus``, parenthesised."""
    return f"(1 + {dec_rate_sql(e)})"


def int128(c: Column | str) -> Column:
    """Exact 128-bit integer: DECIMAL(38,0), overflow raises."""
    return _col(c).cast("decimal(38,0)")


def int128_sql(e: str) -> str:
    """SQL twin of ``int128``, in DuckDB and Spark SQL alike."""
    return f"CAST({e} AS DECIMAL(38,0))"


def hugeint_sql(e: str) -> str:
    """DuckDB twin of ``int128`` for integer ``//`` and ``<<``, which
    DuckDB defines on HUGEINT but not on DECIMAL(38,0)."""
    return f"CAST({e} AS HUGEINT)"


def exact_dot(c: Column | str, *factors: Column | str) -> Column:
    """Exact SUM of ``c * f1 * f2 ...``: ``c`` widened first, so every
    product and the sum stay in DECIMAL(38,0)."""
    term = int128(c)
    for f in factors:
        term = term * _col(f)
    return F.sum(term)


def exact_dot_sql(e: str, *factors: str) -> str:
    """DuckDB twin of ``exact_dot``."""
    return f"SUM({' * '.join([int128_sql(e), *factors])})"


def exact_sum(c: Column | str) -> Column:
    """Exact integer SUM in DECIMAL(38,0), cast before summing."""
    return exact_dot(c)


def exact_sum_sql(e: str) -> str:
    """DuckDB twin of ``exact_sum``."""
    return exact_dot_sql(e)


def comoment(n: Column | str, sxy: Column | str, sx: Column | str, sy: Column | str | None = None) -> Column:
    """Exact co-moment numerator ``n*Sxy - Sx*Sy`` from exact sums (the
    variance numerator ``n*Sxx - Sx^2`` when ``sy`` is omitted)."""
    sx = _col(sx)
    return int128(n) * _col(sxy) - sx * (sx if sy is None else _col(sy))


def comoment_sql(n: str, sxy: str, sx: str, sy: str | None = None) -> str:
    """DuckDB twin of ``comoment``, parenthesised."""
    return f"({int128_sql(n)} * {sxy} - {sx} * {sx if sy is None else sy})"


def cents(c: Column | str) -> Column:
    """BIGINT ``round(x * 100)``: a 2-decimal amount in integer cents."""
    return F.round(_col(c) * 100).cast("long")


def cents_sql(e: str) -> str:
    """DuckDB twin of ``cents``."""
    return f"CAST(round({e} * 100) AS BIGINT)"
