"""The float-portability policy: each Spark ``Column`` builder next to
its DuckDB SQL-text twin, plus ``round6`` for Python kernels.

Every float a query returns must be bit-identical between Spark and
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
- ``cents``: integer cents for the exact integer-moment queries.
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


def cents(c: Column | str) -> Column:
    """BIGINT ``floor(x * 100)``: a 2-decimal amount in integer cents.

    Ruling: this truncates, one cent low whenever ``x * 100`` lands just
    below an integer (0.29 * 100 = 28.999999999999996).  At sf0.01 floor
    differs from round on 3,341 of 60,000 ``l_extendedprice``, 708 of
    15,000 ``o_totalprice``, 593 of 10,000 ``events.value`` and 13 of
    100 ``s_acctbal`` values.  Both engines truncate alike, so no hash
    shows it (strict xfail in tests/test_rounding.py); rounding instead
    changes every cents query and ``stateful.math_floor_cents``."""
    return F.floor(_col(c) * 100).cast("long")


def cents_sql(e: str) -> str:
    """DuckDB twin of ``cents``."""
    return f"CAST(floor({e} * 100) AS BIGINT)"
