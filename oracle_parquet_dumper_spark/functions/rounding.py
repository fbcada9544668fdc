"""The engine rounding convention for Python kernels — ONE definition.

Spark's ``F.round(double, n)`` rounds HALF_UP on the shortest decimal
repr (BigDecimal.valueOf semantics); DuckDB rounds half-away-from-zero.
The two agree everywhere Python's built-in ``round`` (banker's on the
binary value) does not — e.g. the dyadic tie 221/128 = 1.7265625 — so
every Python kernel that must hash-match a SQL oracle routes through
these helpers.  This convention is load-bearing for the whole oracle
surface; keep exactly one copy.

Shipped to workers by value (kernels close over these functions)."""

from __future__ import annotations

import sys as _sys
from decimal import ROUND_HALF_UP, Decimal

from pyspark import cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])

_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Replica of Spark ``F.round(double, 6)`` / DuckDB ``round(x, 6)``."""
    return float(Decimal(repr(float(x))).quantize(_Q6, ROUND_HALF_UP))
