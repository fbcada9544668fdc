"""Vector math over ArrayType(FloatType) columns — pure JVM-side column
expressions (zip_with / aggregate / transform), no Python UDFs, so they
run inside codegen and scale with the executors.

Convention: accumulate in DOUBLE (cast each element before multiply) —
float32 accumulation drifts and cannot be reproduced bit-for-bit by other
engines; the DuckDB oracles cast to DOUBLE[] for the same reason.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in double precision."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def as_double(a: Column | str) -> Column:
    """Cast a float vector to array<double> ONCE per row.  Higher-order
    folds are interpreted, so per-element casts inside a pairwise dot run
    per PAIR — hoist the cast to the row level before any join."""
    ca = F.col(a) if isinstance(a, str) else a
    return ca.cast("array<double>")


def dot_d(a: Column | str, b: Column | str) -> Column:
    """Dot product over pre-cast array<double> columns (no per-element
    cast in the fold)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# Rounded cosines compare across engines: the double fold is
# deterministic per engine but the two engines may differ in the last
# ulp; 6 digits is far beyond any ranking need.
COSINE_DIGITS = 6


def cosine_rounded(a: Column | str, b: Column | str) -> Column:
    """Cosine rounded to ``COSINE_DIGITS`` for cross-engine comparison."""
    return F.round(cosine(a, b), COSINE_DIGITS)


def cosine_prenormed(a, b, norm_a, norm_b) -> Column:
    """Cosine from a per-pair dot and per-ROW precomputed norms.  Array
    folds are interpreted (higher-order functions don't codegen), so in
    pairwise joins compute each side's norm once before the join — this
    form does 1 cast-free fold per pair instead of 3 casting folds.
    ``a``/``b`` must already be array<double> (see ``as_double``)."""
    na = F.col(norm_a) if isinstance(norm_a, str) else norm_a
    nb = F.col(norm_b) if isinstance(norm_b, str) else norm_b
    return F.round(dot_d(a, b) / (na * nb), COSINE_DIGITS)


def absmax(a: Column | str) -> Column:
    """Per-row max |x| over an array<double> column, floored at 1e-12 so
    zero vectors quantize to zeros instead of NaN.  Hoist to a row-level
    column before ``quantize_int8`` — inlining it into the transform
    lambda would re-fold the array once per element."""
    ca = F.col(a) if isinstance(a, str) else a
    return F.greatest(
        F.aggregate(ca, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v))),
        F.lit(1e-12),
    )


def quantize_int8(vec_d: Column | str, amax: Column | str) -> Column:
    """Symmetric per-vector int8 quantization: q_i = round(x_i*127/amax)
    in [-127, 127].  Cosine is scale-invariant, so quantized cosine needs
    no dequantization — integer dot and integer norms only, all exact in
    double, hence bit-identical across engines (the fp-portability
    convention this module exists for)."""
    cv = F.col(vec_d) if isinstance(vec_d, str) else vec_d
    ca = F.col(amax) if isinstance(amax, str) else amax
    return F.transform(cv, lambda x: F.round(x * 127.0 / ca).cast("int"))


# Matching DuckDB SQL fragments (kept adjacent so they evolve together).
def dot_sql(a: str, b: str) -> str:
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def quantize_int8_sql(vec_expr: str) -> str:
    """DuckDB twin of ``absmax`` + ``quantize_int8`` (same expression
    tree: (x*127.0)/amax, round half-away-from-zero in both engines)."""
    amax = f"greatest(list_max(list_transform({vec_expr}, y -> abs(y))), 1e-12)"
    return f"list_transform({vec_expr}, x -> CAST(round(x * 127.0 / {amax}) AS INT))"


def cosine_rounded_sql(a: str, b: str) -> str:
    return (
        f"round(list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
        f"(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
        f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))), {COSINE_DIGITS})"
    )
