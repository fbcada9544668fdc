"""Twin tests for the float-portability policy in functions/rounding.py:
each Spark builder against its DuckDB SQL twin, bit for bit, on NULL,
zero, negative values and the values where DuckDB's direct
decimal -> double cast is 1 ulp off the correctly rounded double."""

from __future__ import annotations

import pytest

from oracle_parquet_dumper_spark.functions import rounding as r

# Found with DuckDB 1.0: CAST(x AS DOUBLE) != CAST(CAST(x AS VARCHAR) AS DOUBLE).
# 31572867577.706145 is the running sum of the planted window test below.
PLANTED = {
    (38, 0): ["-9155038770175678", "9371741178401338", "-9637282220977562"],
    (25, 6): ["9899177538.463307", "9155486458.112117", "31572867577.706145"],
}
EDGES = [None, "0", "-1", "12.5"]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    return duckdb.connect()


def _spark_col(spark, values, expr):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i INT, v STRING")
    return [row[0] for row in df.orderBy("i").select(expr).collect()]


def _duck_col(duck, values, sql):
    rows = ", ".join(f"({i}, {'NULL' if v is None else repr(v)})" for i, v in enumerate(values))
    return [row[0] for row in duck.sql(f"SELECT {sql} FROM (VALUES {rows}) t(i, v) ORDER BY i").fetchall()]


def _double(x):
    """DuckDB literal of the Python float ``x`` (a bare 0.29 is a DECIMAL)."""
    return "NULL" if x is None else f"CAST({x!r} AS DOUBLE)"


def _bits(xs):
    return [None if x is None else repr(float(x)) for x in xs]


@pytest.mark.parametrize("p,s", sorted(PLANTED))
def test_to_double_twin(spark, duck, p, s):
    from pyspark.sql import functions as F

    values = EDGES + PLANTED[(p, s)] + [f"-{v}" for v in PLANTED[(p, s)] if not v.startswith("-")]
    dec = F.col("v").cast(f"decimal({p},{s})")
    spark_direct = _spark_col(spark, values, r.to_double(dec))
    # Spark's decimal -> double is BigDecimal.doubleValue, already
    # correctly rounded: the string hop the SQL twin needs changes nothing
    assert _spark_col(spark, values, dec.cast("string").cast("double")) == spark_direct
    sql = f"CAST(v AS DECIMAL({p},{s}))"
    assert _bits(_duck_col(duck, values, r.to_double_sql(sql))) == _bits(spark_direct)
    # the hop is load-bearing: DuckDB's direct cast misses on a planted value
    direct = _duck_col(duck, values, f"CAST({sql} AS DOUBLE)")
    assert _bits(direct) != _bits(spark_direct)


def test_dec_sum_and_avg_twin(spark, duck):
    rows = [
        ("a", 27812821696.898396), ("a", 3760045880.807749),
        ("b", None), ("b", 0.0), ("b", -0.1), ("b", -2.25),
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    got = df.groupBy("g").agg(r.dec_sum("x").alias("s"), r.dec_avg("x").alias("m")).orderBy("g").collect()
    vals = ", ".join(f"('{g}', {_double(x)})" for g, x in rows)
    want = duck.sql(
        f"SELECT g, {r.dec_sum_sql('x')} AS s, {r.dec_avg_sql('x')} AS m "
        f"FROM (VALUES {vals}) t(g, x) GROUP BY g ORDER BY g"
    ).fetchall()
    assert [(g, _bits([s]), _bits([m])) for g, s, m in got] == [
        (g, _bits([s]), _bits([m])) for g, s, m in want
    ]
    assert got[0]["s"] == 31572867577.706146  # the correctly rounded sum
    assert got[2]["s"] is None and got[2]["m"] is None


def test_money_and_rate_capture_twin(spark, duck):
    rows = [(0.29, 0.07, 0.02), (901.01, 0.1, 0.08), (-5.5, 0.0, 0.0), (None, 0.05, 0.01), (1e8 + 0.01, 0.09, 0.0)]
    df = spark.createDataFrame(rows, "p DOUBLE, d DOUBLE, t DOUBLE")
    charge = r.dec_money("p") * r.dec_one_minus("d") * r.dec_one_plus("t")
    got = df.select(
        r.to_double(charge).alias("charge"),
        r.to_double(r.dec_money("p") * r.dec_rate("d")).alias("disc"),
    ).collect()
    charge_sql = f"{r.dec_money_sql('p')} * {r.dec_one_minus_sql('d')} * {r.dec_one_plus_sql('t')}"
    disc_sql = f"{r.dec_money_sql('p')} * {r.dec_rate_sql('d')}"
    vals = ", ".join("(" + ", ".join(map(_double, row)) + ")" for row in rows)
    want = duck.sql(
        f"SELECT {r.to_double_sql(charge_sql)}, {r.to_double_sql(disc_sql)} "
        f"FROM (VALUES {vals}) t(p, d, t)"
    ).fetchall()
    assert [_bits(row) for row in got] == [_bits(row) for row in want]
    assert got[0]["charge"] == 0.275094  # 0.29 * 0.93 * 1.02, exact



# Exact integer moments: each builder against its DuckDB twin on a sum
# past 2^63 (BIGINT overflow), a co-moment past 2^53 (a double would
# round), NULL terms (skipped) and empty input (NULL in both engines).
BIG = 2**62 + 1
MOMENT_ROWS = {
    "past_2^63": [(BIG, 3), (BIG, 5), (BIG + 2, -7)],
    "past_2^53": [(123456789, 987654321), (-98765431, 12345679), (555555557, -314159265)],
    "nulls": [(None, 4), (6, None), (None, None), (10, -3), (-7, 2)],
    "empty": [],
}


def _moment_twins(spark, duck, rows, spark_expr, sql):
    got = spark.createDataFrame(rows, "x BIGINT, y BIGINT").agg(spark_expr.alias("m")).first()[0]
    vals = ", ".join(
        "(" + ", ".join("NULL" if v is None else f"CAST({v} AS BIGINT)" for v in row) + ")"
        for row in rows or [(None, None)]
    )
    want = duck.sql(
        f"SELECT {sql} FROM (VALUES {vals}) t(x, y){'' if rows else ' WHERE false'}"
    ).fetchall()[0][0]
    return got, want


def _exact(rows, f):
    terms = [f(x, y) for x, y in rows if x is not None and y is not None]
    return sum(terms) if terms else None


@pytest.mark.parametrize("case", sorted(MOMENT_ROWS))
def test_exact_sum_twin(spark, duck, case):
    from pyspark.sql import functions as F

    rows = MOMENT_ROWS[case]
    got, want = _moment_twins(spark, duck, rows, r.exact_sum("x"), r.exact_sum_sql("x"))
    xs = [x for x, _ in rows if x is not None]
    assert got == want == (sum(xs) if xs else None)
    if case == "past_2^63":
        # why the cast comes first: Spark's ANSI SUM(BIGINT) overflows
        # where DuckDB's widens to HUGEINT
        with pytest.raises(Exception, match="(?i)overflow"):
            spark.createDataFrame(rows, "x BIGINT, y BIGINT").agg(F.sum("x").cast("decimal(38,0)")).collect()
        assert _moment_twins(spark, duck, rows, r.exact_sum("x"), "CAST(SUM(x) AS DECIMAL(38,0))")[1] == sum(xs)


@pytest.mark.parametrize("case", sorted(MOMENT_ROWS))
def test_exact_dot_twin(spark, duck, case):
    rows = MOMENT_ROWS[case]
    got, want = _moment_twins(spark, duck, rows, r.exact_dot("x", "y", "y"), r.exact_dot_sql("x", "y", "y"))
    assert got == want == _exact(rows, lambda x, y: x * y * y)


@pytest.mark.parametrize("case", sorted(MOMENT_ROWS))
def test_comoment_twin(spark, duck, case):
    from pyspark.sql import functions as F

    rows = MOMENT_ROWS[case]
    got, want = _moment_twins(
        spark, duck, rows,
        r.to_double(r.comoment(F.count("x"), r.exact_dot("x", "y"), r.exact_sum("x"), r.exact_sum("y"))),
        r.to_double_sql(r.comoment_sql("COUNT(x)", r.exact_dot_sql("x", "y"), r.exact_sum_sql("x"), r.exact_sum_sql("y"))),
    )
    assert _bits([got]) == _bits([want])
    if case == "empty":
        assert got is None
        return
    xs, ys = [x for x, _ in rows if x is not None], [y for _, y in rows if y is not None]
    exact = len(xs) * _exact(rows, lambda x, y: x * y) - sum(xs) * sum(ys)
    assert got == float(exact)  # one correct rounding of the exact numerator
    if case == "past_2^53":
        assert abs(exact) > 2**53 and float(exact) != exact

def test_cents_twin(spark, duck):
    from pyspark.sql import functions as F

    values = [None, 0.0, 0.29, -0.29, 12.5, 1234567.89, -0.01]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i INT, x DOUBLE")
    got = [row[0] for row in df.orderBy("i").select(r.cents("x")).collect()]
    vals = ", ".join(f"({i}, {_double(v)})" for i, v in enumerate(values))
    want = [row[0] for row in duck.sql(
        f"SELECT {r.cents_sql('x')} FROM (VALUES {vals}) t(i, x) ORDER BY i"
    ).fetchall()]
    assert got == want == [None if v is None else r.cents_py(v) for v in values]
    assert df.select(r.cents(F.lit(12.5))).first()[0] == 1250


def test_cents_rounds_to_nearest(spark):
    from pyspark.sql import functions as F

    assert spark.range(1).select(r.cents(F.lit(0.29))).first()[0] == 29


def test_window_sums_match_oracle_past_16_digits(spark, tmp_path):
    """Two purchases whose running sum, 31572867577.706145, is one of the
    values DuckDB's direct decimal -> double cast rounds 1 ulp low: the
    window oracles must take the VARCHAR hop to match Spark."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from oracle_parquet_dumper_spark.plans import REGISTRY
    from oracle_parquet_dumper_spark.testing import compare

    t0 = dt.datetime(2024, 1, 1)
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([t0, t0 + dt.timedelta(minutes=1)], pa.timestamp("us")),
        "user_id": pa.array([7, 7], pa.int64()),
        "event_type": pa.array(["purchase", "purchase"]),
        "value": pa.array([27812821696.898396, 3760045880.807749], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    })
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    for name in ("window_running_sum", "window_moving_avg"):
        spec = REGISTRY[name]
        rep = compare(name, spec.fn(spark, str(tmp_path)), con, spec.oracle)
        assert rep.match, rep.detail
