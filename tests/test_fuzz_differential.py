"""Property-based differential fuzzing: hypothesis generates random
filter + aggregation queries; the same query text runs through Spark SQL
and DuckDB and must agree exactly.  This probes the expression-semantics
space (comparison/null/arith corner cases) far beyond the hand-written
query inventory.

Uses the decimal-sum convention for the measure so float totals are
order-independent; predicates compare doubles/ints/strings only in ways
both engines define identically.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from oracle_parquet_dumper_spark.functions.rounding import dec6_sql, dec_sum_sql, to_double_sql
from oracle_parquet_dumper_spark.testing import compare

SMOKE_DIR = "/root/testdata/sf0.001"

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
INT_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
STR_COLS = ["l_returnflag", "l_linestatus"]
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_suppkey"]


@st.composite
def predicates(draw) -> str:
    def leaf():
        kind = draw(st.sampled_from(["num", "int", "str", "between", "in"]))
        if kind == "num":
            c = draw(st.sampled_from(NUM_COLS))
            op = draw(st.sampled_from(["<", "<=", ">", ">=", "=", "!="]))
            v = round(draw(st.floats(0, 60, allow_nan=False, allow_infinity=False)), 2)
            return f"{c} {op} {v}"
        if kind == "int":
            c = draw(st.sampled_from(INT_COLS))
            m = draw(st.integers(2, 13))
            r = draw(st.integers(0, 5))
            return f"{c} % {m} = {r}"
        if kind == "str":
            c = draw(st.sampled_from(STR_COLS))
            v = draw(st.sampled_from(["A", "N", "R", "O", "F"]))
            op = draw(st.sampled_from(["=", "!="]))
            return f"{c} {op} '{v}'"
        if kind == "between":
            c = draw(st.sampled_from(NUM_COLS))
            lo = round(draw(st.floats(0, 30, allow_nan=False)), 2)
            hi = round(lo + draw(st.floats(0, 30, allow_nan=False)), 2)
            return f"{c} BETWEEN {lo} AND {hi}"
        c = draw(st.sampled_from(STR_COLS))
        vals = draw(st.lists(st.sampled_from(["A", "N", "R", "O", "F"]), min_size=1, max_size=3))
        inlist = ", ".join(f"'{v}'" for v in vals)
        return f"{c} IN ({inlist})"

    n = draw(st.integers(1, 3))
    parts = [leaf() for _ in range(n)]
    out = parts[0]
    for p in parts[1:]:
        conj = draw(st.sampled_from(["AND", "OR"]))
        neg = draw(st.booleans())
        out = f"({out}) {conj} {'NOT ' if neg else ''}({p})"
    return out


@st.composite
def fuzz_query(draw) -> str:
    pred = draw(predicates())
    g = draw(st.sampled_from(GROUP_COLS))
    measure = draw(st.sampled_from(NUM_COLS))
    return (
        f"SELECT {g}, COUNT(*) AS n, "
        f"{dec_sum_sql(measure)} AS total "
        f"FROM lineitem WHERE {pred} GROUP BY {g}"
    )


@pytest.fixture(scope="module")
def fuzz_env(spark):
    import duckdb

    from oracle_parquet_dumper_spark.sources.tables import load_table, table_path

    load_table(spark, SMOKE_DIR, "lineitem").createOrReplaceTempView("lineitem")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{table_path(SMOKE_DIR, 'lineitem')}')"
    )
    return spark, con


@settings(
    max_examples=15,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=fuzz_query())
def test_random_filter_agg_queries_agree(fuzz_env, sql):
    spark, con = fuzz_env
    rep = compare("fuzz", spark.sql(sql), con, sql)
    assert rep.match, f"{sql}\n{rep.detail}"


@st.composite
def fuzz_join_query(draw) -> str:
    jt = draw(st.sampled_from(["JOIN", "LEFT JOIN", "RIGHT JOIN", "FULL JOIN"]))
    pred = draw(predicates())
    g = draw(st.sampled_from(["o_orderstatus", "o_orderpriority"]))
    return (
        f"SELECT {g}, COUNT(*) AS n, COUNT(l_orderkey) AS n_items, "
        f"{dec_sum_sql('l_quantity')} AS total_qty "
        f"FROM orders {jt} (SELECT * FROM lineitem WHERE {pred}) li "
        f"ON o_orderkey = li.l_orderkey GROUP BY {g}"
    )


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=fuzz_join_query())
def test_random_join_queries_agree(fuzz_env2, sql):
    spark, con = fuzz_env2
    rep = compare("fuzz_join", spark.sql(sql), con, sql)
    assert rep.match, f"{sql}\n{rep.detail}"


@pytest.fixture(scope="module")
def fuzz_env2(spark):
    import duckdb

    from oracle_parquet_dumper_spark.sources.tables import load_table, table_path

    load_table(spark, SMOKE_DIR, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, SMOKE_DIR, "orders").createOrReplaceTempView("orders")
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(SMOKE_DIR, t)}')"
        )
    return spark, con


@st.composite
def fuzz_window_query(draw) -> str:
    part = draw(st.sampled_from(["l_returnflag", "l_suppkey % 5", "l_linestatus"]))
    fn = draw(
        st.sampled_from(
            [
                "ROW_NUMBER()",
                "RANK()",
                "DENSE_RANK()",
                "CAST(COUNT(*) OVER w AS BIGINT)",
                to_double_sql(f"SUM({dec6_sql('l_quantity')}) OVER w"),
                "LAG(l_quantity) OVER w",
                "LEAD(l_quantity, 2) OVER w",
            ]
        )
    )
    pred = draw(predicates())
    over = "OVER w" if "OVER w" in fn else "OVER w"
    expr = fn if "OVER" in fn else f"{fn} {over}"
    frame = (
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if ("SUM" in fn or "COUNT" in fn)
        else ""
    )
    # NB: (l_orderkey, l_linenumber) is NOT unique in the fixture; the
    # extra keys make any remaining ties exact duplicates, so outputs
    # are multiset-identical regardless of engine tie order.
    return (
        f"SELECT l_orderkey, l_linenumber, {expr} AS wval "
        f"FROM lineitem WHERE {pred} "
        f"WINDOW w AS (PARTITION BY {part} "
        f"ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity, l_partkey, l_suppkey{frame})"
    )


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=fuzz_window_query())
def test_random_window_queries_agree(fuzz_env, sql):
    spark, con = fuzz_env
    rep = compare("fuzz_window", spark.sql(sql), con, sql)
    assert rep.match, f"{sql}\n{rep.detail}"


@st.composite
def fuzz_scalar_query(draw) -> str:
    base = draw(st.sampled_from(["c_name", "c_mktsegment"]))
    wrappers = draw(
        st.lists(
            st.sampled_from(
                [
                    "lower({})",
                    "upper({})",
                    "reverse({})",
                    "substring({}, 2, 6)",
                    "trim({})",
                    "replace({}, 'A', 'z')",
                    "lpad({}, 12, '.')",
                ]
            ),
            min_size=1,
            max_size=3,
        )
    )
    expr = base
    for wrap in wrappers:
        expr = wrap.format(expr)
    return f"SELECT c_custkey, {expr} AS sval FROM customer WHERE c_custkey % 3 = 0"


@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=fuzz_scalar_query())
def test_random_scalar_queries_agree(fuzz_env3, sql):
    spark, con = fuzz_env3
    rep = compare("fuzz_scalar", spark.sql(sql), con, sql)
    assert rep.match, f"{sql}\n{rep.detail}"


@pytest.fixture(scope="module")
def fuzz_env3(spark):
    import duckdb

    from oracle_parquet_dumper_spark.sources.tables import load_table, table_path

    load_table(spark, SMOKE_DIR, "customer").createOrReplaceTempView("customer")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM read_parquet('{table_path(SMOKE_DIR, 'customer')}')"
    )
    return spark, con


@st.composite
def fuzz_setop_query(draw) -> str:
    """Set operations with bag (ALL) and set semantics over projections
    of the same relation under two random predicates."""
    p1, p2 = draw(predicates()), draw(predicates())
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]))
    g = draw(st.sampled_from(GROUP_COLS))
    return (
        f"SELECT {g} AS k, l_linenumber FROM lineitem WHERE {p1} "
        f"{op} "
        f"SELECT {g} AS k, l_linenumber FROM lineitem WHERE {p2}"
    )


@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(sql=fuzz_setop_query())
def test_random_setop_queries_agree(fuzz_env, sql):
    spark, con = fuzz_env
    rep = compare("fuzz_setop", spark.sql(sql), con, sql)
    assert rep.match, f"{sql}\n{rep.detail}"


def test_float_decimal_cast_tie_convention(fuzz_env):
    """Regression pin for a real cross-engine divergence: FLOAT->DECIMAL
    casts round 7-digit shortest-repr ties differently (Spark HALF_UP on
    the shortest repr, DuckDB HALF_EVEN), e.g. float -0.0701465.
    Promoting to DOUBLE first makes the tie unrepresentable and the two
    engines agree — the convention every embedding-column oracle in this
    repo relies on."""
    spark, con = fuzz_env
    from pyspark.sql import functions as F

    tie = -0.07014650106430054  # float32 -0.0701465 promoted to double
    df = spark.createDataFrame([(tie,)], "v float")
    spark_direct = df.select(F.col("v").cast("decimal(25,6)").cast("string")).first()[0]
    spark_via_double = df.select(
        F.col("v").cast("double").cast("decimal(25,6)").cast("string")
    ).first()[0]
    duck_direct = con.sql(
        f"SELECT CAST(CAST(CAST({tie} AS FLOAT) AS DECIMAL(25,6)) AS VARCHAR)"
    ).fetchone()[0]
    duck_via_double = con.sql(
        f"SELECT CAST(CAST(CAST(CAST({tie} AS FLOAT) AS DOUBLE) AS DECIMAL(25,6)) AS VARCHAR)"
    ).fetchone()[0]
    # the divergence this test documents:
    assert float(spark_direct) != float(duck_direct)
    # and the convention that fixes it:
    assert float(spark_via_double) == float(duck_via_double) == -0.070147
