"""Each builder in functions/tokens.py against its DuckDB SQL twin, on
the inputs no fixture holds: every fixture document is ASCII and
non-null, so the registry-wide oracle never compares the two engines on
NULL, empty or all-space text, runs of spaces, or non-ASCII letters."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from oracle_parquet_dumper_spark.functions.tokens import (
    md5_long,
    md5_long_sql,
    shingles,
    shingles_sql,
    words,
    words_sql,
)

EDGE = [None, "", "   ", "A  b ", "The Quick BROWN fox Jumps", "one two"]


def _both(spark, texts):
    """(Spark rows, DuckDB rows) of every primitive over ``texts``."""
    rows = list(enumerate(texts))
    spark_cols = [
        words(),
        words(lower=False),
        shingles(words()),
        md5_long(F.col("text")),
        md5_long(F.col("text"), 9, 8),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = [tuple(r) for r in df.select("i", *spark_cols).orderBy("i").collect()]
    sql_cols = [
        words_sql(),
        words_sql(lower=False),
        shingles_sql(words_sql()),
        md5_long_sql("text"),
        md5_long_sql("text", 9, 8),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = con.sql(f"SELECT i, {', '.join(sql_cols)} FROM d ORDER BY i").fetchall()
    return got, want


def test_twins_agree_on_edge_inputs(spark):
    got, want = _both(spark, EDGE)
    assert got == want
    null, empty, spaces, two, mixed, short = got
    assert null[1:] == (None, None, [""], None, None)
    assert empty[1] == spaces[1] == []
    assert two[1:3] == (["a", "b"], ["A", "b"])
    assert mixed[1] == ["the", "quick", "brown", "fox", "jumps"]
    assert mixed[3] == ["the\x1fquick\x1fbrown", "quick\x1fbrown\x1ffox", "brown\x1ffox\x1fjumps"]
    assert short[3] == ["one\x1ftwo"]  # shorter than k: one whole-text shingle
    assert 0 <= mixed[4] < 2**60 and 0 <= mixed[5] < 2**32


@pytest.mark.xfail(
    strict=True,
    reason="Spark lower() is Java's full case mapping, DuckDB's is utf8proc's simple mapping",
)
@pytest.mark.parametrize("text", ["İstanbul", "ΣΑΣ"])
def test_lower_diverges_on_non_ascii(spark, text):
    """Measured: Spark gives 'i̇stanbul' (i + U+0307) and 'σας' (final
    sigma), DuckDB 'istanbul' and 'σασ'.  No fixture has such text."""
    got, want = _both(spark, [text])
    assert got == want
