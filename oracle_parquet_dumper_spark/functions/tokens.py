"""Word tokens, k-gram shingles and md5-prefix ids — the engine's one
tokenize-and-hash policy, each Spark ``Column`` builder next to its
DuckDB SQL-text twin.

Every text, dedup, cleaning and sampling query is checked bit for bit
against a DuckDB oracle, which holds only while both engines tokenize
and hash text the same way.  Operators and oracle strings therefore
build these three primitives here and nowhere else
(tests/test_registry_hygiene.py fails on a raw copy elsewhere in the
package):

- ``words``: split on one space, drop empty strings, lower-case unless
  ``lower=False``.  NULL text gives NULL; ``''`` and all-space text
  give ``[]``.
- ``shingles``: word ``SHINGLE_K``-grams joined with ``\\x1f`` (it
  cannot occur inside a space-split token, so 'ab'+'c' != 'a'+'bc'); a
  token list shorter than ``SHINGLE_K`` gives one whole-text shingle.
- ``md5_long``: hex digits ``start .. start+width-1`` of the md5 digest
  parsed as a BIGINT (``width`` <= 15, so the value stays below 2^60).

Ruling on case mapping: Spark's ``lower`` is Java's full Unicode case
mapping and DuckDB's is utf8proc's simple mapping, so the two differ on
a few non-ASCII letters ('İ' -> 'i' + U+0307 vs 'i'; a word-final 'Σ'
-> 'ς' vs 'σ'); every fixture document is ASCII, so no registered
query's hash is affected (both cases are pinned in tests/test_tokens.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SHINGLE_K = 3
SHINGLE_SEP = "\x1f"


def words(text: str | Column = "text", lower: bool = True) -> Column:
    """Array of the whitespace word tokens of ``text``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c) if lower else c, " "), lambda t: F.length(t) > 0)


def words_sql(text: str = "text", lower: bool = True) -> str:
    """DuckDB twin of ``words`` over the SQL expression ``text``."""
    s = f"lower({text})" if lower else text
    return f"list_filter(string_split({s}, ' '), t -> length(t) > 0)"


def shingles(toks: str | Column) -> Column:
    """Array of the word shingles of the token array ``toks``."""
    t = F.col(toks) if isinstance(toks, str) else toks
    n, k = F.size(t), SHINGLE_K
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(SHINGLE_SEP, *[F.element_at(t, i + j) for j in range(k)]),
    )
    return F.when(n >= k, grams).otherwise(F.array(F.concat_ws(SHINGLE_SEP, t)))


def shingles_sql(toks: str) -> str:
    """DuckDB twin of ``shingles`` over the SQL list expression ``toks``."""
    k = SHINGLE_K
    gram = ", ".join(f"{toks}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({toks}) >= {k} "
        f"THEN list_transform(generate_series(1, len({toks}) - {k - 1}), "
        f"i -> concat_ws(chr(31), {gram})) "
        f"ELSE [coalesce(array_to_string({toks}, chr(31)), '')] END"
    )


def md5_long(x: Column, start: int = 1, width: int = 15) -> Column:
    """BIGINT of the md5 hex digits ``start .. start+width-1`` of the string ``x``."""
    return F.conv(F.substring(F.md5(x.cast("binary")), start, width), 16, 10).cast("long")


def md5_long_sql(x: str, start: int = 1, width: int = 15) -> str:
    """DuckDB twin of ``md5_long`` over the SQL string expression ``x``."""
    return f"CAST(('0x' || substring(md5({x}), {start}, {width})) AS BIGINT)"
