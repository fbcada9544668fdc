"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's check (row-count + schema + order-insensitive value
hash): columns sorted by name, rows sorted, values compared *exactly* —
floats must be bit-identical, which the float-portability policy in
``functions/rounding.py`` guarantees for aggregates.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal


def _norm_cell(v):
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (np.floating,)):
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_cell(x)) for k, x in v.items()))
    return v


def normalize_frame(pdf) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, normalize cells, sort rows by repr key."""
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


def _cells_equal(a, b) -> bool:
    """Strict: values must agree AND be the same representation category
    (int vs float vs bool vs datetime) — a bigint on one side and a
    double on the other hash differently in the driver even when
    numerically equal."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return type(a) is type(b) and a == b and str(a) == str(b)
    if isinstance(a, (datetime, date)) and isinstance(b, (datetime, date)):
        return type(a) is type(b) and a == b
    return type(a) is type(b) and a == b


@dataclass
class DiffReport:
    name: str
    match: bool
    detail: str = ""
    max_rel_err: float = 0.0
    mismatches: list = field(default_factory=list)


def compare(name: str, spark_df, duck_con, oracle: str) -> DiffReport:
    spdf = spark_df.toPandas()
    dkdf = duck_con.sql(oracle).df()

    s_cols, s_rows = normalize_frame(spdf)
    d_cols, d_rows = normalize_frame(dkdf)

    if s_cols != d_cols:
        return DiffReport(name, False, f"column mismatch: spark={s_cols} duck={d_cols}")
    if len(s_rows) != len(d_rows):
        return DiffReport(name, False, f"row count: spark={len(s_rows)} duck={len(d_rows)}")

    rep = DiffReport(name, True)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for c, (sv, dv) in enumerate(zip(sr, dr)):
            if not _cells_equal(sv, dv):
                rep.match = False
                if len(rep.mismatches) < 5:
                    rep.mismatches.append((i, s_cols[c], sv, dv))
                if isinstance(sv, float) and isinstance(dv, float) and dv:
                    rep.max_rel_err = max(rep.max_rel_err, abs(sv - dv) / max(abs(dv), 1e-300))
    if not rep.match and not rep.detail:
        rep.detail = f"value mismatches (first {len(rep.mismatches)}): {rep.mismatches}; max_rel_err={rep.max_rel_err:.3e}"
    return rep
