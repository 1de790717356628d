"""Result comparison for the benchmark's correctness checks.

Rows are canonicalized the way tools/check_oracle.py does it: columns in
name order, rows compared as an unordered multiset, values type-strict (an
integer 6 and a float 6.0 differ).  Unlike check_oracle, which hashes and
needs bit-identical floats, two floats here are equal when they agree to a
relative 1e-9 or differ by one unit in the last decimal that either printed
value carries: summation order differs between Spark and DuckDB, and a
ROUND(x, 2) of two sums a few ulps apart can land one cent apart.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _canon(v):
    if v is None:
        return ("null", "")
    if isinstance(v, bool):
        return ("int", int(v))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, (float, Decimal)):
        v = float(v)
        return ("float", "NaN" if math.isnan(v) else v)
    if isinstance(v, datetime):
        return ("ts", v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, date):
        return ("date", v.isoformat())
    return ("str", str(v))


def _last_digit(x: float) -> float:
    text = repr(x)
    if "e" in text or "." not in text:
        return 0.0
    return 10.0 ** -len(text.split(".")[1])


def _floats_agree(a: float, b: float) -> bool:
    if a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
        return True
    return abs(a - b) <= 1.0001 * max(_last_digit(a), _last_digit(b))


def _sort_key(row):
    # floats sort by a short rounding so ulp-level differences cannot
    # reorder otherwise identical rows
    return tuple((t, round(v, 6) if t == "float" and v != "NaN" else v)
                 for t, v in row)


def canonical(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(row[i]) for i in order) for row in rows]
    return sorted(out, key=lambda r: repr(_sort_key(r)))


def diff(label: str, got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when the two results agree, else a one-line explanation."""
    if sorted(got_cols) != sorted(want_cols):
        return f"{label}: columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{label}: {len(got_rows)} rows, expected {len(want_rows)}"
    got = canonical(list(got_cols), got_rows)
    want = canonical(list(want_cols), want_rows)
    for g, w in zip(got, want):
        for (gt, gv), (wt, wv) in zip(g, w):
            if gt != wt:
                return f"{label}: type {gt} != {wt} in {g} vs {w}"
            if gt == "float" and "NaN" not in (gv, wv):
                if not _floats_agree(gv, wv):
                    return f"{label}: {g} != {w}"
            elif gv != wv:
                return f"{label}: {g} != {w}"
    return None
