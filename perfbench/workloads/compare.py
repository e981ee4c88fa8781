"""Result comparison shared by the checkers."""

from __future__ import annotations

from collections import Counter
from decimal import Decimal

FLOAT_DIGITS = 4


def norm_value(v):
    """Numbers compare by value with floats rounded (sums of 2-decimal
    money columns differ between engines only in the last bits)."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return round(float(v), FLOAT_DIGITS) + 0.0
    return v


def norm_row(row) -> tuple:
    return tuple(norm_value(v) for v in row)


def rows_equal(got, want, ordered: bool = False) -> str:
    """'' when equal, else a short description of the first difference."""
    if got is None:
        return "no result"
    g = [norm_row(r) for r in got]
    w = [norm_row(r) for r in want]
    if ordered:
        if g != w:
            return f"ordered rows differ: got {g[:5]} want {w[:5]} ({len(g)} vs {len(w)} rows)"
        return ""
    cg, cw = Counter(g), Counter(w)
    if cg != cw:
        missing = list((cw - cg).elements())[:3]
        extra = list((cg - cw).elements())[:3]
        return f"rows differ: missing {missing} extra {extra} ({len(g)} vs {len(w)} rows)"
    return ""
