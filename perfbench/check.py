"""Order-insensitive comparison of result rows from two engines."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")[:19]
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        return v.item()  # NumPy / pandas scalars
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")[:19]
    return v


def _key(row):
    return tuple(
        ("", round(v, 4)) if isinstance(v, float) and not math.isnan(v)
        else (type(v).__name__, str(v))
        for v in row
    )


def same_rows(got, want, rel_tol: float = 1e-9) -> str:
    """Return ``""`` when the two row sets hold the same values in any
    order (floats compared to ``rel_tol``), else a short description of
    the first difference."""
    got = sorted((tuple(_norm(v) for v in r) for r in got), key=_key)
    want = sorted((tuple(_norm(v) for v in r) for r in want), key=_key)
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for a, b in zip(got, want):
        if len(a) != len(b):
            return f"width {len(a)} != {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool) and not isinstance(y, bool):
                if not math.isclose(x, y, rel_tol=rel_tol, abs_tol=1e-6):
                    return f"{a} != {b}"
            elif str(x) != str(y):
                return f"{a} != {b}"
    return ""
