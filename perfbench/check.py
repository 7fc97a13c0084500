"""Result canonicalisation shared by the correctness checks.

Both engines hand back Arrow tables. A row is rendered as a string of
canonical values with columns in name order, so two tables are equal
when their sorted row strings are. This mirrors the repo's contract
check (values compared by ``repr`` after type normalisation), read from
Arrow on both sides so no pandas dtype coercion sits in between.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def canon_value(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (dt.date, dt.time, dt.timedelta)):
        return str(v)
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_value(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return repr(v)


def canon_rows(table) -> list[str]:
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return sorted("(" + ",".join(canon_value(x) for x in row) + ")" for row in zip(*data))


def digest(table) -> dict:
    rows = canon_rows(table)
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def rows_close(a: list[tuple], b: list[tuple], rel: float = 1e-9) -> bool:
    """Row lists equal up to float rounding (sums of doubles depend on
    the order an engine adds them in). Rows are compared after sorting
    by their canonical strings with floats rounded to 6 significant
    digits, then value by value with ``rel`` tolerance."""

    def key(row):
        return tuple(f"{x:.6g}" if isinstance(x, float) else canon_value(x) for x in row)

    if len(a) != len(b):
        return False
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif canon_value(x) != canon_value(y):
                return False
    return True
