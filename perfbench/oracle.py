"""Order-insensitive row canonicalization for comparing a query key's Spark
output with its DuckDB oracle: columns sorted by name, floats by ``repr``,
decimals as floats, timestamps as naive ISO strings, lists element-wise."""

from __future__ import annotations

import datetime
import math
from decimal import Decimal


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows_canon(rows, colnames) -> list[tuple]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)
