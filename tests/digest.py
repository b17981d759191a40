"""Content digests of warehouse tables for behaviour-pinning tests.

``table_digest(cat, name)`` hashes a table's columns and its rows,
sorted, so it is independent of file and partition order.  Doubles are
rounded to 12 decimals (a reordered floating-point sum may move the
last bits) and array elements are sorted (``collect_set`` order is not
part of any table's contract); struct fields keep their order.
``exact_rows(cat, name)`` is the strict form for equality checks
between two warehouses.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Row


def _norm(v):
    if isinstance(v, float):
        return round(v, 12)
    if isinstance(v, Row):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_norm(x) for x in v), key=repr))
    if isinstance(v, dict):
        return tuple(sorted(((_norm(k), _norm(x)) for k, x in v.items()), key=repr))
    return v


def table_rows(df) -> list[str]:
    """Normalized rows of ``df`` as sorted reprs."""
    cols = df.columns
    return sorted(repr(tuple(_norm(r[c]) for c in cols)) for r in df.collect())


def exact_rows(cat, name: str) -> list[str]:
    """Rows of table ``name`` as sorted reprs of every value as
    collected (no float rounding, no array sorting), in sorted
    column-name order: two tables compare equal only when they hold the
    same rows value for value, whatever their column order."""
    df = cat.read(name)
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())


def table_digest(cat, name: str) -> str:
    """sha256 over the column names and the sorted normalized rows."""
    df = cat.read(name)
    h = hashlib.sha256(",".join(df.columns).encode())
    for line in table_rows(df):
        h.update(b"\n" + line.encode())
    return h.hexdigest()
