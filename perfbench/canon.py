"""Order-insensitive value hash of a query result.

Canonicalized as the repo's oracle gate does (tools/check_oracles.py):
columns sorted by name, each value a type-tagged string (ints `:i`, floats
`%.9g:f`, NULL, NaN), rows sorted.  The hash of the sorted rows is what the
benchmark records per query and compares on every run.
"""

from __future__ import annotations

import decimal
import hashlib
import math


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN:f" if math.isnan(v) else f"{v:.9g}:f"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return f"{v}:i"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(rows, cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("|".join(sorted(cols)).encode())
    for r in canon:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()
