"""Order-insensitive exact comparison of a Spark result with DuckDB's.

Columns are matched by name; floats are compared by bit pattern, as the
engine is built for bit-exact parity with the DuckDB oracle.  This
mirrors ``tests/oracle.py`` on purpose: the benchmark's correctness gate
must not change when the test helpers do.
"""

from __future__ import annotations

import datetime
import math
import struct
from decimal import Decimal


def _canon(v):
    if v is None:
        return ("n",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (float, Decimal)):
        v = float(v)
        return ("f", "nan") if math.isnan(v) else ("f", struct.pack("<d", v).hex())
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def _normalize(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def same_rows(cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]) -> str | None:
    """None when equal, else a one-line description of the difference."""
    if sorted(cols) != sorted(o_cols):
        return f"columns {sorted(cols)} != oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"{len(rows)} rows != oracle {len(o_rows)}"
    a, b = _normalize(cols, rows), _normalize(o_cols, o_rows)
    if a != b:
        first = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {first}: {a[first]} != oracle {b[first]}"
    return None
