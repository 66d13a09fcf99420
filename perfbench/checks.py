"""Order-insensitive result fingerprints.

Rows are normalised the way the engine's DuckDB cross-check compares
them (columns in name order, floats at 9 significant digits, NULL and
NaN spelled out), sorted, and hashed.  The same function fingerprints a
Spark result and a DuckDB result, so a pinned value can be checked
against both engines.
"""

from __future__ import annotations

import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{(v if v != 0 else 0.0):.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def fingerprint(columns: list[str], rows) -> str:
    """``rows``-count and sha1 of the normalised, sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(
        "\x01".join(_cell(_plain(r[i])) for i in order) for r in rows
    )
    digest = hashlib.sha1("\x02".join(lines).encode()).hexdigest()[:16]
    return f"{len(lines)}:{digest}"


def _plain(v):
    """Spark Rows (structs) to plain dicts, recursively."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def spark_fingerprint(df) -> str:
    return fingerprint(df.columns, df.collect())
