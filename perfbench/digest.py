"""Order- and type-insensitive digest of a query result.

The canonical form is that of tools/oracle_check.py: columns sorted by
name, floats rounded to 6 places, rows sorted. Values that compare equal
there (1 and 1.0, -0.0 and 0.0, Decimal and float) render to one string
here, so a digest of Spark's parquet output equals the digest of the
DuckDB oracle's result exactly when the oracle check would pass.
"""
import datetime
import decimal
import hashlib
import math


def canon(v):
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f) or math.isinf(f):
            return repr(f)
        f = round(f, 6) + 0.0
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def of_relation(rel):
    """Digest of an executed DuckDB relation."""
    return digest([d[0] for d in rel.description], rel.fetchall())
