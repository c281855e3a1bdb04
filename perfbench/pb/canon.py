"""Order-insensitive content hash of a query result, for results that come
from DuckDB. Mirrors perfbench.Canon (the engine side) exactly: numbers are
rounded to 12 significant digits, each row is its values in column-name
order, and the table hash is the sum mod 2^64 of the rows' MD5 prefixes.
"""
import datetime
import decimal
import hashlib
import math

_CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def number(d):
    """Canonical text of a finite decimal.Decimal."""
    if d.is_zero():
        return "0"
    r = _CTX.plus(d).normalize(_CTX)
    sign, digits, exp = r.as_tuple()
    unscaled = ("-" if sign else "") + "".join(map(str, digits))
    if exp >= 0 and len(digits) + exp <= 15:
        return unscaled + "0" * exp
    return "%se%d" % (unscaled, exp)


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return number(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(value(k) + ":" + value(x) for k, x in v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def table_hash(columns, rows):
    """(row count, hash) of `rows` (sequences) whose columns are named
    `columns`."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for row in rows:
        line = "\x1f".join(value(row[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
    return len(rows), "%x" % (total % (1 << 64))
