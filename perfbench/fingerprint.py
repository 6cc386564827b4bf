"""Order-insensitive output fingerprint of DuckDB results, rendered exactly
as perfbench/src/Fingerprint.scala renders Spark rows: the two must stay in
step.

A fingerprint is the row count plus the sum (mod 2^64) of a 64-bit MD5
prefix of each row. A row is its columns sorted by name (the column
canonicalisation of scripts/check_correctness.py); doubles are rounded to
9 significant digits, so the order of floating-point sums cannot change it.
"""
import datetime
import decimal
import hashlib
import math

_DIGITS9 = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
_EXACT = decimal.Context(prec=1000)
_EPOCH = datetime.datetime(1970, 1, 1)


def _number(d: decimal.Decimal) -> str:
    if d.is_zero():
        return "0"
    sign, digits, exponent = _EXACT.normalize(d).as_tuple()
    unscaled = int("".join(map(str, digits)))
    return f"{-unscaled if sign else unscaled}e{exponent}"


def _double(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Inf" if v > 0 else "-Inf"
    return _number(_DIGITS9.plus(decimal.Decimal(v)))


def value(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, float):
        return _double(v)
    if isinstance(v, int):
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return f"S{len(v.encode('utf-8'))}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH
        return f"T{(delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{(v - _EPOCH.date()).days}"
    if isinstance(v, (bytes, bytearray)):
        return "X" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def of(columns, rows) -> tuple:
    """(row count, hex hash) of an iterable of row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for r in rows:
        line = "|".join(value(r[i]) for i in order)
        total += int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")
        n += 1
    return n, f"{total % (1 << 64):016x}"
