"""Canonical text of result rows; the mirror of graftbench.Canon (Scala).

Numbers of any type round to 9 significant digits, fields join with
``|``, rows with newlines, and the digest is SHA-256 of that text.
"""
import datetime
import decimal
import hashlib
import math

_CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)


def _num(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(_CTX), "f")


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return _num(decimal.Decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return _num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _num(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    return str(v)


def digest(rows, ordered):
    lines = ["|".join(value(x) for x in r) for r in rows]
    if not ordered:
        lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def csv_text(columns, rows):
    """The single CSV file StoreQueryResults writes for these rows: a
    header, comma-separated plain values, newline-terminated lines."""
    def cell(v):
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)
    lines = [",".join(columns)] + [",".join(cell(x) for x in r) for r in rows]
    return "\n".join(lines) + "\n"


def text_sha256(text):
    return hashlib.sha256(text.encode()).hexdigest()
