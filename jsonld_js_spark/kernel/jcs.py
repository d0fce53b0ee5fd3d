"""JSON Canonicalization Scheme (RFC 8785) serializer.

Needed for rdf:JSON literals (`@type: @json` values; parity:
/root/reference/lib/toRdf.js:294-296 which delegates to the
`canonicalize` npm package). Fresh implementation from the RFC:

- object members sorted by UTF-16 code units of the key
- no insignificant whitespace
- strings escaped per JSON with the two-char escapes for
  \b \t \n \f \r \" \\ and \\u00XX for other control chars
- numbers in ECMAScript `Number::toString` shortest-round-trip form
"""

from __future__ import annotations

import math


class NonFiniteNumberError(ValueError):
    """NaN or +-Infinity in a value to canonicalize: RFC 8785 has no
    form for them, and the reference's ``canonicalize`` throws too."""


_ESCAPES = {
    "\b": "\\b",
    "\t": "\\t",
    "\n": "\\n",
    "\f": "\\f",
    "\r": "\\r",
    '"': '\\"',
    "\\": "\\\\",
}


def _esc_string(s: str) -> str:
    out = ['"']
    for ch in s:
        e = _ESCAPES.get(ch)
        if e is not None:
            out.append(e)
        elif ord(ch) < 0x20:
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    out.append('"')
    return "".join(out)


def _fmt_number(v) -> str:
    """ECMAScript Number::toString for finite doubles (RFC 8785 §3.2.2.3).

    Uses Python's shortest-round-trip repr for the digits, then applies
    the ECMAScript decimal-vs-exponential placement rule."""
    if isinstance(v, int) and not isinstance(v, bool):
        if abs(v) < (1 << 53):
            return str(v)
        try:
            v = float(v)
        except OverflowError:
            # JS Number conversion of an over-range integer is
            # ±Infinity, which the next line refuses exactly like the
            # reference's canonicalize does (verified live) — it must
            # not surface as a bare OverflowError. (r6 fuzz find)
            raise NonFiniteNumberError("NaN/Infinity not allowed in JCS") from None
    if math.isnan(v) or math.isinf(v):
        raise NonFiniteNumberError("NaN/Infinity not allowed in JCS")
    if v == 0:
        return "0"
    r = repr(v)
    neg = r.startswith("-")
    if neg:
        r = r[1:]
    if "e" in r:
        mant, exp = r.split("e")
        e = int(exp)
    else:
        mant, e = r, 0
    int_part, _, frac = mant.partition(".")
    digits = (int_part + frac).lstrip("0")
    lead_zeros = len(int_part + frac) - len(digits)
    # decimal-point position relative to the digit string
    point = e + len(int_part) - lead_zeros
    digits = digits.rstrip("0") or "0"
    sign = "-" if neg else ""
    if -6 < point <= 21:
        if point <= 0:
            s = "0." + "0" * (-point) + digits
        elif point >= len(digits):
            s = digits + "0" * (point - len(digits))
        else:
            s = digits[:point] + "." + digits[point:]
        return sign + s
    k = point - 1
    m = digits if len(digits) == 1 else digits[0] + "." + digits[1:]
    return f"{sign}{m}e{'+' if k >= 0 else '-'}{abs(k)}"


def _sort_key(k: str) -> tuple:
    """UTF-16 code units of ``k`` as a tuple (RFC 8785 §3.2.3 member
    order). Always a tuple: an earlier ``x and y`` formulation returned
    a bare ``[]`` for the empty key, which is unorderable against the
    tuples of other keys — ``{"": 1, "a": 2}`` (a perfectly legal
    rdf:JSON value) raised TypeError inside sorted()."""
    enc = k.encode("utf-16-be")
    return tuple(int.from_bytes(enc[i:i + 2], "big")
                 for i in range(0, len(enc), 2))


def canonicalize(value) -> str:
    """Serialize ``value`` to its RFC 8785 canonical JSON string."""
    if value is None:
        return "null"
    if value is True:
        return "true"
    if value is False:
        return "false"
    if isinstance(value, str):
        return _esc_string(value)
    if isinstance(value, (int, float)):
        return _fmt_number(value)
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonicalize(v) for v in value) + "]"
    if isinstance(value, dict):
        items = sorted(value.items(), key=lambda kv: _sort_key(kv[0]))
        return "{" + ",".join(_esc_string(k) + ":" + canonicalize(v) for k, v in items) + "}"
    raise TypeError(f"not JSON-serializable: {type(value)}")
