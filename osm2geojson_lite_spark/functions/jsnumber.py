"""JavaScript number semantics helpers.

The reference engine (tibetty/osm2geojson-lite) carries coordinates as raw
strings (XML path) or JS numbers (JSON path), builds hash keys with
``Array.join(',')`` (reference ``src/utils.ts:16``), and converts to float with
``parseFloat`` only at emission (``src/utils.ts:83-89``). These helpers
reproduce those semantics so the Spark engine's token-level equality and
emitted float values match the reference bit-for-bit.
"""

from __future__ import annotations

import math
import re
from json.encoder import encode_basestring as _quote

_PARSEFLOAT_RE = re.compile(r"^\s*([+-]?(?:Infinity|\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?))")


def parse_float_js(token) -> float:
    """``parseFloat`` semantics: longest numeric prefix, else NaN."""
    if token is None:
        return math.nan
    if isinstance(token, (int, float)):
        return float(token)
    m = _PARSEFLOAT_RE.match(token)
    if not m:
        return math.nan
    text = m.group(1)
    if text.endswith("Infinity"):
        return -math.inf if text.startswith("-") else math.inf
    return float(text)


def js_number(x: float) -> str:
    """ECMA-262 ``Number::toString(x)``, the text ``String(x)`` and
    ``JSON.stringify`` give a JS number.

    The digits are Python's shortest round-trip ``repr`` digits (the same
    shortest, closest choice the spec makes); only the layout differs: JS
    writes plain decimals for 1e-6 <= |x| < 1e21 and an unpadded exponent
    outside that range (``1e-7``, ``1e+21``), where ``repr`` switches at
    1e-4 and 1e16 and pads (``1e-07``, ``1e+16``).  ``-0`` is ``"0"``.
    """
    if 1e-4 <= abs(x) < 1e15:  # every real coordinate: repr's layout is JS's
        i = int(x)
        return str(i) if i == x else repr(x)
    if x != x:
        return "NaN"
    if x == 0:
        return "0"
    if x in (math.inf, -math.inf):
        return "Infinity" if x > 0 else "-Infinity"
    r = repr(x)
    sign = ""
    if r[0] == "-":
        sign, r = "-", r[1:]
    mant, _, exp = r.partition("e")
    whole, _, frac = mant.partition(".")
    digits = whole + frac
    s = digits.lstrip("0")
    # x = 0.s * 10**n, s without leading or trailing zeros (spec's s, k, n)
    n = len(whole) + int(exp or 0) - (len(digits) - len(s))
    s = s.rstrip("0")
    k = len(s)
    if k <= n <= 21:
        return sign + s + "0" * (n - k)
    if 0 < n <= 21:
        return sign + s[:n] + "." + s[n:]
    if -6 < n <= 0:
        return sign + "0." + "0" * -n + s
    e = n - 1
    return (sign + s[0] + ("." + s[1:] if k > 1 else "")
            + ("e+" if e > 0 else "e-") + str(abs(e)))


def json_number(x: float) -> str:
    """``JSON.stringify`` of a JS number: non-finite values become ``null``."""
    return js_number(x) if math.isfinite(x) else "null"


def js_str(value) -> str:
    """``String(value)`` for a JSON-path scalar: the coordinate/ref/id token,
    so that token equality matches JS number equality.  JS reads every
    number as a double, so an integer above 2**53 prints rounded
    (``1152921504606846977`` -> ``1152921504606847000``) and one beyond the
    double range as ``Infinity``.  Other values (objects, arrays) fall back
    to ``str``."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        if -(2**53) <= value <= 2**53:
            return str(value)
        try:
            return js_number(float(value))
        except OverflowError:
            return "Infinity" if value > 0 else "-Infinity"
    if isinstance(value, float):
        return js_number(value)
    return str(value)


def _dump(obj, out: list) -> None:
    if isinstance(obj, str):
        out.append(_quote(obj))
    elif obj is None:
        out.append("null")
    elif obj is True:
        out.append("true")
    elif obj is False:
        out.append("false")
    elif isinstance(obj, int):
        out.append(int.__repr__(obj))
    elif isinstance(obj, float):
        out.append(json_number(obj))
    elif isinstance(obj, dict):
        out.append("{")
        for i, (k, v) in enumerate(obj.items()):
            if i:
                out.append(",")
            out.append(_quote(k if isinstance(k, str) else canonical_json(k)))
            out.append(":")
            _dump(v, out)
        out.append("}")
    elif isinstance(obj, (list, tuple)):
        out.append("[")
        for i, v in enumerate(obj):
            if i:
                out.append(",")
            _dump(v, out)
        out.append("]")
    else:
        raise TypeError(f"{type(obj).__name__} is not JSON serializable")


def canonical_json(obj) -> str:
    """Serialize like ``JSON.stringify``: compact, insertion order, numbers
    through :func:`json_number` (reference fixtures show ``1`` not ``1.0``,
    ``0.00001`` not ``1e-05``), strings escaped as ``json.dumps`` with
    ``ensure_ascii=False`` does."""
    out: list = []
    _dump(obj, out)
    return "".join(out)
