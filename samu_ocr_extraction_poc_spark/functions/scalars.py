"""Scalar helpers: JS-parity parsing/formatting.

Python reimplementations of the reference's scalar functions (SURVEY.md §2.7)
with exact JS semantics where the reference depends on them.
"""

from __future__ import annotations

import re

_FLOAT_RE = re.compile(r"^[+-]?(?:Infinity|\d+\.?\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?)")


def sanitize_expense_value(value: str) -> str:
    """Strip ``$`` and ``,`` then trim — reference lib/utils.ts:4-6."""
    return re.sub(r"[$,]", "", value).strip()


def js_parse_float(s: str | None) -> float | None:
    """JS ``parseFloat``: leading-prefix parse, NaN -> None.

    Reference parseDocumentValue (stack.ExpenseSaver.ts:47-57) wraps
    parseFloat and maps NaN to undefined; we map to None.
    """
    if s is None:
        return None
    m = _FLOAT_RE.match(s.strip())
    if not m:
        return None
    tok = m.group(0)
    if tok.endswith("Infinity"):
        return float("-inf") if tok.startswith("-") else float("inf")
    return float(tok)


def to_fixed_2(x: float) -> str:
    """JS ``Number.prototype.toFixed(2)`` — 2-decimal string, no thousands
    separators (stack.ExpenseSaver.ts:213-228).

    ECMA-262 Number::toFixed semantics, not Python ``f"{x:.2f}"``: the spec
    takes the absolute value, picks the integer n minimizing |n/100 - x| and
    on an exact binary tie picks the LARGER n (round-half-up on the
    magnitude), then prefixes "-" iff x < 0. Python's format rounds
    half-to-even on ties: 0.125 -> "0.12" vs JS "0.13". The tie branch uses
    the exact binary value of the double (Decimal(x) is exact), so all
    non-tie doubles format identically to before."""
    import decimal
    import math

    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "-Infinity" if x < 0 else "Infinity"
    if abs(x) >= 1e21:
        # ECMA-262 step: if |x| >= 10^21, toFixed returns ToString(x) —
        # JS exponential form, which Python's repr matches ('1e+21',
        # '1.5e+21') for doubles in this range
        return repr(x)
    sign = "-" if x < 0 else ""  # strictly < 0: (-0.0).toFixed(2) is "0.00"
    with decimal.localcontext() as ctx:
        ctx.prec = 1100  # a double's exact decimal expansion always fits
        mag = decimal.Decimal(abs(x)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
    return sign + str(mag)


def parse_document_value(raw: str | None) -> float | None:
    """parseFloat(sanitize(raw)); NaN/empty -> None (ExpenseSaver.ts:47-57)."""
    if not raw:
        return None
    return js_parse_float(sanitize_expense_value(raw))

