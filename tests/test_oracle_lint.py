"""Oracle-authoring lint (r8 verdict item 5): the decimal-vs-double
literal class.

DuckDB parses ``1.0 - 0.9`` as exact DECIMAL arithmetic (= 0.1), while
Spark's ``F.lit(1.0) - F.lit(0.9)`` is IEEE double
(0.09999999999999998) — a 1-ulp split that round 8 proved can tip 6-dp
half-away rounding opposite ways on ~10% of inputs (rbo_eval). House
rule (QUERIES.md): any float constant that multiplies a cross-engine
value must be integer-scaled, or emitted from ONE python definition as
the SAME full-precision double literal on both sides, or be exactly
double-representable.

Two automated checks over every ``oracle_sql()`` string:

1. literal-OP-literal: wherever two decimal literals meet an
   arithmetic operator, DuckDB's DECIMAL result cast to double must
   equal the IEEE-double result Spark would compute. (``1.0 - 0.9``
   fails; ``1.0 - 0.5`` passes.)
2. inexact decimal literal scaling an integer aggregate: a decimal
   literal that is not exactly double-representable, multiplied
   directly against SUM/COUNT/COALESCE output, stays DECIMAL-exact in
   DuckDB but double in Spark. (Full-precision double reprs like
   0.017453292519943295 are fine: parsing their exact decimal back to
   nearest-double round-trips to the same double.)
"""

import re
from decimal import Decimal

import __spark_entry__ as entrymod

_LIT_OP_LIT = re.compile(
    r"(?<![\w.])(\d+\.\d+)\s*([*/+-])\s*(\d+\.\d+)(?![\w.])")
_LIT_TIMES_AGG = re.compile(
    r"(?<![\w.])(\d+\.\d+)\s*[*]\s*(?:SUM|COUNT|COALESCE)\s*\(",
    re.IGNORECASE)


def _double_exact(lit: str) -> bool:
    """True when DuckDB's exact DECIMAL value of the literal equals its
    IEEE-double parse — i.e. the literal means the same number on both
    engines no matter which type carries it."""
    return Decimal(lit) == Decimal(float(lit))


def _decimal_vs_double(a: str, op: str, b: str) -> bool:
    """True when DECIMAL-arithmetic-then-cast differs from double
    arithmetic for ``a op b`` — the exact split that broke rbo_eval."""
    da, db = Decimal(a), Decimal(b)
    fa, fb = float(a), float(b)
    if op == "+":
        dec, dbl = da + db, fa + fb
    elif op == "-":
        dec, dbl = da - db, fa - fb
    elif op == "*":
        dec, dbl = da * db, fa * fb
    else:
        if db == 0:
            return False
        dec, dbl = da / db, fa / fb
    return float(dec) != dbl


def test_no_decimal_vs_double_literal_arithmetic():
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        for m in _LIT_OP_LIT.finditer(sql):
            a, op, b = m.groups()
            if _decimal_vs_double(a, op, b):
                offenders.append(f"{name}: `{m.group(0)}` — DECIMAL "
                                 f"result != double result")
    assert not offenders, (
        "decimal-literal arithmetic diverges from Spark doubles "
        "(integer-scale it, or fold the constant in python and inline "
        "one full-precision literal):\n" + "\n".join(offenders))


def test_no_inexact_decimal_literal_times_aggregate():
    offenders = []
    for name, sql in entrymod.oracle_sql().items():
        for m in _LIT_TIMES_AGG.finditer(sql):
            lit = m.group(1)
            if not _double_exact(lit):
                offenders.append(f"{name}: `{m.group(0)}...` — inexact "
                                 f"decimal literal scales an aggregate")
    assert not offenders, (
        "an inexact decimal literal multiplies an aggregate: DuckDB "
        "keeps it DECIMAL-exact while Spark computes doubles — "
        "integer-scale instead:\n" + "\n".join(offenders))
