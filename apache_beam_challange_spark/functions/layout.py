"""Data-layout expression builders: Z-order (Morton) interleaving for
multi-dimensional sort-on-write clustering.

A plain sort makes parquet min/max statistics selective on ONE column
(tests/test_rowgroup_clustering.py); Z-ordering the sort key interleaves
the bits of two dimensions so row groups cover small rectangles of the
(a, b) plane and filtered scans skip files/row groups for predicates on
EITHER dimension — the layout trick Delta/Iceberg expose as OPTIMIZE
ZORDER, built here from pure integer arithmetic so it is engine-exact
and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scale_to_bits(x: Column, mn: Column, mx: Column, bits: int = 8) -> Column:
    """Monotone map of integer ``x`` in [mn, mx] onto [0, 2^bits - 1]:
    ``floor(((x - mn) * 2^bits) / (mx - mn + 1))``. The division is IEEE
    double division — exactly rounded by spec, so every engine computes
    the identical quotient bit-for-bit — and with integer operands the
    quotient is never within an ulp of the wrong integer (its distance
    from any integer is >= 1/span), so the floor is engine-exact."""
    span = (mx - mn + F.lit(1)).cast("double")
    return F.floor(((x - mn) * F.lit(2**bits)).cast("double") / span).cast("long")


def scale_to_bits_sql(x: str, mn: str, mx: str, bits: int = 8) -> str:
    """DuckDB spelling of :func:`scale_to_bits` — the oracle twin."""
    return (
        f"CAST(FLOOR(CAST((({x}) - ({mn})) * {2**bits} AS DOUBLE) "
        f"/ (({mx}) - ({mn}) + 1)) AS BIGINT)"
    )


def zorder_key(a: Column, b: Column, bits: int = 8) -> Column:
    """Morton-interleave two already-scaled integers in [0, 2^bits):
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1. Built as
    a closed-form sum of shift/mod terms — identical bigints in Spark
    and any SQL oracle, no UDF."""
    terms = None
    for i in range(bits):
        t = (
            (F.shiftright(a, i) % 2) + (F.shiftright(b, i) % 2) * F.lit(2)
        ) * F.lit(4**i)
        terms = t if terms is None else terms + t
    return terms.cast("long")


def hilbert_step_exprs(bits: int, intdiv: str) -> list[tuple[str, str, str]]:
    """Per-step ``(x, y, d)`` expression TEXTS for the unrolled Hilbert
    ``xy2d`` walk over a ``2^bits x 2^bits`` grid (Wikipedia's iterative
    conversion, full-grid ``n-1`` reflection variant — bijection and
    unit-step adjacency are property-tested in tests/test_wave6.py).
    Each step reads columns ``x``, ``y``, ``d`` from the previous step
    and must be materialized as one projection per step (inlining all
    8 steps would double the expression text per level). ``intdiv`` is
    the dialect's integer-division operator (``div`` for Spark SQL,
    ``//`` for DuckDB; operands are non-negative, so truncation ==
    floor). The quadrant index ``(3*rx) XOR ry`` is spelled as the
    XOR-free arithmetic ``3*rx + ry*(1 - 2*rx)`` because the engines
    spell XOR differently (``^`` vs ``xor()``); everything is exact
    integer arithmetic, so keys are engine-identical by construction."""
    n1 = (1 << bits) - 1
    steps = []
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        rx = f"((x {intdiv} {s}) % 2)"
        ry = f"((y {intdiv} {s}) % 2)"
        nd = f"d + {s * s} * (3 * {rx} + {ry} * (1 - 2 * {rx}))"
        nx = (
            f"CASE WHEN {ry} = 0 THEN "
            f"CASE WHEN {rx} = 1 THEN {n1} - y ELSE y END ELSE x END"
        )
        ny = (
            f"CASE WHEN {ry} = 0 THEN "
            f"CASE WHEN {rx} = 1 THEN {n1} - x ELSE x END ELSE y END"
        )
        steps.append((nx, ny, nd))
    return steps
