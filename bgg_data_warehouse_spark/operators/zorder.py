"""Z-order (Morton) layout keys: multi-column data-skipping locality.

Range-partitioning a table on ONE column gives perfect skipping on that
column and none on any other. Interleaving the bits of two (or more)
columns into a single Morton code and range-partitioning on THAT gives
every interleaved column locality: any file's min/max z-range bounds a
small rectangle in (x, y) space, so predicates on EITHER column prune
files. This is the layout trick behind Delta/Iceberg ``ZORDER BY`` /
``sort_order`` clustering, expressed here as plain Catalyst bit math a
writer can feed straight into ``repartitionByRange`` +
``sortWithinPartitions``.

The interleave is a fixed unrolled expression (``bits`` terms per
column, default 16 → a 32-bit code in a long) — whole-stage-codegen
friendly, no Python, no shuffle of its own. At 100 TB the only cost is
the range partitioning the writer was already paying for layout.

Reference parity: generalizes the reference's single-column
RANGE_BUCKET partition layout (io.py Layout / F14) to multi-column
skipping; no direct reference counterpart.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def zvalue(x: Column, y: Column, *, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` bits of non-negative ints x, y
    (x in even positions, y in odd) into one long. Callers clamp/scale
    inputs into [0, 2^bits) — out-of-range high bits are masked off so
    the code is always well-defined."""
    terms = []
    for i in range(bits):
        xbit = F.shiftright(x.cast("long"), i).bitwiseAND(F.lit(1).cast("long"))
        ybit = F.shiftright(y.cast("long"), i).bitwiseAND(F.lit(1).cast("long"))
        terms.append(F.shiftleft(xbit, 2 * i))
        terms.append(F.shiftleft(ybit, 2 * i + 1))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zvalue_sql(x: str, y: str, *, bits: int = 16) -> str:
    """DuckDB rendering of ``zvalue`` (same terms, same values)."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({x} AS BIGINT) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((CAST({y} AS BIGINT) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
