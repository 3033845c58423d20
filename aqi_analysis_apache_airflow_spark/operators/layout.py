"""Z-order (Morton-curve) keys: multi-dimensional data clustering for
min/max-stat file skipping.

A table range-partitioned on one column prunes beautifully on that
column and not at all on any other. Interleaving the bits of TWO
columns' normalized ranks (the Z-/Morton curve) yields a single sort
key whose contiguous ranges are small rectangles in (a, b) space — so
every written file covers a narrow band of BOTH columns, and a reader
filtering on either one skips most files on footer stats alone. This
is the public technique behind Delta/Iceberg's OPTIMIZE ZORDER,
implemented here as plain column expressions (no table-format
dependency). The key backs ``zorder1_morton_layout`` and, through
``interleave_bits``, the Hilbert-curve query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton-interleave two integer columns already scaled to
    ``[0, 2^bits)``: result bit 2i is a's bit i, bit 2i+1 is b's.
    Built as a driver-side sum of shift/mask expressions — 2*bits JVM
    ops per row, whole-stage-codegen friendly, no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def z_value(
    a: Column,
    b: Column,
    a_min: Column,
    a_max: Column,
    b_min: Column,
    b_max: Column,
    bits: int = 16,
) -> Column:
    """Scale two numeric columns to ``[0, 2^bits)`` by their global
    bounds (bound columns, e.g. from a broadcast 1-row aggregate) and
    Morton-interleave them."""
    top = (1 << bits) - 1

    def scaled(c: Column, lo: Column, hi: Column) -> Column:
        span = hi.cast("double") - lo.cast("double")
        return F.when(
            span > 0,
            F.least(
                F.lit(top).cast("long"),
                ((c.cast("double") - lo.cast("double")) / span * top).cast("long"),
            ),
        ).otherwise(F.lit(0).cast("long"))

    return interleave_bits(scaled(a, a_min, a_max), scaled(b, b_min, b_max), bits)
