"""Skew mitigation: salted joins.

AQE's skew-join splitting (on by default in session.py) handles most
skew at runtime by splitting oversized partitions. Salting is the
explicit fallback for the pathological case AQE can't fix: one join
key so hot that a single task would still own it after splitting
(think the empty-string document hash, or a null-like sentinel key
holding 10% of 100 TB).

``salted_join`` replicates the (small) right side once per salt value
and scatters the left side's hot keys across ``N_SALTS`` partitions —
turning one straggler task into ``N_SALTS`` even ones at the cost of
an ``N_SALTS``× blowup of the right side. Use it when the right side
is broadcast-size but the left is skewed; for two large skewed sides,
isolate the hot keys and union a broadcast join for just those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Salt values a hot left key is scattered over.
N_SALTS = 8


def salted_join(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """Inner equi-join with the left side salted and the right side
    replicated across ``N_SALTS`` salt values; the result equals
    ``left.join(right, keys)``. Only an inner join: an outer join would
    emit each unmatched right row once per salt replica."""
    # salt must vary WITHIN a key (that's the whole point — scatter the
    # hot key), so derive it per-row, never from the key columns
    salted_left = left.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(N_SALTS)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias("__salt")
    replicated_right = right.select("*", salts)
    out = salted_left.join(replicated_right, [*keys, "__salt"])
    return out.drop("__salt")
