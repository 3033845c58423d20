"""Materialize bounded multi-consumer intermediates (optimization
guide §3.3 "materialising an intermediate truncates the plan" / §5
"persist only when reused").

Spark plans are trees: a DataFrame referenced by k downstream
consumers appears k times in the final plan, and everything below it
— corpus-sized scans, explodes and windows — re-executes once per
consumer unless an identical Exchange happens to be reused. An
unrolled greedy/BFS loop also re-analyzes the whole duplicated tree
every round; persist materializes but keeps that lineage alive.

``pin`` localCheckpoints a BOUNDED intermediate (k-row aggregate,
calendar/vocab/edge-bounded relation, one round of a greedy or BFS
loop — never the raw corpus): every consumer reads the materialized
partitions and the lineage is cut. It is lazy: the first action
materializes it and later consumers reuse it, so construction runs no
extra blocking job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint of a bounded multi-consumer intermediate."""
    return df.localCheckpoint(eager=False)
