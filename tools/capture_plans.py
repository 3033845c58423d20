#!/usr/bin/env python
"""Capture ``explain('formatted')`` for every registry query into a
directory (one file per query) — the plan evidence for optimization
rounds: run before and after a change, diff the directories, and the
affected-query set (and the plan-shape delta) falls out mechanically.

Expression ids (``#12``), plan ids (``plan_id=3``), RDD ids
(``RDD[7]``), lambda-variable ids (``lambda x_370#12``) and
common-subexpression aliases (``_common_expr_3``) are session counters
that differ between two runs of one commit, so they are written as
fixed tokens: two captures of the same code compare equal under a
plain ``diff -r``.

The session's cache is cleared before each query is built, as
``bench.py`` does: registry queries persist intermediates and leave
them cached, and a later query with the same subplan would plan over
that ``InMemoryRelation``, so its plan would depend on which queries
ran before it. ``oov1_vocab_coverage`` still differs between a full
and a single-query capture, because its Expand order follows
expression ids.

Usage: python tools/capture_plans.py OUTDIR [SF_DIR] [name ...]
"""

from __future__ import annotations

import os
import re
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

#: Session counters in plan text: expression, plan and RDD ids, and
#: common-subexpression aliases.
_COUNTER = re.compile(r"(#|plan_id=|RDD\[|_common_expr_)\d+")
#: The counter a lambda variable's name ends in (``lambda x_370#12``).
_LAMBDA = re.compile(r"(lambda \w+?_)\d+(?=#)")


def main() -> None:
    outdir = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    os.makedirs(outdir, exist_ok=True)

    from aqi_analysis_apache_airflow_spark.plans import REGISTRY
    from aqi_analysis_apache_airflow_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    names = [n for n in REGISTRY if not only or n in only]
    # streaming queries need a running stream to explain — skip
    names = [n for n in names if not n.startswith("st")]
    for name in names:
        spark.catalog.clearCache()
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001 — capture the failure text
            txt = f"EXPLAIN FAILED: {e}\n"
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(_COUNTER.sub(r"\1N", _LAMBDA.sub(r"\1N", txt)))
    spark.stop()
    print(f"captured {len(names)} plans -> {outdir}")


if __name__ == "__main__":
    main()
