"""Plan audit: print the formatted physical plan of every registry
query (or the named ones) so scale properties can be eyeballed —
PushedFilters, ReadSchema pruning, join strategies, exchange count.

Usage: python tools/explain_audit.py [query ...] [--summary]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peskas_mozambique_data_pipeline_spark import registry
from peskas_mozambique_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    summary = "--summary" in sys.argv
    only = set(args)
    spark = get_spark(shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name, fn in registry.SPARK_QUERIES.items():
        if only and name not in only:
            continue
        plan = plan_of(fn(spark, SF_DIR))
        if summary:
            print(
                f"{name:22s} exchanges={plan.count('Exchange'):2d} "
                f"bhj={plan.count('BroadcastHashJoin')} smj={plan.count('SortMergeJoin')} "
                f"python={'YES' if 'EvalPython' in plan else 'no'}"
            )
        else:
            print(f"{'=' * 70}\n== {name}\n{'=' * 70}\n{plan}")
    spark.stop()


if __name__ == "__main__":
    main()
