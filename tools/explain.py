"""Plan auditor: dump formatted physical plans (or a one-line summary
of exchanges/joins/pushdowns) for any registered query.

Usage:
    python tools/explain.py <query> [...]       # full formatted plans
    python tools/explain.py --summary           # one line per query
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def plan_string(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def summarize(plan: str) -> str:
    from risk_dashboard_database_spark.planaudit import count_ops

    counts = count_ops(plan)
    return (
        f"exch={counts['Exchange']} bhj={counts['BroadcastHashJoin']} "
        f"smj={counts['SortMergeJoin']} bnlj={counts['BroadcastNestedLoopJoin']} "
        f"cartesian={counts['CartesianProduct']}"
    )


def main() -> None:
    from risk_dashboard_database_spark.plans import QUERIES
    from risk_dashboard_database_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    args = sys.argv[1:]
    if args and args[0] == "--summary":
        for name, fn in QUERIES.items():
            try:
                print(f"{name:32s} {summarize(plan_string(spark, fn(spark, SF_DIR)))}")
            except Exception as e:  # noqa: BLE001
                print(f"{name:32s} ERROR {e}")
        return
    for name in args or list(QUERIES):
        print(f"\n===== {name}")
        print(plan_string(spark, QUERIES[name](spark, SF_DIR)))


if __name__ == "__main__":
    main()
