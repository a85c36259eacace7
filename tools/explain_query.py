"""Dump the executed physical plan + explain("formatted") of one or
more declared queries to files — before/after plan evidence for a
plan-affecting change.

Usage: python tools/explain_query.py <out_dir> <suffix> name1[,name2,...] [sf_dir]

Writes <out_dir>/<name>_<suffix>.txt for each query. Same probe setup
as tools/dump_plans.py (collect() so AQE finalizes and codegen markers
appear), so fragments are comparable with PLANS.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    names = [n for n in sys.argv[3].replace(",", " ").split() if n]
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from inception_eventstore_spark.plans.queries import spark_queries
    from inception_eventstore_spark.session import get_spark

    spark = get_spark(
        "explain-query",
        master="local[4]",
        extra_configs={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    for name in names:
        df = qs[name](spark, sf_dir)
        df.collect()
        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = qe.executedPlan().toString() + "\n" + qe.explainString(mode)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
