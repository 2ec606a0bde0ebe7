"""CLI: render the hybrid engine's route/ef/fan-out plan for the
workload at a testdata SF dir — the declarative analogue of the
reference's per-query search diagnostics (getquery.cpp prints).

Usage: python tools/explain_routes.py [sf_dir]   (default sf0.01)
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .appName("explain-routes")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sigmod_2024_contest_spark.plans.explain import render_route_report

    print(render_route_report(spark, sf_dir))


if __name__ == "__main__":
    main()
