"""CLI: render the hybrid engine's route/fan-out/rows-scanned plan for the
workload at a testdata SF dir — the declarative analogue of the
reference's per-query search diagnostics (getquery.cpp prints).

Usage: python tools/explain_routes.py [sf_dir]   (default sf0.01)
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from sigmod_2024_contest_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # sized like every session of this package: $SPARK_GRAFT_CPUS, else
    # the cpus this process may run on (session.default_cpus)
    spark = get_spark("explain-routes")
    spark.sparkContext.setLogLevel("ERROR")
    from sigmod_2024_contest_spark.plans.explain import render_route_report

    print(render_route_report(spark, sf_dir))


if __name__ == "__main__":
    main()
