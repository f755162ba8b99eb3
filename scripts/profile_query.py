#!/usr/bin/env python
"""Per-query optimization profiler (round 11).

For each named registry query at $SPARK_GRAFT_SF_DIR (default sf0.1):
  - t_build : Python-side DataFrame construction (py4j plan building)
  - t_first : first noop-sink execution (codegen compile + exec)
  - t_warm  : min of N warm noop-sink runs (steady state, guide §1.4)
  - n_jobs  : Spark jobs triggered by one warm run
  - plan    : .explain("formatted"), optionally written to --plans DIR

Timing methodology matches bench.py (same session factory, same
maxPartitionBytes override, noop sink). Usage:

  python scripts/profile_query.py [--plans DIR] [--runs N] q1 q2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402
from aws_healthcare_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--suffix", default="", help="plan file suffix (_before/_after)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")

    spark = get_spark(
        app_name="profile",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    tracker = spark.sparkContext.statusTracker()

    for name in args.names:
        spec = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = spec.fn(spark, SF_DIR)
        t_build = time.perf_counter() - t0

        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan_txt)

        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_first = time.perf_counter() - t0

        # Jobs per warm run via the PUBLIC job-group API (the r11 form
        # read dagScheduler().nextJobId(), a private accessor that went
        # away in Spark 4.1): tag one run with a unique group id and
        # count the group's job ids afterwards. The job count reported is
        # the one of the min-time run, so both figures describe one run.
        runs = []
        for r in range(args.runs):
            group = f"profile:{name}:{r}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            d2 = spec.fn(spark, SF_DIR)
            d2.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            # PySpark exposes no clearJobGroup(); call the JVM context's
            spark.sparkContext._jsc.clearJobGroup()
            runs.append((dt, len(tracker.getJobIdsForGroup(group))))
        best, jobs_delta = min(runs)
        print(
            f"{name}: build={t_build:.3f}s first={t_first:.3f}s "
            f"warm_min={best:.3f}s jobs~{jobs_delta}",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
