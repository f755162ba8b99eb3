#!/usr/bin/env python
"""Decompose streaming_token_bucket_quota's wall time (round 12).

The r11 ledger flagged 6x inter-session scatter (1.4-10.7s) on this
query and deferred diagnosis to a dedicated harness. This script runs
the exact query body N times in one session and, for each run, splits
wall time into:
  - t_build   : plan construction (readStream + operator wiring)
  - t_stream  : start() .. awaitTermination() (the streaming query)
  - t_post    : the batch aggregation over the memory sink
and prints each micro-batch's durationMs breakdown from
StreamingQueryProgress (triggerExecution = addBatch + getBatch +
latestOffset + queryPlanning + walCommit + commitOffsets) plus the
state-store operator metrics — naming which term actually moves.

Usage: python scripts/streaming_breakdown.py [N_RUNS]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY  # noqa: E402
from aws_healthcare_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    spark = get_spark(
        app_name="streaming_breakdown",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    import uuid

    from pyspark.sql import functions as F

    from aws_healthcare_etl_pipeline_spark.plans.streaming_q import (
        RATE_CAP_MILLI,
        RATE_REFILL_US,
        convert_events_ts,
    )
    from aws_healthcare_etl_pipeline_spark.sources.tables import (
        events_read_schema,
    )
    from aws_healthcare_etl_pipeline_spark.streaming.ratelimit import (
        token_bucket_admissions,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    for r in range(runs):
        t0 = time.perf_counter()
        stream = convert_events_ts(
            spark.readStream.schema(
                events_read_schema(os.path.join(SF_DIR, "events.parquet"))
            )
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(SF_DIR)
        )
        slim = stream.select(
            "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
        )
        out = token_bucket_admissions(slim, RATE_CAP_MILLI, RATE_REFILL_US)
        sink = f"bd_rate_{uuid.uuid4().hex[:8]}"
        t1 = time.perf_counter()
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        t2 = time.perf_counter()
        res = (
            spark.table(sink)
            .groupBy("user_id")
            .agg(F.max("n_seen").alias("n_events"))
        )
        res.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        print(
            f"run {r}: build={t1 - t0:.2f}s stream={t2 - t1:.2f}s "
            f"post={t3 - t2:.2f}s total={t3 - t0:.2f}s "
            f"batches={len(q.recentProgress)}"
        )
        for p in q.recentProgress:
            dur = p.get("durationMs", {})
            ops = p.get("stateOperators", [])
            op = ops[0] if ops else {}
            print(
                "   batch",
                p.get("batchId"),
                "rows",
                p.get("numInputRows"),
                json.dumps(dur),
                "| state: commit",
                op.get("commitTimeMs"),
                "rows",
                op.get("numRowsTotal"),
                "mem",
                op.get("memoryUsedBytes"),
            )
        # free this run's sink so later runs do not time a growing heap
        q.stop()
        spark.catalog.dropTempView(sink)


if __name__ == "__main__":
    main()
