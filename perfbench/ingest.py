"""``ingest``: the paper's pipeline, backfill then timed live uploads.

Set-up (per cycle): a seeded multi-file CSV backfill with decoy non-CSV
objects is loaded by ``ingest_csv`` with schema inference, written as
partitioned Parquet and registered in the catalog; a first batch of
uploads is then drained (the cycle's first answer).

Live phase: an open loop. A generator thread renames uploads staged
during set-up into ``incoming/`` at a fixed rate. The main thread
drains them with ``start_incremental_ingest(available_now=True)``,
then ``refresh_partitions``, then the golden query. Each upload is
one op, timed from its due time until the golden query's counts
include it. Every cycle checks the counts against the generator's
running totals; decoys must never be counted.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import traceback

import inputs
from measure import median

BACKFILL_FILES = 4
BACKFILL_ROWS = 4_000
UPLOAD_ROWS = (40, 160)
RATE_PER_S = 10.0
WARMUP_TRIGGERS = 1
WARMUP_UPLOADS_PER_TRIGGER = 3
DRAIN_LIMIT_S = 20.0
DECOY_EVERY = 10  # a decoy object follows every 10th live upload
TAIL_PCT = 80.0  # 50 uploads in a 5 s window: 10 beyond
BACKFILL_DATE = "2024-03-01"
LIVE_DATE = "2024-03-02"
GOLDEN = (
    "SELECT ingest_date, COUNT(*) AS num_rows FROM {table} "
    "GROUP BY ingest_date ORDER BY ingest_date DESC"
)


class Ingest:
    tail_pct = TAIL_PCT

    def __init__(self, ctx):
        self.ctx = ctx
        # uploads drained before the window: first result, then (cold or
        # traced cycles) the warm-up triggers; live uploads follow them
        self.n_warm = (1 + WARMUP_TRIGGERS) * WARMUP_UPLOADS_PER_TRIGGER
        self.n_live = int(RATE_PER_S * ctx.seconds) + 1
        self.backfill_s: list[float] = []
        self.backfill_meta: dict = {}
        self.triggers: list[dict] = []
        self.late: list[float] = []
        self.queue_wait: list[float] = []
        self.table_files = 0

    # ------------------------------------------------------------ inputs

    def generate(self) -> None:
        self.data = inputs.ingest_inputs(
            self.ctx.seed, BACKFILL_FILES, BACKFILL_ROWS, self.n_warm + self.n_live, UPLOAD_ROWS
        )
        self.prefix = [0]
        for _, _, n in self.data["uploads"]:
            self.prefix.append(self.prefix[-1] + n)
        self.input_bytes = sum(len(b) for _, b in self.data["backfill"])

    def _write(self, d: str, files) -> None:
        os.makedirs(d, exist_ok=True)
        for name, body, *_ in files:
            with open(os.path.join(d, name), "wb") as f:
                f.write(body)

    # ------------------------------------------------------------ set-up

    def prepare(self, cycle: int) -> None:
        from aws_healthcare_etl_pipeline_spark.sources.catalog import register_parquet_table
        from aws_healthcare_etl_pipeline_spark.sources.csv_ingest import IngestConfig, ingest_csv

        spark, tr = self.ctx.spark, self.ctx.tracer
        if cycle:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.ctx.work, f"cycle{cycle}")
        raw = os.path.join(self.root, "raw")
        self.curated = os.path.join(self.root, "curated")
        self.incoming = os.path.join(raw, "incoming")
        self.staging = os.path.join(raw, "staging")
        self._write(os.path.join(raw, "backfill"), self.data["backfill"] + self.data["decoys"])
        self._write(self.staging, self.data["uploads"])
        os.makedirs(self.incoming)
        self.released = 0
        self.fresh = 0
        self.live_cfg = IngestConfig(
            raw_root=raw, curated_root=self.curated, raw_prefix="incoming/",
            ingest_date=LIVE_DATE,
        )
        cfg = IngestConfig(
            raw_root=raw, curated_root=self.curated, raw_prefix="backfill/",
            ingest_date=BACKFILL_DATE,
        )
        t0 = time.perf_counter()
        with tr.span("csv_ingest.backfill"):
            out = ingest_csv(spark, cfg)
        self.backfill_s.append(time.perf_counter() - t0)
        files = parquet_files(out)
        self.backfill_meta = {
            "output_files": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
        }
        with tr.span("catalog.register"):
            self.table = register_parquet_table(spark, "perfbench", "encounters", out)
        self.check_counts(self.golden(), 0)

    def first_result(self) -> None:
        self.warm_trigger()

    def warmup(self) -> list[float]:
        return [self.warm_trigger() for _ in range(WARMUP_TRIGGERS)]

    def warm_trigger(self) -> float:
        """Release the next few staged uploads and drain them once."""
        for _ in range(WARMUP_UPLOADS_PER_TRIGGER):
            self.release(self.released)
        t0 = time.perf_counter()
        self.cycle(-1, warm=True)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ live

    def release(self, i: int) -> None:
        name = self.data["uploads"][i][0]
        os.rename(os.path.join(self.staging, name), os.path.join(self.incoming, name))
        self.released = i + 1

    def generator(self, t0: float, due: list[float], stop: threading.Event) -> None:
        decoys = self.data["decoys"]
        for j, d in enumerate(due):
            wait = t0 + d - time.perf_counter()
            if wait > 0 and stop.wait(wait):
                return
            self.late.append(max(0.0, time.perf_counter() - (t0 + d)))
            self.release(self.live0 + j)
            if (j + 1) % DECOY_EVERY == 0:
                name, body = decoys[(j // DECOY_EVERY) % len(decoys)]
                with open(os.path.join(self.incoming, f"live-{j:05d}-{name}"), "wb") as f:
                    f.write(body)

    def run(self, deadline: float) -> list[tuple[str, float, bool]]:
        self.live0 = self.released
        t0 = time.perf_counter()
        window = deadline - t0
        due = [j / RATE_PER_S for j in range(self.n_live) if j / RATE_PER_S < window]
        stop = threading.Event()
        gen = threading.Thread(target=self.generator, args=(t0, due, stop), daemon=True)
        gen.start()
        done_at: dict[int, float] = {}
        ok_upload: dict[int, bool] = {}
        op = 0
        try:
            while True:
                now = time.perf_counter()
                total = self.live0 + len(due)
                if self.fresh >= total and not gen.is_alive():
                    break
                if now > deadline + DRAIN_LIMIT_S:
                    break
                if self.released > self.fresh:
                    before = self.fresh
                    start = time.perf_counter()
                    try:
                        ok = self.cycle(op)
                    except Exception:  # a failed drain is counted, the loop goes on
                        self.ctx.problems.append(f"ingest: drain raised\n{traceback.format_exc()}")
                        ok = False
                    end = time.perf_counter()
                    for i in range(before, self.fresh):
                        done_at[i] = end
                        ok_upload[i] = ok
                        self.queue_wait.append(max(0.0, start - (t0 + due[i - self.live0])))
                    op += 1
                else:
                    time.sleep(0.005)
        finally:
            stop.set()
            gen.join()
        ops = []
        for j, d in enumerate(due):
            i = self.live0 + j
            if i in done_at:
                ops.append(("upload", done_at[i] - (t0 + d), ok_upload[i]))
            else:
                ops.append(("upload", float("inf"), False))
                self.ctx.problems.append(f"ingest: upload {i} never became queryable")
        self.table_files = len(parquet_files(self.live_cfg.output_path))
        return ops

    def cycle(self, op_id: int, warm: bool = False) -> bool:
        """One drain: trigger, refresh, golden query; checks the counts."""
        from aws_healthcare_etl_pipeline_spark.sources.catalog import refresh_partitions
        from aws_healthcare_etl_pipeline_spark.streaming.ingest_stream import (
            start_incremental_ingest,
        )

        tr, spark = self.ctx.tracer, self.ctx.spark
        released_before = self.released
        with tr.span("ingest.cycle", op_id):
            with tr.span("ingest_stream.trigger"):
                q = start_incremental_ingest(
                    spark, self.live_cfg, live_schema(),
                    os.path.join(self.root, "checkpoint"), available_now=True,
                )
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(f"ingest stream failed: {q.exception()}")
                progress = [as_dict(p) for p in q.recentProgress]
            with tr.span("catalog.refresh"):
                refresh_partitions(spark, self.table)
            counts = self.golden()
        ok = self.check_counts(counts, released_before)
        if not warm:
            self.triggers.append({
                "rows": sum(p.get("numInputRows", 0) for p in progress),
                "durations": [p.get("durationMs", {}) for p in progress],
            })
        return ok

    def golden(self) -> dict[str, int]:
        with self.ctx.tracer.span("plans.golden_query"):
            rows = self.ctx.spark.sql(GOLDEN.format(table=self.table)).collect()
        return {r["ingest_date"]: r["num_rows"] for r in rows}

    def check_counts(self, counts: dict[str, int], released_before: int) -> bool:
        """Backfill count exact; live count equals the running total of
        some prefix of the released uploads that includes every upload
        released before the trigger started. Advances ``self.fresh``."""
        problems = []
        if counts.get(BACKFILL_DATE) != self.data["backfill_rows"]:
            problems.append(
                f"backfill partition has {counts.get(BACKFILL_DATE)} rows, "
                f"expected {self.data['backfill_rows']} (decoys must not be ingested)"
            )
        live = counts.get(LIVE_DATE, 0)
        hit = [k for k in range(released_before, self.released + 1) if self.prefix[k] == live]
        if not hit:
            problems.append(
                f"live partition has {live} rows; no prefix of uploads "
                f"{released_before}..{self.released} sums to that"
            )
        elif hit[0] > self.fresh:
            self.fresh = hit[0]
        extra = set(counts) - {BACKFILL_DATE, LIVE_DATE}
        if extra:
            problems.append(f"unexpected ingest_date partitions {sorted(extra)}")
        self.ctx.problems.extend(f"ingest: {p}" for p in problems)
        return not problems

    # ------------------------------------------------------------ report

    def details(self) -> dict:
        return {
            "rate_per_s": RATE_PER_S,
            "backfill_rows_per_s": BACKFILL_ROWS / median(self.backfill_s),
            "stored_bytes_per_input_byte": self.backfill_meta["bytes_written"] / self.input_bytes,
            "triggers": len(self.triggers),
            "generator_late_max_s": max(self.late, default=0.0),
        }

    def layer_metrics(self) -> dict:
        d = self.details()
        out = {
            "csv_ingest.backfill_rows_per_s": d["backfill_rows_per_s"],
            "csv_ingest.output_files": self.backfill_meta["output_files"],
            "csv_ingest.bytes_written": self.backfill_meta["bytes_written"],
            "csv_ingest.stored_bytes_per_input_byte": d["stored_bytes_per_input_byte"],
            "catalog.table_files": self.table_files,
            "ingest.generator_late_s": median(self.late) if self.late else 0.0,
            "ingest.queue_wait_s": median(self.queue_wait) if self.queue_wait else 0.0,
        }
        if self.triggers:
            n = len(self.triggers)
            out["ingest_stream.rows_per_trigger"] = sum(t["rows"] for t in self.triggers) / n
            out["ingest_stream.files_per_trigger"] = (self.fresh - self.live0) / n
            for key, name in (("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                              ("commitOffsets", "commit_offsets"),
                              ("latestOffset", "latest_offset"),
                              ("queryPlanning", "query_planning")):
                out[f"ingest_stream.{name}_ms"] = median(
                    [sum(d.get(key, 0) for d in t["durations"]) for t in self.triggers]
                )
        return out


def live_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(c, T.DoubleType() if c == "amount" else T.StringType())
         for c in inputs.CSV_HEADER]
    )


def as_dict(progress) -> dict:
    if isinstance(progress, dict):
        return progress
    return json.loads(progress.json)


def parquet_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
