"""``analytics``: closed loop, one client, Zipf-popular relational queries.

The seed generates a star schema (``inputs.star_schema``). The window
repeats one block of queries: a stratified Zipf(1) draw at fixed
offsets from a fixed-rank pool of ``plans.REGISTRY`` queries, in rank
order, so every run times the same queries in the same order on its own
data. An op is plan build plus ``collect``. Every op's result is hashed and
compared with the hash of the query's DuckDB oracle on the same files.
"""

from __future__ import annotations

import itertools
import os
import time
import traceback

import inputs
from measure import result_hash, run_blocks

# Popularity rank order (rank 0 most popular): the order in which the
# benchmark's specification lists the pool, with the paper's golden
# query first.
POOL = (
    "ref_golden_daily_counts",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_nation_trade_pairs",
    "q18_large_volume_customers",
    "q21_sole_late_supplier",
    "join_brand_supplier_volume",
    "left_join_order_counts",
    "agg_distinct_suppliers_per_flag",
    "window_lag_order_deltas",
    "window_running_supplier_revenue",
    "window_topk_parts_per_brand",
    "grouping_sets_explicit",
    "sessionize_user_events",
    "asof_purchase_last_click",
    "json_events_props",
    "events_cohort_retention",
    "top_event_paths",
    "interval_join_campaign_orders",
)
SCALE = 0.01
# Zipf(1) draws per block. Eight fixed strata reach ranks 0, 0, 1, 2, 3,
# 6, 10 and 16; a window runs whole blocks (one at a 5 s run time).
BLOCK = 8
TAIL_PCT = 75.0  # between the 6th and 7th of each block's 8 latencies


class Analytics:
    tail_pct = TAIL_PCT

    def __init__(self, ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.expected: dict[str, str] = {}
        self.block = [POOL[r] for r in inputs.zipf_block(len(POOL), BLOCK)]

    def generate(self) -> None:
        os.makedirs(self.sf_dir)
        inputs.write_tables(inputs.star_schema(self.ctx.seed, SCALE), self.sf_dir)
        self.expected = oracle_hashes(self.sf_dir, sorted(set(self.block)))

    def prepare(self, cycle: int) -> None:
        pass

    def first_result(self) -> None:
        self.op(-1, POOL[0])

    def warmup(self) -> list[float]:
        """Each query of the block once, in rank order, after the golden
        query of ``first_result``."""
        return [self.op(-1, q)[1] for q in sorted(set(self.block), key=POOL.index)[1:]]

    def run(self, deadline: float) -> list[tuple[str, float, bool]]:
        return run_blocks(itertools.repeat(self.block), deadline, self.op)

    def op(self, op_id: int, q: str) -> tuple[str, float, bool]:
        from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

        tr, spark = self.ctx.tracer, self.ctx.spark
        t0 = time.perf_counter()
        try:
            with tr.span(f"analytics.{q}", op_id):
                with tr.span("plans.build"):
                    df = REGISTRY[q].fn(spark, self.sf_dir)
                with tr.span("plans.collect"):
                    rows = df.collect()
        except Exception:  # a failed op is counted, the loop goes on
            self.ctx.problems.append(f"analytics: {q} raised\n{traceback.format_exc()}")
            return q, time.perf_counter() - t0, False
        lat = time.perf_counter() - t0
        ok = result_hash(df.columns, [tuple(r) for r in rows]) == self.expected[q]
        if not ok:
            self.ctx.problems.append(f"analytics: {q} result differs from its DuckDB oracle")
        return q, lat, ok

    def details(self) -> dict:
        return {"scale": SCALE, "pool": len(POOL), "block": self.block}

    def layer_metrics(self) -> dict:
        return {}


def oracle_hashes(sf_dir: str, names) -> dict[str, str]:
    """Result hash of each query's DuckDB oracle over the same files."""
    import duckdb

    from aws_healthcare_etl_pipeline_spark.plans import REGISTRY

    con = duckdb.connect(config={"threads": 2})
    try:
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        out = {}
        for q in names:
            cur = con.execute(REGISTRY[q].oracle)
            cols = [d[0] for d in cur.description]
            out[q] = result_hash(cols, cur.fetchall())
        return out
    finally:
        con.close()
