"""sql_analytics: registered ``workload.QUERIES`` gates run against
generated inputs, each checked against its ``workload.ORACLE`` SQL in
DuckDB on the same files.

The pass covers the NewSQL surface over a key-shifted replica of the star
schema: TPC-H q1-q22, a join, GROUP BY RANGE, the SQL front end and
MATCH_RECOGNIZE, with a TPC-H-style refresh stream of inserts and
deletes between the queries. It then runs a slice of the ``pipeline``
data-prep chain on the document and embedding corpus, and two continuous
queries over the event stream (``stream.py``), so the pipeline and
streaming layers are measured too.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench.check import compare, oracle_connection, oracle_rows
from perfbench.stream import StreamIngest

TPCH = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier", "q6_forecast_revenue",
    "q7_volume_shipping", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_important_stock", "q12_shipmode_priority",
    "q13_customer_distribution", "q14_promo_effect", "q15_top_supplier",
    "q16_parts_supplier", "q17_small_quantity", "q18_large_volume",
    "q19_disjunctive_revenue", "q20_promotion_parts", "q21_waiting_supplier",
    "q22_global_sales",
]
#: joins, GROUP BY RANGE (batch, with FILL, and through the SQL front
#: end, one with a generated-rows hint) and MATCH_RECOGNIZE
SQL_OTHER = ["join_inner_5way", "range_hour_none", "range_15m_fill_null",
             "range_15m_fill_prev", "range_15m_fill_linear",
             "sql_frontend_group_by_range", "sql_frontend_gen_rows_hint",
             "sql_frontend_leading_hint", "sql_frontend_index_join_hint",
             "match_recognize_spikes"]
#: gate -> {column: relative tolerance}. The GROUP BY RANGE gates compare
#: round(x, 6) of averages and sums. On values of two decimals a bucket's
#: exact average can be a half-way tie at the seventh decimal, which
#: Spark and DuckDB round apart by 1e-6 (see NOTES.md). The averages here
#: lie far above 10, so 1e-7 admits that one step and nothing more; a
#: wrong bucket still shows in the exact timestamp and count columns.
REL_TOL = {
    "range_hour_none": {"avg_value": 1e-7, "sum_value": 1e-7},
    "range_15m_fill_null": {"avg_value": 1e-7},
    "range_15m_fill_prev": {"avg_value": 1e-7},
    "range_15m_fill_linear": {"avg_value": 1e-7},
    "sql_frontend_group_by_range": {"av": 1e-7},
    "sql_frontend_gen_rows_hint": {"avg_value": 1e-7},
}
#: a TPC-H-style refresh stream beside the queries: each pass runs
#: RF_PAIRS pairs of RF1 (a prepared INSERT batch of RF_ROWS new orders
#: through the SQL front end) and RF2 (a DELETE of the orders that RF1
#: added) on a durable refresh table seeded with the first orders. Each
#: write is timed through its read-back. The stream's place among the
#: queries depends only on the pass number, so every seed runs the same
#: mix. Ten pairs make 20 of a pass's 30 writes, so write_p90_ms does not
#: rest on the slowest two of the ten micro-batches.
RF_PAIRS = 10
RF_ROWS = 10
RF_SEED_ROWS = 2_000

#: a slice of the pipeline chain, run in every pass with the train-once
#: memo empty: quality filtering, exact dedup, logreg training and k-means.
#: The other stages stay out to keep a run within the time budget.
PIPELINE = ["pipe_quality_c4", "pipe_dedup_exact", "pipe_classifier_train",
            "pipe_cluster_kmeans"]


class SqlAnalytics:
    name = "sql_analytics"
    gates = TPCH + SQL_OTHER + PIPELINE
    layers = ("session", "catalog", "sql.translate", "operators", "dml",
              "pipeline", "streaming")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        from griddb_spark import workload

        self.sf_dir = os.path.join(data_dir, "sql")
        self.work_dir = work_dir
        con = oracle_connection(self.sf_dir)
        self.expected = {g: oracle_rows(con, workload.ORACLE[g])
                         for g in self.gates}
        con.close()
        self.orders = pq.read_table(os.path.join(self.sf_dir, "orders.parquet"))
        self.rf = None
        self.rf_key = 0
        self.stream = StreamIngest(data_dir, work_dir)

    @property
    def progress(self) -> list:
        """Per-micro-batch figures of the last pass's streaming queries."""
        return self.stream.progress

    @property
    def state_bytes(self) -> int:
        return self.stream.state_bytes

    def register(self, spark) -> None:
        """The catalog over the replica, and the refresh target."""
        from griddb_spark import workload
        from griddb_spark.dml import DmlTable

        c = workload.cat(spark, self.sf_dir)
        c.register_all()
        path = os.path.join(self.work_dir, "orders_rf")
        shutil.rmtree(path, ignore_errors=True)
        self.rf = DmlTable(spark, path)
        self.rf.create(c.load("orders").limit(RF_SEED_ROWS), mode="overwrite")
        self.rf_key = max(self.orders["o_orderkey"].to_pylist()) + 1
        self.stream.register(spark)

    def warmup(self, spark) -> None:
        from griddb_spark import workload

        workload.QUERIES[self.gates[0]](spark, self.sf_dir).collect()

    def prime(self, spark) -> None:
        """One refresh pair, and the streaming queries once over a small
        file. The first prepared INSERT of a session pays for the cold
        DML path (1-4 s, against 0.3-0.4 s warm), which would otherwise
        sit among the timed writes. The gates get no priming pass: it
        would cost as much as the timed pass, which the benchmark's
        run-time budget cannot carry, so the timed pass includes each
        gate's first-run code generation, as a fresh session's first
        queries do."""
        from perfbench.run import Ctx

        ctx = Ctx(spark)
        self._rf2(ctx, self._rf1(ctx, np.random.default_rng([2**20, 7])))
        self.stream.prime(spark)

    def run_pass(self, ctx, pass_no: int) -> None:
        from griddb_spark import workload

        spark = ctx.spark
        # every pass trains from scratch: empty the train-once memo
        workload._ANN_TRAIN_CACHE.clear()
        rng = np.random.default_rng([pass_no, 7])
        rf_at = set(rng.choice(len(self.gates), RF_PAIRS, replace=False))
        for i, g in enumerate(self.gates):
            fn = workload.QUERIES[g]

            def op(fn=fn):
                df = fn(spark, self.sf_dir)
                return df.columns, [tuple(r) for r in df.collect()]

            def check(res, g=g):
                return compare(res[0], res[1], *self.expected[g],
                               rel_tol=REL_TOL.get(g))

            ctx.op(g, "read", op, check)
            if i in rf_at:
                keys = self._rf1(ctx, rng)
                self._rf2(ctx, keys)
        self.stream.run_pass(ctx, pass_no)

    # -- the refresh stream -------------------------------------------
    def _rf1(self, ctx, rng) -> list:
        from pyspark.sql import functions as F

        from griddb_spark import workload
        from griddb_spark.sql.translate import prepare

        spark = ctx.spark
        keys = list(range(self.rf_key, self.rf_key + RF_ROWS))
        self.rf_key += RF_ROWS
        day0 = _dt.datetime(2002, 1, 1)
        rows = [(k, int(rng.integers(0, 3000)), "O",
                 round(float(rng.uniform(1000, 500000)), 2),
                 day0 + _dt.timedelta(days=int(rng.integers(0, 28))),
                 "3-MEDIUM") for k in keys]

        def op():
            stmt = prepare(spark, workload.cat(spark, self.sf_dir),
                           "INSERT INTO orders_rf VALUES (?, ?, ?, ?, ?, ?)",
                           tables={"orders_rf": self.rf})
            for r in rows:
                stmt.add_batch(*r)
            stmt.execute_batch()
            df = self.rf.read().filter(F.col("o_orderkey").isin(keys))
            return df.columns, [tuple(r) for r in df.collect()]

        cols = self.orders.column_names
        ctx.op("rf1_insert", "write", op,
               lambda res: compare(res[0], res[1], cols, rows))
        return keys

    def _rf2(self, ctx, keys) -> None:
        from pyspark.sql import functions as F

        def op():
            cond = F.col("o_orderkey").isin(keys)
            self.rf.delete(cond)
            df = self.rf.read().filter(cond)
            return df.columns, [tuple(r) for r in df.collect()]

        ctx.op("rf2_delete", "write", op,
               lambda res: compare(res[0], res[1], res[0], []))
