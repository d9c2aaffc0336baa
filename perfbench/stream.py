"""The streaming part of sql_analytics: continuous queries, batch by batch.

The events, sorted by ``ts`` and split into N arrival files, feed two
streaming queries, each started on its own: GROUP BY RANGE (a stateful
windowed aggregation) and the continuous aggregate into a durable rollup.
Every source is ``read_container_stream(max_files_per_trigger=1)`` under
an ``availableNow`` trigger, so each query runs N micro-batches. Each
micro-batch is one operation, timed by Structured Streaming's own
``durationMs.triggerExecution``; each read of the final output is one
more. The final outputs are checked in DuckDB over the same events: the
continuous aggregate against its gate's ``workload.ORACLE`` SQL, GROUP BY
RANGE against ``GBR_ORACLE`` (see there).
"""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

import duckdb

from perfbench.check import compare, oracle_rows

QUERIES = ("stream_group_by_range", "stream_continuous_aggregate")
#: reads of each query's final output per pass (a dashboard polling it)
READS_PER_QUERY = 3
#: GROUP BY RANGE keeps exact aggregates here. The stream_group_by_range
#: gate's round(avg, 6) column meets exact half-way ties on some seeds of
#: two-decimal inputs, which Spark and DuckDB round apart (NOTES.md).
GBR_ORACLE = """
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS ts,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           max(value) AS max_value, count(*) AS n
    FROM events GROUP BY 1
"""


class StreamIngest:
    def __init__(self, data_dir: str, work_dir: str):
        from griddb_spark import workload

        self.src = os.path.join(data_dir, "stream", "events")
        self.prime_src = os.path.join(data_dir, "stream", "prime")
        self.work_dir = work_dir
        con = duckdb.connect()
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{self.src}/*.parquet')")
        self.expected = {q: oracle_rows(con, GBR_ORACLE if q == QUERIES[0]
                                        else workload.ORACLE[q])
                         for q in QUERIES}
        con.close()
        # file-source arrival order is modification-time order
        t0 = time.time() - 100
        for i, f in enumerate(sorted(glob.glob(f"{self.src}/*.parquet"))):
            os.utime(f, (t0 + i, t0 + i))
        self.progress: list[dict] = []
        self.state_bytes = 0
        self.schema = None
        self._src = self.src

    def register(self, spark) -> None:
        from griddb_spark.workload import prepare

        prepare(spark)
        self.schema = spark.read.parquet(self.src).schema

    def prime(self, spark) -> None:
        """Each query once, unmeasured, over one small arrival file."""
        from perfbench.run import Ctx

        self.run_pass(Ctx(spark), -1, self.prime_src)

    # -- the queries ----------------------------------------------------
    def _stream(self, spark):
        from griddb_spark.streaming import read_container_stream

        return read_container_stream(spark, self._src, self.schema,
                                     max_files_per_trigger=1)

    def _to_memory(self, spark, df, ck):
        # eight state partitions, as the stream_group_by_range gate runs
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        name = f"pb_{uuid.uuid4().hex[:10]}"
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("complete").option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        return q, name

    def _build(self, spark, query: str, ck: str):
        """Start one query; return (StreamingQuery, read_result)."""
        from pyspark.sql import functions as F

        from griddb_spark.streaming import group_by_range_stream

        r6 = lambda c: F.round(c, 6)  # noqa: E731
        if query == "stream_group_by_range":
            out = group_by_range_stream(
                self._stream(spark), "ts", 1, "HOUR",
                {"sum_value": F.sum(F.col("value").cast("decimal(18,2)"))
                 .cast("double"),
                 "max_value": F.max("value"), "n": F.count(F.lit(1))},
                watermark="10 minutes")
            q, name = self._to_memory(spark, out, ck)
            return q, lambda: spark.table(name)
        from griddb_spark.dml import DmlTable
        from griddb_spark.operators import auto_aggregate_stream

        target = DmlTable(spark, os.path.join(ck, "rollup"))
        specs = {"n": ("count", None), "sum_value": ("sum", "value"),
                 "min_value": ("min", "value"), "max_value": ("max", "value")}
        q = auto_aggregate_stream(self._stream(spark), target, "ts", 1, "HOUR",
                                  specs, by=["event_type"],
                                  checkpoint_dir=os.path.join(ck, "ck"))
        return q, lambda: target.read().select(
            "bucket_ms", "event_type", "n", r6(F.col("sum_value")).alias(
                "sum_value"), r6(F.col("min_value")).alias("min_value"),
            r6(F.col("max_value")).alias("max_value"))

    def run_pass(self, ctx, pass_no: int, src: str | None = None) -> None:
        spark = ctx.spark
        checked = src is None  # the expected answers are for self.src
        self._src = src or self.src
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        self.progress = []
        self.state_bytes = 0
        try:
            for query in QUERIES:
                ck = os.path.join(self.work_dir, f"stream_{pass_no}_{query}")
                shutil.rmtree(ck, ignore_errors=True)
                os.makedirs(ck)
                q, read = self._build(spark, query, ck)
                try:
                    if not q.awaitTermination(120):
                        raise TimeoutError(f"{query} did not finish")
                    if q.exception() is not None:
                        raise RuntimeError(str(q.exception()))
                finally:
                    q.stop()
                spark.conf.set("spark.sql.shuffle.partitions", prev)
                batches = [p for p in q.recentProgress if p.numInputRows > 0]
                for p in batches:
                    self.progress.append({"query": query, **_progress(p)})
                    ctx.record(f"{query}.batch", "write",
                               p.durationMs["triggerExecution"] / 1000.0,
                               None, rows=p.numInputRows)
                for root, _, files in os.walk(ck):
                    self.state_bytes += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files)

                def op(read=read):
                    df = read()
                    return df.columns, [tuple(r) for r in df.collect()]

                def check(res, query=query):
                    return compare(res[0], res[1], *self.expected[query])

                for _ in range(READS_PER_QUERY):
                    ctx.op(f"{query}.read", "read", op,
                           check if checked else None)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _progress(p) -> dict:
    """The per-micro-batch figures of one StreamingQueryProgress."""
    d = p.durationMs
    state = p.stateOperators or []
    return {
        "rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "latest_offset_ms": d.get("latestOffset", 0),
        "state_commit_ms": sum(s.commitTimeMs for s in state),
        "state_rows": sum(s.numRowsTotal for s in state),
        "state_mb": sum(s.memoryUsedBytes for s in state) / 2**20,
    }
