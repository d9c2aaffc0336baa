#!/usr/bin/env python3
"""Benchmark driver: run one workload and print its metrics.

    python3 perfbench/run.py --workload iot_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The inputs are generated from
``--seed`` (cached per seed under ``.perfbench_cache/``) before anything
is timed. Then the run:

1. sets up twice, each time in a fresh driver JVM (session start,
   ``workload.prepare``, registration of containers or catalog, one
   warm-up operation) and reports the median as ``setup_s``;
2. runs the workload's unmeasured priming operations, so timed code is
   mostly compiled code;
3. repeats the workload's fixed pass of operations until ``--seconds``
   have elapsed, checking every result.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced pass
(spans recorded around the engine's public functions, Spark counters per
operation) and the tracing overhead against an untraced pass of the same
run. Spans are written to ``.perfbench_out/``. The exit code is non-zero
when any result is wrong, or when a traced call site is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import SparkCounters, TracerError  # noqa: E402

#: set-up rounds per run; each launches a driver JVM, which is most of a
#: run's time, so a run reports the median (the mean) of two
SETUPS = 2


def _env(work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the driver heap is the engine's own setting (session.py)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell")


class Ctx:
    """Times operations, checks their results and, when tracing, collects
    the Spark counters of each one."""

    def __init__(self, spark, tracer=None, counters=None):
        self.spark = spark
        self.tracer = tracer
        self.counters = counters
        self.ops: list[dict] = []

    def op(self, name: str, cls: str, fn, check=None) -> None:
        op_id = len(self.ops)
        if self.tracer is not None:
            self.tracer.op_id = op_id
            self.counters.begin(op_id)
        err = None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # a failed operation is a counted failure
            out, err = None, traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        counters = None
        if self.tracer is not None:
            self.tracer.op_id = None
            counters = self.counters.end(wall)
        if err is None and check is not None:
            err = check(out)
        self.record(name, cls, wall, err, counters=counters,
                    result_rows=_count_rows(out))

    def record(self, name, cls, wall, err, **extra) -> None:
        if err is not None:
            print(f"FAILED {name}: {err}", file=sys.stderr)
        self.ops.append({"id": len(self.ops), "name": name, "cls": cls,
                         "s": wall, "ok": err is None, **extra})


def _count_rows(out) -> int:
    if isinstance(out, tuple) and len(out) == 2:
        out = out[1]
    if isinstance(out, list):
        if out and isinstance(out[0], list):
            return sum(len(x) for x in out)
        return len(out)
    return 0


def _workload(name: str, data: str, work: str, seed: int):
    if name == "iot_mixed":
        from perfbench.iot import IotMixed as W
    else:
        from perfbench.sql import SqlAnalytics as W
    return W(data, work, seed)


def _peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus the Python driver's max RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    hwm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def _retained_mb(spark) -> float:
    """Memory the driver JVM holds after full collections: heap in use
    plus non-heap in use (metaspace, code cache). Unlike VmHWM it does
    not depend on how far G1 chose to grow the heap."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()  # drop Python's handles on JVM objects first
    for _ in range(3):
        # objects behind cleaners and weak references are freed only
        # by the collection after the one that found them unreachable
        spark._jvm.System.gc()
        time.sleep(0.3)
    return (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed()) / 2**20


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    return out


def _shutdown(spark) -> None:
    """Stop the session, then the driver JVM and its Python workers, and
    wait until every one of those processes has ended."""
    from pyspark import SparkContext

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    spark.stop()
    workers = _children(jvm_pid)
    gw = SparkContext._gateway
    # the next session start then launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    gw.shutdown()
    gw.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    deadline = time.monotonic() + 30
    for pid in [jvm_pid] + workers:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _settle(spark) -> None:
    spark.catalog.clearCache()
    gc.collect()
    spark._jvm.System.gc()


def setup(wl):
    """SETUPS rounds of session start + prepare + registration + warm-up.
    Each round launches its own driver JVM, so every round pays the JVM
    start and cold class loading. Returns the live session and the
    per-round timings."""
    from griddb_spark import workload
    from griddb_spark.session import get_spark

    spark, rounds = None, []
    for _ in range(SETUPS):
        if spark is not None:
            _shutdown(spark)
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        workload.prepare(spark)
        t1 = time.perf_counter()
        wl.register(spark)
        t2 = time.perf_counter()
        wl.warmup(spark)
        t3 = time.perf_counter()
        rounds.append({"start": t1 - t0, "register": t2 - t1,
                       "warmup": t3 - t2, "total": t3 - t0})
    return spark, rounds


def timed_passes(wl, ctx, seconds: float):
    """Whole passes until ``seconds`` have elapsed; returns pass walls."""
    walls = []
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        t0 = time.perf_counter()
        wl.run_pass(ctx, len(walls))
        walls.append(time.perf_counter() - t0)
    return walls


def traced_pass(wl, spark, tracer, rounds, walls):
    """One traced pass, bracketed by the last untraced pass before it and
    one untraced pass after it; the overhead is taken against their mean,
    so JIT warm-up between passes does not count as tracing cost."""
    from perfbench import layers

    _settle(spark)
    tctx = Ctx(spark, tracer, SparkCounters(spark))
    tracer.install()
    t0 = time.perf_counter()
    wl.run_pass(tctx, len(walls))
    traced_wall = time.perf_counter() - t0
    tracer.uninstall()
    missing = tracer.check_reached(wl.layers)
    if missing:
        raise TracerError(f"no spans recorded for layers {missing}")
    metrics = layers.per_layer(wl, tracer, tctx, rounds, traced_wall)
    after = Ctx(spark)
    t0 = time.perf_counter()
    wl.run_pass(after, len(walls) + 1)
    untraced = (walls[-1] + time.perf_counter() - t0) / 2
    metrics["trace.overhead"] = (traced_wall / untraced - 1.0, "ratio")
    metrics["mem.peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
    return metrics, tctx.ops, after.ops


def end_to_end(ctx, walls, rounds, spark) -> dict:
    from perfbench.stats import percentile

    def ms(vals, p):
        return percentile(vals, p) * 1000.0 if vals else 0.0

    lat = [o["s"] for o in ctx.ops]
    reads = [o["s"] for o in ctx.ops if o["cls"] == "read"]
    writes = [o["s"] for o in ctx.ops if o["cls"] == "write"]
    wall = sum(walls)
    return {
        "setup_s": (statistics.median([r["total"] for r in rounds]), "s"),
        "wall_s": (wall / len(walls), "s"),
        "ops_per_s": (len(ctx.ops) / wall, "1/s"),
        "op_p50_ms": (ms(lat, 50), "ms"),
        "op_p90_ms": (ms(lat, 90), "ms"),
        "read_p50_ms": (ms(reads, 50), "ms"),
        "read_p90_ms": (ms(reads, 90), "ms"),
        "write_p50_ms": (ms(writes, 50), "ms"),
        "write_p90_ms": (ms(writes, 90), "ms"),
        "retained_mb": (_retained_mb(spark), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("iot_mixed", "sql_analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{os.getpid()}")
    _env(work)
    import griddb_spark  # noqa: F401  (the program under test must exist)

    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    from perfbench import gen
    from perfbench.stats import samples_above
    from perfbench.trace import Tracer

    data = gen.generate(a.seed, os.path.join(ROOT, ".perfbench_cache",
                                             f"s{a.seed}"), [a.workload])
    wl = _workload(a.workload, data, work, a.seed)
    tracer = Tracer() if a.trace else None
    spark = None
    try:
        if tracer is not None:
            tracer.install()
        spark, rounds = setup(wl)
        if tracer is not None:
            tracer.uninstall()
        wl.prime(spark)
        _settle(spark)
        ctx = Ctx(spark)
        walls = timed_passes(wl, ctx, a.seconds)
        if tracer is None:
            metrics = end_to_end(ctx, walls, rounds, spark)
            all_ops = ctx.ops
        else:
            metrics, traced_ops, after_ops = traced_pass(
                wl, spark, tracer, rounds, walls)
            all_ops = ctx.ops + traced_ops + after_ops
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace_{a.workload}_s{a.seed}.json"),
                        {"ops": traced_ops, "setup": rounds,
                         "progress": getattr(wl, "progress", []),
                         "metrics": metrics})
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for o in all_ops if not o["ok"])
    result = {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    lat = [o["s"] for o in ctx.ops]
    print(f"{a.workload}: {len(lat)} timed operations in {len(walls)} "
          f"pass(es), {samples_above(lat, 90)} above p90; reads "
          f"{sum(o['cls'] == 'read' for o in ctx.ops)}, writes "
          f"{sum(o['cls'] == 'write' for o in ctx.ops)}")
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
