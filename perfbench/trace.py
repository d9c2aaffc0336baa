"""Outside-in tracing: span recorders around the engine's public functions
and a Spark counter collector, both driven from the benchmark's side.

``Tracer.install`` replaces each listed function (module attribute or
class attribute) with a wrapper that records a span: name, layer, start,
end, parent span and the id of the benchmark operation it ran under.
Re-exports of the same function object in other ``griddb_spark`` modules
are replaced too, so callers that resolve it through a package namespace
are traced. A listed call site that no longer exists is a tracer error:
``install`` raises instead of silently reporting zero time.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time

from perfbench.stats import union_length

#: layer -> call sites ("module:attr" or "module:Class.attr"). These are
#: the public entry points of each engine module the workloads reach.
SITES = {
    "session": [
        "griddb_spark.session:get_spark",
        "griddb_spark.workload:prepare",
    ],
    "catalog": [
        "griddb_spark.catalog:ContainerCatalog.load",
        "griddb_spark.catalog:ContainerCatalog.table",
        "griddb_spark.catalog:ContainerCatalog.register_all",
    ],
    "container": [
        "griddb_spark.container:GridStore.put_container",
        "griddb_spark.container:GridStore.multi_put",
        "griddb_spark.container:Collection.put",
        "griddb_spark.container:Collection.multi_get",
        "griddb_spark.container:Collection.query",
        "griddb_spark.container:TimeSeries.append",
        "griddb_spark.container:TimeSeries.get_at",
        "griddb_spark.container:TimeSeries.interpolate",
        "griddb_spark.container:TimeSeries.aggregate",
        "griddb_spark.container:TimeSeries.sample",
        "griddb_spark.container:TimeSeries.query_range",
    ],
    "sql.tql": ["griddb_spark.sql.tql:run_tql"],
    "sql.translate": [
        "griddb_spark.sql.translate:griddb_sql",
        "griddb_spark.sql.translate:rewrite_sql",
    ],
    "operators": [
        "griddb_spark.operators.timeseries:time_next",
        "griddb_spark.operators.timeseries:time_prev",
        "griddb_spark.operators.timeseries:time_interpolated",
        "griddb_spark.operators.timeseries:time_sampling",
        "griddb_spark.operators.timeseries:time_avg",
        "griddb_spark.operators.timeseries:aggregate_time_range",
        "griddb_spark.operators.group_range:group_by_range",
        "griddb_spark.operators.match_recognize:match_recognize",
        "griddb_spark.operators.continuous_agg:auto_aggregate_stream",
    ],
    "dml": [
        "griddb_spark.dml:DmlTable.create",
        "griddb_spark.dml:DmlTable.insert",
        "griddb_spark.dml:DmlTable.update",
        "griddb_spark.dml:DmlTable.delete",
        "griddb_spark.dml:DmlTable.compact",
        "griddb_spark.dml:DmlTable.scan_range",
    ],
    "streaming": [
        "griddb_spark.streaming.stream_ops:read_container_stream",
        "griddb_spark.streaming.stream_ops:group_by_range_stream",
    ],
    "pipeline": [
        "griddb_spark.pipeline.quality:c4_line_filter",
        "griddb_spark.pipeline.dedup:exact_dedup",
        "griddb_spark.pipeline.similarity:logreg_train",
        "griddb_spark.pipeline.similarity:kmeans_fit",
        "griddb_spark.pipeline.similarity:assign_clusters",
    ],
}


class TracerError(RuntimeError):
    """A listed call site is missing from the engine."""


def _resolve(site: str):
    mod_name, attr = site.split(":")
    try:
        mod = importlib.import_module(mod_name)
    except ImportError as e:
        raise TracerError(f"call site {site}: {e}") from e
    owner = mod
    parts = attr.split(".")
    for p in parts[:-1]:
        owner = getattr(owner, p, None)
        if owner is None:
            raise TracerError(f"call site {site}: no {p}")
    if parts[-1] not in vars(owner):
        raise TracerError(f"call site {site}: no {parts[-1]}")
    return owner, parts[-1], vars(owner)[parts[-1]]


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._next_id = 0

    # -- recording -----------------------------------------------------
    def span(self, name: str, layer: str, fn, *args, **kwargs):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "layer": layer, "op": self.op_id,
                               "start": t0, "end": t1})

    def _wrap(self, name: str, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return tracer.span(name, layer, fn, *args, **kwargs)

        return wrapper

    # -- installation --------------------------------------------------
    def install(self) -> None:
        """Wrap every listed call site; raise TracerError if one is gone."""
        resolved = []
        for layer, sites in SITES.items():
            for site in sites:
                resolved.append((layer, site, *_resolve(site)))
        for layer, site, owner, attr, raw in resolved:
            name = site.split(":")[1]
            if isinstance(raw, (staticmethod, classmethod)):
                raise TracerError(f"call site {site}: unsupported descriptor")
            wrapped = self._wrap(name, layer, raw)
            self._patched.append((owner, attr, raw))
            setattr(owner, attr, wrapped)
            if isinstance(owner, type):
                continue
            # re-exports: package namespaces holding the same function
            for mname, m in list(sys.modules.items()):
                if (m is None or m is owner
                        or not mname.startswith("griddb_spark")):
                    continue
                for k, v in list(vars(m).items()):
                    if v is raw:
                        self._patched.append((m, k, raw))
                        setattr(m, k, wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def check_reached(self, expected_layers) -> list[str]:
        """Layers the workload should reach but whose spans are absent."""
        seen = {sp["layer"] for sp in self.spans}
        return sorted(set(expected_layers) - seen)

    def dump(self, path: str, extra=None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


class SparkCounters:
    """Per-operation Spark counters read from the status tracker and the
    status store, after draining the listener bus."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self._group = None

    def begin(self, op_id: int) -> None:
        self._group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(self._group, self._group, False)

    def end(self, wall_s: float) -> dict:
        """Counters of the jobs the current operation ran."""
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(self._group) or [])
        sc.setLocalProperty("spark.jobGroup.id", None)
        c = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0,
             "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
             "rows_read": 0}
        spans = []
        for j in jobs:
            try:
                jd = store.job(j)
            except Exception:  # job evicted from the store: count it only
                continue
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                spans.append((jd.submissionTime().get().getTime() / 1000.0,
                              jd.completionTime().get().getTime() / 1000.0))
            ids = jd.stageIds()
            for k in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(k))
                except Exception:  # skipped stage: never attempted
                    continue
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["task_s"] += sd.executorRunTime() / 1000.0
                c["gc_s"] += sd.jvmGcTime() / 1000.0
                c["shuffle_mb"] += (sd.shuffleReadBytes()
                                    + sd.shuffleWriteBytes()) / 2**20
                c["spill_mb"] += (sd.memoryBytesSpilled()
                                  + sd.diskBytesSpilled()) / 2**20
                c["rows_read"] += sd.inputRecords()
        c["driver_gap_s"] = max(0.0, wall_s - union_length(spans))
        return c
