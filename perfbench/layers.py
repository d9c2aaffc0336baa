"""Per-layer metrics of a traced pass, named ``<module>.<metric>``.

Every name in ``METRICS`` is reported by every traced run; a layer a
workload does not reach reads 0. Times are per operation of the traced
pass unless the unit says otherwise.
"""

from __future__ import annotations

from collections import defaultdict
from statistics import median

from perfbench.sql import PIPELINE as PIPELINE_STAGES
from perfbench.stats import self_time_by_layer, self_times
from perfbench.stream import QUERIES as STREAM_QUERIES
from perfbench.trace import SITES

#: operator functions reported one by one
OPERATOR_FNS = [s.split(":")[1] for s in SITES["operators"]]

# name -> (unit, better)
METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "catalog.load_calls": ("count/op", "lower"),
    "catalog.load_ms": ("ms/op", "lower"),
    "container.read_build_ms": ("ms/op", "lower"),
    "container.write_build_ms": ("ms/op", "lower"),
    "container.read_fetch_ms": ("ms/op", "lower"),
    "container.write_fetch_ms": ("ms/op", "lower"),
    "container.checkpoints": ("count", "lower"),
    "tql.parse_ms": ("ms/op", "lower"),
    "translate.rewrite_ms": ("ms/op", "lower"),
    "operators.build_ms": ("ms/op", "lower"),
}
for _fn in OPERATOR_FNS:
    METRICS[f"operators.{_fn}.build_ms"] = ("ms/call", "lower")
    METRICS[f"operators.{_fn}.jobs"] = ("count/op", "lower")
    METRICS[f"operators.{_fn}.task_s"] = ("s/op", "lower")
    METRICS[f"operators.{_fn}.rows_read_per_result"] = ("ratio", "lower")
METRICS.update({
    "dml.write_ms": ("ms/op", "lower"),
    "dml.compact_ms": ("ms/op", "lower"),
    "dml.files_written": ("count/op", "lower"),
    "dml.write_amp": ("ratio", "lower"),
    "dml.space_amp": ("ratio", "lower"),
    "stream.trigger_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.planning_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.latest_offset_ms": ("ms", "lower"),
    "stream.state_commit_ms": ("ms", "lower"),
    "stream.state_rows": ("rows", "lower"),
    "stream.state_mb": ("MB", "lower"),
    "stream.rows_per_batch": ("rows", "higher"),
    "stream.rows_per_s": ("rows/s", "higher"),
    "stream.disk_mb": ("MB", "lower"),
})
for _q in STREAM_QUERIES:
    METRICS[f"stream.{_q}.add_batch_ms"] = ("ms", "lower")
METRICS.update({
    "pipeline.jobs": ("count/op", "lower"),
    "pipeline.driver_gap_s": ("s/op", "lower"),
    "pipeline.task_s": ("s/op", "lower"),
})
for _st in PIPELINE_STAGES:
    METRICS[f"pipeline.{_st}.jobs"] = ("count", "lower")
    METRICS[f"pipeline.{_st}.driver_gap_s"] = ("s", "lower")
    METRICS[f"pipeline.{_st}.task_s"] = ("s", "lower")
METRICS.update({
    "spark.jobs": ("count/op", "lower"),
    "spark.stages": ("count/op", "lower"),
    "spark.tasks": ("count/op", "lower"),
    "spark.task_s": ("s/op", "lower"),
    "spark.driver_gap_s": ("s/op", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.shuffle_mb": ("MB/op", "lower"),
    "spark.spill_mb": ("MB/op", "lower"),
    "spark.rows_read": ("rows/op", "lower"),
    "trace.wall_s": ("s", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "trace.spans": ("count", "lower"),
    "mem.peak_rss_mb": ("MB", "lower"),
})


def _per(total, n):
    return total / n if n else 0.0


def per_layer(wl, tracer, ctx, rounds, traced_wall) -> dict:
    """Every metric of ``METRICS`` as ``{name: (value, unit)}``;
    ``trace.overhead`` and ``mem.peak_rss_mb`` are left for the caller,
    which times the untraced passes around the traced one and reads the
    driver's memory after them."""
    m = {k: 0.0 for k in METRICS}
    ops = ctx.ops
    timed = [o for o in ops if o.get("counters") is not None]
    n_ops = len(ops)
    spans = tracer.spans
    own = self_times(spans)
    by_op = defaultdict(list)
    for sp in spans:
        if sp["op"] is not None:
            by_op[sp["op"]].append(sp)

    m["session.start_s"] = median([r["start"] for r in rounds])
    m["session.warmup_s"] = median([r["warmup"] for r in rounds])

    layer_self = defaultdict(float, self_time_by_layer(
        [sp for sp in spans if sp["op"] is not None]))
    m["catalog.load_calls"] = _per(sum(
        1 for sp in spans if sp["op"] is not None
        and sp["name"] == "ContainerCatalog.load"), n_ops)
    m["catalog.load_ms"] = _per(layer_self["catalog"] * 1e3, n_ops)
    m["translate.rewrite_ms"] = _per(layer_self["sql.translate"] * 1e3, n_ops)
    m["operators.build_ms"] = _per(layer_self["operators"] * 1e3, n_ops)

    # container: time inside the API call (building the lazy plan) and
    # the rest of the operation (Spark fetching the rows), per op class
    for cls in ("read", "write"):
        cops = [o for o in ops if o["cls"] == cls and any(
            sp["layer"] == "container" for sp in by_op[o["id"]])]
        build = sum(sp["end"] - sp["start"] for o in cops
                    for sp in by_op[o["id"]]
                    if sp["layer"] == "container" and sp["parent"] is None)
        total = sum(o["s"] for o in cops)
        m[f"container.{cls}_build_ms"] = _per(build * 1e3, len(cops))
        m[f"container.{cls}_fetch_ms"] = _per((total - build) * 1e3, len(cops))
    store = getattr(wl, "store", None)
    if store is not None:
        m["container.checkpoints"] = float(sum(
            c._generation // c.COMPACT_EVERY
            for c in store._containers.values()))

    tql_ops = {sp["op"] for sp in spans if sp["layer"] == "sql.tql"}
    m["tql.parse_ms"] = _per(layer_self["sql.tql"] * 1e3, len(tql_ops))

    for fn in OPERATOR_FNS:
        calls = [sp for sp in spans if sp["name"] == fn]
        m[f"operators.{fn}.build_ms"] = _per(
            sum(own[sp["id"]] for sp in calls) * 1e3, len(calls))
        fops = [o for o in timed if o["id"] in {sp["op"] for sp in calls}]
        jobs = sum(o["counters"]["jobs"] for o in fops)
        rows = sum(o["counters"]["rows_read"] for o in fops)
        res = sum(max(1, o.get("result_rows", 0)) for o in fops)
        m[f"operators.{fn}.jobs"] = _per(jobs, len(fops))
        m[f"operators.{fn}.task_s"] = _per(
            sum(o["counters"]["task_s"] for o in fops), len(fops))
        m[f"operators.{fn}.rows_read_per_result"] = _per(rows, res)

    dml_ops = [o for o in ops if o["name"] in
               ("dml_insert", "dml_update", "dml_delete", "rf1_insert",
                "rf2_delete")]
    dml_write = sum(own[sp["id"]] for sp in spans if sp["name"] in
                    ("DmlTable.insert", "DmlTable.update", "DmlTable.delete"))
    compact = [sp for sp in spans if sp["name"] == "DmlTable.compact"]
    m["dml.write_ms"] = _per(dml_write * 1e3, len(dml_ops))
    m["dml.compact_ms"] = _per(
        sum(sp["end"] - sp["start"] for sp in compact) * 1e3, len(compact))
    written = [o for o in ops if "files_written" in o]
    m["dml.files_written"] = _per(
        sum(o["files_written"] for o in written), len(written))
    m["dml.write_amp"] = _per(sum(o["bytes_written"] for o in written),
                              sum(o["user_bytes"] for o in written))
    if hasattr(wl, "space_amp"):
        m["dml.space_amp"] = wl.space_amp()

    prog = getattr(wl, "progress", [])
    if prog:
        for key in ("trigger_ms", "add_batch_ms", "planning_ms",
                    "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
                    "state_commit_ms", "state_rows", "state_mb"):
            m[f"stream.{key}"] = float(median([p[key] for p in prog]))
        m["stream.rows_per_batch"] = float(median([p["rows"] for p in prog]))
        m["stream.rows_per_s"] = _per(sum(p["rows"] for p in prog),
                                      sum(p["trigger_ms"] for p in prog) / 1e3)
        m["stream.disk_mb"] = wl.state_bytes / 2**20
        for q in STREAM_QUERIES:
            qp = [p["add_batch_ms"] for p in prog if p["query"] == q]
            if qp:
                m[f"stream.{q}.add_batch_ms"] = float(median(qp))

    pipe_ops = [o for o in timed if o["name"] in PIPELINE_STAGES]
    for key in ("jobs", "driver_gap_s", "task_s"):
        m[f"pipeline.{key}"] = _per(
            sum(o["counters"][key] for o in pipe_ops), len(pipe_ops))
        for o in pipe_ops:
            m[f"pipeline.{o['name']}.{key}"] += o["counters"][key]

    for key in ("jobs", "stages", "tasks", "task_s", "driver_gap_s", "gc_s",
                "shuffle_mb", "spill_mb", "rows_read"):
        m[f"spark.{key}"] = _per(sum(o["counters"][key] for o in timed),
                                 len(timed))
    busy = sum(o["counters"]["task_s"] for o in timed)
    wall = sum(o["s"] for o in timed)
    m["spark.core_util"] = _per(busy, wall * ctx.counters.cores)

    m["trace.wall_s"] = traced_wall
    m["trace.spans"] = float(len(spans))
    return {k: (float(v), METRICS[k][0]) for k, v in m.items()}
