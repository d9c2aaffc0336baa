"""iot_mixed: the GridDB IoT use case through the NoSQL container API.

One TimeSeries container per device (events split by ``user_id``, ~66
rows each), three long-history devices of 10^4+ rows and one durable
range-partitioned ``DmlTable`` of all device events. A single client runs
a closed loop of ~80% reads and ~20% writes; device popularity is Zipf
and query times lean toward recent data. Every read is checked against
a reference the benchmark keeps itself (``Series``); every write is
timed through its read-your-write check, because ``Collection.put`` is
lazy and would otherwise bill its cost to the next read.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from perfbench.check import compare
from perfbench.gen import EV_START_US, LONG_DEVICE_BASE

COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
DAY_MS = 86_400_000
#: the operation kinds of one pass. Every pass runs this same multiset, in
#: an order and over popularity ranks fixed by the pass number, so input
#: seeds differ in the data, not in the mix (a seeded mix swung op p50 by
#: ~40% between seeds). Short reads hit ~66-row device containers; the
#: long reads sample a 10^4-row history; there are enough of them that
#: both read p90 and op p90 rest mostly on the neighbour-frame cost of
#: the long containers.
SHORT_READS = ["get_at", "interpolate", "aggregate", "sample", "query_range",
               "multi_get", "tql_select", "tql_time_avg", "tql_sampling"] * 3
LONG_READS = ["sample", "tql_sampling"] * 2
WRITES = ["append", "put", "multi_put", "dml_insert", "dml_update",
          "dml_delete", "dml_compact"]
ZIPF_S = 1.1
AVG_TOL = {"aggregation_result": 1e-9}


def _dt_of(us: int) -> _dt.datetime:
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(us))


def _us_of(v) -> int:
    if v.tzinfo is not None:
        v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    d = v - _dt.datetime(1970, 1, 1)
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def _iso(us: int) -> str:
    return _dt_of(us).strftime("%Y-%m-%d %H:%M:%S")


def _ms(us: int) -> int:
    return us // 1000


class Series:
    """Reference state of one device: rows sorted by ts (the row key)."""

    def __init__(self, rows: dict):
        self.rows = rows  # ts_us -> tuple in COLS order (ts as int µs)

    def sorted_ts(self):
        return sorted(self.rows)

    def prev(self, t):
        c = [x for x in self.rows if x <= t]
        return self.rows[max(c)] if c else None

    def next(self, t, strict=False):
        c = [x for x in self.rows if (x > t if strict else x >= t)]
        return self.rows[min(c)] if c else None

    def interp_row(self, t):
        """The LINEAR interpolation row at ``t`` (engine formula, double
        arithmetic on epoch milliseconds), or None."""
        p = self.prev(t)
        if p is None:
            return None
        if p[1] == t:
            return p
        n = self.next(t, strict=True)
        if n is None:
            return None
        t_ms, t1, t2 = _ms(t), _ms(p[1]), _ms(n[1])
        rate = float(t_ms - t1) / float(t2 - t1)
        v = p[4] + rate * (n[4] - p[4])
        return (p[0], t, p[2], p[3], v, p[5])

    def sample(self, start, end, step):
        out = []
        for g in range(start, end + 1, step):
            r = self.interp_row(g)
            if r is not None:
                out.append(r)
        return out

    def time_avg(self):
        ts = self.sorted_ts()
        t = [_ms(x) for x in ts]
        v = [self.rows[x][4] for x in ts]
        ws = wt = 0.0
        for i in range(len(t)):
            pm = t[i - 1] + (t[i] - t[i - 1]) // 2 if i > 0 else t[i]
            nm = t[i] + (t[i + 1] - t[i]) // 2 if i + 1 < len(t) else t[i]
            w = float(nm - pm)
            ws += v[i] * w
            wt += w
        return ws / wt if wt > 0 else sum(v) / len(v)


def _row_bytes(rows) -> int:
    """In-memory bytes of event rows: four 8-byte fields plus strings."""
    return sum(32 + len(r[3]) + len(r[5]) for r in rows)


def _files(path: str) -> dict:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def _rows_of(df_rows):
    out = []
    for r in df_rows:
        r = tuple(r)
        out.append(tuple(_us_of(x) if isinstance(x, _dt.datetime) else x
                         for x in r))
    return out


def _cmp(rows, expected, cols=COLS, tol=None):
    return compare(cols, _rows_of(rows), cols, expected, tol)


class IotMixed:
    name = "iot_mixed"
    layers = ("session", "container", "sql.tql", "operators", "dml")

    def __init__(self, data_dir: str, work_dir: str, seed: int):
        self.data_dir = os.path.join(data_dir, "iot")
        self.work_dir = work_dir
        self.series: dict[int, Series] = {}
        for path in ("devices.parquet", "long.parquet"):
            t = pq.read_table(os.path.join(self.data_dir, path))
            ts = t["ts"].cast("int64").to_pylist()
            cols = [t[c].to_pylist() for c in COLS]
            cols[1] = ts
            for row in zip(*cols):
                self.series.setdefault(row[2], {})[row[1]] = row
        self.series = {u: Series(r) for u, r in self.series.items()}
        self.long = sorted(u for u in self.series if u >= LONG_DEVICE_BASE)
        self.short = sorted(u for u in self.series if u < LONG_DEVICE_BASE)
        # Zipf popularity over a seeded device permutation
        self.rank = np.random.default_rng(seed + 11).permutation(self.short)
        w = 1.0 / np.arange(1, len(self.rank) + 1) ** ZIPF_S
        self.pop = w / w.sum()
        self.dml_ref = {}  # event_id -> row, the durable table's reference
        self.next_event_id = 10**9
        self.user_bytes = 0
        self.store = None
        self.dml = None

    # -- setup ---------------------------------------------------------
    def register(self, spark) -> None:
        """Containers for every device plus the durable table."""
        from griddb_spark.container import GridStore
        from griddb_spark.dml import DmlTable, range_partition_expr

        src = {
            "devices": spark.read.parquet(
                os.path.join(self.data_dir, "devices.parquet")),
            "long": spark.read.parquet(
                os.path.join(self.data_dir, "long.parquet")),
        }
        store = GridStore(spark)
        for u in self.short + self.long:
            df = src["long" if u >= LONG_DEVICE_BASE else "devices"]
            # a SQL-string filter: one py4j call per device instead of four
            store.put_container(f"dev{u}", df.filter(f"user_id = {u}"),
                                container_type="TIME_SERIES", row_key="ts")
        self.store = store
        path = os.path.join(self.work_dir, "dml_events")
        shutil.rmtree(path, ignore_errors=True)
        self.dml = DmlTable(spark, path, range_partition_expr("ts", 1, "DAY"))
        self.dml.create(src["devices"], mode="overwrite")
        self.dml_ref = {}
        for s in self.series.values():
            for r in s.rows.values():
                if r[2] < LONG_DEVICE_BASE:
                    self.dml_ref[r[0]] = r
        # in-memory (Arrow) bytes of the rows the table was created from
        self.user_bytes = pq.read_table(
            os.path.join(self.data_dir, "devices.parquet")).nbytes

    def warmup(self, spark) -> None:
        """A few reads on the least popular device: the warm-up that
        belongs to set-up."""
        c = self.store.get_container(f"dev{self.rank[-1]}")
        s = self.series[self.rank[-1]]
        t = s.sorted_ts()[len(s.rows) // 2]
        c.get_at(_iso(t)).collect()
        c.interpolate(_iso(t), "value").collect()
        c.aggregate(_iso(t - DAY_US), _iso(t), "value", "AVERAGE").collect()
        c.sample(_iso(t - DAY_US), _iso(t), 1, "HOUR", "value").collect()
        c.query("SELECT TIME_AVG(value)").collect()
        self.dml.scan_range(_ms(t) - DAY_MS, _ms(t)).count()

    def prime(self, spark) -> None:
        """Every operation kind once, unmeasured, on the live store."""
        from perfbench.run import Ctx

        ctx = Ctx(spark)
        rng = np.random.default_rng([2**20])
        for kind in dict.fromkeys(SHORT_READS + WRITES):
            getattr(self, "_op_" + kind)(ctx, int(self.rank[0]), rng)

    # -- the operation sequence ----------------------------------------
    def _device(self, rng) -> int:
        return int(self.rank[rng.choice(len(self.rank), p=self.pop)])

    def _recent_t(self, rng, s: Series):
        ts = s.sorted_ts()
        lo, hi = ts[0], ts[-1]
        back = min(hi - lo, int(rng.exponential(3 * DAY_US)))
        t = hi - back
        return t - t % 1_000_000  # whole seconds, like a client clock

    def plan(self, pass_no: int):
        """The operation list of one pass: (kind, device, op seed). It
        depends on the pass number only, so every input seed runs the same
        sequence of popularity ranks and kinds."""
        rng = np.random.default_rng([pass_no, 1])
        ops = [(k, "short") for k in SHORT_READS + WRITES]
        ops += [(k, "long") for k in LONG_READS]
        order = rng.permutation(len(ops))
        out = []
        for i in order:
            kind, where = ops[i]
            if where == "long":
                u = int(self.long[rng.integers(0, len(self.long))])
            else:
                u = self._device(rng)
            out.append((kind, u, int(rng.integers(0, 2**31))))
        return out

    def run_pass(self, ctx, pass_no: int) -> None:
        for kind, u, sub in self.plan(pass_no):
            rng = np.random.default_rng([pass_no, sub])
            getattr(self, "_op_" + kind)(ctx, u, rng)

    # -- reads ---------------------------------------------------------
    def _c(self, u):
        return self.store.get_container(f"dev{u}")

    def _op_get_at(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        t = self._recent_t(rng, s)
        op = "PREVIOUS" if rng.random() < 0.5 else "NEXT"
        r = s.prev(t) if op == "PREVIOUS" else s.next(t)
        ctx.op("get_at", "read", lambda: c.get_at(_iso(t), op).collect(),
               lambda rows: _cmp(rows, [r] if r else []))

    def _op_interpolate(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        t = self._recent_t(rng, s)
        r = s.interp_row(t)
        ctx.op("interpolate", "read",
               lambda: c.interpolate(_iso(t), "value").collect(),
               lambda rows: _cmp(rows, [r] if r else []))

    def _op_aggregate(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        end = self._recent_t(rng, s)
        start = end - 7 * DAY_US
        agg = ["MAXIMUM", "MINIMUM", "COUNT", "AVERAGE"][rng.integers(0, 4)]
        vals = [s.rows[x][4] for x in s.rows if start <= x <= end]
        if agg == "COUNT":
            exp = len(vals)
        elif not vals:
            exp = None
        else:
            exp = {"MAXIMUM": max, "MINIMUM": min,
                   "AVERAGE": lambda v: math.fsum(v) / len(v)}[agg](vals)
        ctx.op("aggregate", "read",
               lambda: c.aggregate(_iso(start), _iso(end), "value",
                                   agg).collect(),
               lambda rows: _cmp(rows, [(exp,)], ["aggregation_result"],
                                 AVG_TOL))

    def _sample_window(self, rng, s):
        end = self._recent_t(rng, s)
        end -= end % HOUR_US
        return end - 12 * HOUR_US, end

    def _op_sample(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        start, end = self._sample_window(rng, s)
        exp = s.sample(start, end, HOUR_US)
        ctx.op("sample", "read",
               lambda: c.sample(_iso(start), _iso(end), 1, "HOUR",
                                "value").collect(),
               lambda rows: _cmp(rows, exp))

    def _op_tql_sampling(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        start, end = self._sample_window(rng, s)
        exp = s.sample(start, end, HOUR_US)
        tql = (f"SELECT TIME_SAMPLING(value, TIMESTAMP('{_iso(start)}'), "
               f"TIMESTAMP('{_iso(end)}'), 1, HOUR)")
        ctx.op("tql_sampling", "read", lambda: c.query(tql).collect(),
               lambda rows: _cmp(rows, exp))

    def _op_query_range(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        end = self._recent_t(rng, s)
        start = end - 5 * DAY_US
        exp = [s.rows[x] for x in s.rows if start <= x < end]
        ctx.op("query_range", "read",
               lambda: c.query_range(_iso(start), _iso(end)).collect(),
               lambda rows: _cmp(rows, exp))

    def _op_multi_get(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        ts = s.sorted_ts()
        keys = sorted({ts[i] for i in rng.integers(len(ts) // 2, len(ts), 4)})
        exp = [s.rows[k] for k in keys]
        ctx.op("multi_get", "read",
               lambda: c.multi_get([_dt_of(k) for k in keys]).collect(),
               lambda rows: _cmp(rows, exp))

    def _op_tql_select(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        x = float(rng.integers(10, 80))
        hits = sorted((r for r in s.rows.values() if r[4] > x),
                      key=lambda r: r[1], reverse=True)[:5]
        tql = f"SELECT * WHERE value > {x} ORDER BY ts DESC LIMIT 5"
        ctx.op("tql_select", "read", lambda: c.query(tql).collect(),
               lambda rows: _cmp(rows, hits))

    def _op_tql_time_avg(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        exp = s.time_avg()
        ctx.op("tql_time_avg", "read",
               lambda: c.query("SELECT TIME_AVG(value)").collect(),
               lambda rows: _cmp(rows, [(exp,)], ["aggregation_result"],
                                 AVG_TOL))

    def _dml_day(self, rng):
        """A recent day of the durable table (query times lean recent)."""
        day = 29 - min(29, int(rng.exponential(4)))
        lo = _ms(EV_START_US) + day * DAY_MS
        return lo, lo + DAY_MS

    def _dml_rows(self, lo, hi, ids=None):
        return [r for r in self.dml_ref.values()
                if lo <= _ms(r[1]) < hi and (ids is None or r[0] in ids)]

    # -- writes --------------------------------------------------------
    def _new_rows(self, rng, u, ts_list):
        out = []
        for t in ts_list:
            self.next_event_id += 1
            out.append((self.next_event_id, t, u,
                        ["click", "error", "view"][rng.integers(0, 3)],
                        round(float(rng.exponential(50.0)), 2) + 0.01,
                        '{"k": 1}'))
        return out

    def _spark_rows(self, rows):
        return [{"event_id": r[0], "ts": _dt_of(r[1]), "user_id": r[2],
                 "event_type": r[3], "value": r[4], "props": r[5]}
                for r in rows]

    def _op_append(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        last = s.sorted_ts()[-1]
        new = self._new_rows(rng, u, [last + int(rng.integers(1, 600)) * 10**6
                                      + k for k in range(2)])
        for r in new:
            s.rows[r[1]] = r

        def op():
            c.append(self._spark_rows(new))
            return c.multi_get([_dt_of(r[1]) for r in new]).collect()

        ctx.op("append", "write", op, lambda rows: _cmp(rows, new))

    def _op_put(self, ctx, u, rng):
        s, c = self.series[u], self._c(u)
        ts = s.sorted_ts()
        t = ts[int(rng.integers(len(ts) // 2, len(ts)))]
        old = s.rows[t]
        new = (old[0], t, u, old[3], round(old[4] + 1.25, 2), old[5])
        s.rows[t] = new

        def op():
            c.put(self._spark_rows([new]))
            return c.multi_get([_dt_of(t)]).collect()

        ctx.op("put", "write", op, lambda rows: _cmp(rows, [new]))

    def _op_multi_put(self, ctx, u, rng):
        devs = sorted({u, *(int(self.rank[i]) for i in rng.integers(0, 50, 2))})
        batch = {}
        for d in devs:
            s = self.series[d]
            new = self._new_rows(rng, d, [s.sorted_ts()[-1] + 10**6 * 7])
            for r in new:
                s.rows[r[1]] = r
            batch[d] = new

        def op():
            self.store.multi_put({f"dev{d}": self._spark_rows(rows)
                                  for d, rows in batch.items()})
            return [self._c(d).multi_get([_dt_of(r[1]) for r in rows]).collect()
                    for d, rows in batch.items()]

        def check(results):
            for rows, exp in zip(results, batch.values()):
                err = _cmp(rows, exp)
                if err:
                    return err
            return None

        ctx.op("multi_put", "write", op, check)

    def _op_dml_insert(self, ctx, u, rng):
        lo, hi = self._dml_day(rng)
        ts = sorted({lo * 1000 + int(x) for x in
                     rng.integers(0, DAY_US, 20)})
        new = self._new_rows(rng, u, ts)
        ids = {r[0] for r in new}
        for r in new:
            self.dml_ref[r[0]] = r
        self.user_bytes += _row_bytes(new)
        spark = self.dml.spark

        def op():
            from pyspark.sql import functions as F

            df = spark.createDataFrame(self._spark_rows(new),
                                       schema=self.dml.read().schema)
            self.dml.insert(df)
            return (self.dml.scan_range(lo, hi).select(*COLS)
                    .filter(F.col("event_id").isin(sorted(ids))).collect())

        self._dml_op(ctx, "dml_insert", op, lambda rows: _cmp(rows, new), new)

    def _dml_op(self, ctx, name, op, check, rows) -> None:
        """A durable-table write; when tracing, also the files and bytes
        it left in the table against the bytes of the rows it changed."""
        before = _files(self.dml.path) if ctx.tracer is not None else None
        ctx.op(name, "write", op, check)
        if before is not None:
            after = _files(self.dml.path)
            new = {f: n for f, n in after.items() if f not in before}
            ctx.ops[-1].update(files_written=len(new),
                               bytes_written=sum(new.values()),
                               user_bytes=_row_bytes(rows))

    def _pick_ids(self, rng, lo, hi, k):
        day = sorted(r[0] for r in self._dml_rows(lo, hi))
        return sorted({day[i] for i in rng.integers(0, len(day), k)})

    def _op_dml_update(self, ctx, u, rng):
        from pyspark.sql import functions as F

        lo, hi = self._dml_day(rng)
        ids = self._pick_ids(rng, lo, hi, 5)
        for i in ids:
            r = self.dml_ref[i]
            self.dml_ref[i] = (*r[:4], r[4] + 1.5, r[5])
        exp = [self.dml_ref[i] for i in ids]

        def op():
            cond = F.col("event_id").isin(ids)
            self.dml.update(cond, {"value": F.col("value") + F.lit(1.5)})
            return (self.dml.scan_range(lo, hi).select(*COLS)
                    .filter(cond).collect())

        self._dml_op(ctx, "dml_update", op, lambda rows: _cmp(rows, exp), exp)

    def _op_dml_delete(self, ctx, u, rng):
        from pyspark.sql import functions as F

        lo, hi = self._dml_day(rng)
        ids = self._pick_ids(rng, lo, hi, 5)
        gone = [self.dml_ref.pop(i) for i in ids]

        def op():
            cond = F.col("event_id").isin(ids)
            self.dml.delete(cond)
            return (self.dml.scan_range(lo, hi).select(*COLS)
                    .filter(cond).collect())

        self._dml_op(ctx, "dml_delete", op, lambda rows: _cmp(rows, []),
                     gone)

    def _op_dml_compact(self, ctx, u, rng):
        from pyspark.sql import functions as F

        exp = [(len(self.dml_ref), math.fsum(r[4] for r in self.dml_ref.values()))]

        def op():
            self.dml.compact()
            return self.dml.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("value").alias("s")).collect()

        ctx.op("dml_compact", "write", op,
               lambda rows: _cmp(rows, exp, ["n", "s"], {"s": 1e-9}))

    # -- workload-level figures -----------------------------------------
    def space_amp(self) -> float:
        """Bytes on disk under the durable table per byte of user rows
        ingested into it."""
        return sum(_files(self.dml.path).values()) / self.user_bytes
