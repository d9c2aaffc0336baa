"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine is made here from one integer
seed; the same seed gives byte-identical files. The generator writes the
TPC-H-shaped star schema plus the ``events``/``documents``/``embeddings``
tables with the schemas and value domains the ``workload.QUERIES`` gates
expect, then derives each workload's inputs from that base:

- ``iot/``: the per-device events (one TimeSeries container per
  ``user_id``) and a few long-history device series of 10^4+ rows;
- ``sql/``: a key-shifted K-fold replica of the star schema, made by the
  replication in ``scripts/scale_probe.py`` (several row groups per table);
- ``stream/``: the events sorted by ``ts`` and split into N arrival files
  (sql_analytics streams them).

Usage: python3 perfbench/gen.py --seed 7 --out .perfbench_cache/s7
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: rows per table of the base inputs: lineitem ~4x orders, and the events
#: density of the bench's sf0.1 events table (1500 devices x ~66 rows)
BASE_SIZES = {"orders": 15_000, "customers": 1_500, "suppliers": 100,
              "parts": 2_000, "devices": 1_500, "events": 99_000,
              "docs": 500, "vecs": 500}
DIM = 64
#: long-history devices: rows per container (the quadratic interpolate
#: neighbour frame dominates read p90 at these sizes)
LONG_ROWS = (10_000, 10_000, 10_000)
LONG_DEVICE_BASE = 1_000_000
#: replica factor of the sql_analytics star schema
SQL_K = 2
#: the streamed events: the first STREAM_DAYS of events, in
#: STREAM_FILES arrival files
STREAM_DAYS = 8
STREAM_FILES = 5
#: rows of the streaming priming file
PRIME_ROWS = 2_000

EV_START_US = 1704067200 * 1_000_000  # 2024-01-01 UTC
EV_SPAN_US = 30 * 86400 * 1_000_000
DATE0_US = 788918400 * 1_000_000      # 1995-01-01 UTC
DAY_US = 86400 * 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a the data table key value row column scan join merge sort hash "
         "query filter group agg order line part customer batch stream "
         "window spark fast slow big small vector").split()

TS = pa.timestamp("us")


def _write(table: pa.Table, path: str, row_group_size: int | None = None):
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_base(seed: int, out: str) -> None:
    """The star schema + events + corpus tables, one parquet each."""
    rng = np.random.default_rng(seed)
    n = BASE_SIZES
    N_ORDERS, N_CUSTOMERS, N_SUPPLIERS, N_PARTS = (
        n["orders"], n["customers"], n["suppliers"], n["parts"])
    N_DOCS, N_VECS = n["docs"], n["vecs"]
    os.makedirs(out, exist_ok=True)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMERS)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    }), f"{out}/supplier.parquet")
    pname = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))]
    retail = np.round(900 + (np.arange(N_PARTS) % 1000) / 10.0, 2)
    _write(pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": pname,
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, N_PARTS)],
        "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": retail,
    }), f"{out}/part.parquet")

    odate = DATE0_US + rng.integers(0, 2400, N_ORDERS) * DAY_US
    _write(pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": pa.array(odate, TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(okey)
    pkey = rng.integers(0, N_PARTS, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, N_SUPPLIERS, nl),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, nl) * DAY_US, TS),
    }), f"{out}/lineitem.parquet")

    _write(events_table(rng, n["events"], n["devices"], 0),
           f"{out}/events.parquet")

    wl = rng.integers(8, 80, N_DOCS)
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in wl]
    # a slice of exact and near duplicates so the dedup stages find work
    for i in range(0, N_DOCS, 10):
        texts[i + 1] = texts[i]
        texts[i + 2] = texts[i] + " data"
    _write(pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, N_DOCS)],
        "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    centers = rng.standard_normal((10, DIM))
    label = rng.integers(0, 10, N_VECS)
    v = centers[label] + 0.8 * rng.standard_normal((N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }), f"{out}/embeddings.parquet")


def events_table(rng, n: int, n_devices: int, first_id: int) -> pa.Table:
    """IoT events: uniform arrival over January 2024, right-skewed values
    with two decimals, a small JSON payload."""
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(EV_START_US + rng.integers(0, EV_SPAN_US, n), TS),
        "user_id": rng.integers(0, n_devices, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def gen_iot(seed: int, base: str, out: str) -> None:
    """Device events sorted by device then time (small row groups, so a
    per-device filter prunes), plus the long-history device series."""
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out, exist_ok=True)
    ev = pq.read_table(f"{base}/events.parquet").sort_by(
        [("user_id", "ascending"), ("ts", "ascending")])
    _write(ev, f"{out}/devices.parquet", row_group_size=4_096)
    parts = []
    for i, rows in enumerate(LONG_ROWS):
        # one reading a minute from the start of January, values drift
        step = 60_000_000
        ts = EV_START_US + np.arange(rows, dtype=np.int64) * step \
            + rng.integers(0, 30_000_000, rows)
        parts.append(pa.table({
            "event_id": np.arange(rows, dtype=np.int64) + (i + 1) * 10**7,
            "ts": pa.array(ts, TS),
            "user_id": np.full(rows, LONG_DEVICE_BASE + i, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
            "value": np.round(50 + np.cumsum(rng.normal(0, 1, rows)), 2),
            "props": ['{"k": 0}'] * rows,
        }))
    _write(pa.concat_tables(parts), f"{out}/long.parquet")


def gen_sql(base: str, out: str) -> None:
    """K-fold key-shifted replica of the star schema (scale_probe)."""
    os.environ["SPARK_GRAFT_SF_DIR"] = base
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import scale_probe

    scale_probe.SRC = base
    tables = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem"}
    scale_probe.replicate(SQL_K, out, tables=tables)
    # a parquet row group is one scan split: keep several per table
    for t in ("lineitem", "orders"):
        tbl = pq.read_table(f"{out}/{t}.parquet")
        _write(tbl, f"{out}/{t}.parquet",
               row_group_size=max(1, tbl.num_rows // 8))
    for t in ("events", "documents", "embeddings"):
        _write(pq.read_table(f"{base}/{t}.parquet"), f"{out}/{t}.parquet")


def gen_stream(base: str, out: str) -> None:
    """``events/``: the first STREAM_DAYS of events in ts order, split into
    arrival files; ``prime/``: one small file of the same events for the
    unmeasured priming pass."""
    import pyarrow.compute as pc

    for d in ("events", "prime"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    ev = pq.read_table(f"{base}/events.parquet").sort_by("ts")
    cut = pa.scalar(EV_START_US + STREAM_DAYS * DAY_US, TS)
    ev = ev.filter(pc.less(ev["ts"], cut))
    bounds = np.linspace(0, ev.num_rows, STREAM_FILES + 1).astype(int)
    for i in range(STREAM_FILES):
        _write(ev.slice(bounds[i], bounds[i + 1] - bounds[i]),
               f"{out}/events/part-{i:04d}.parquet")
    _write(ev.slice(0, PRIME_ROWS), f"{out}/prime/part-0000.parquet")


#: workload -> [(input directory, writer of that directory from the base)]
PARTS = {
    "iot_mixed": [("iot", lambda seed, base, out: gen_iot(seed, base, out))],
    "sql_analytics": [("sql", lambda seed, base, out: gen_sql(base, out)),
                      ("stream", lambda seed, base, out: gen_stream(base, out))],
}


def _once(path: str, write) -> None:
    """Run ``write`` unless ``path`` holds a finished marker; a run cut
    short leaves no marker, so its partial files are written again."""
    done = os.path.join(path, "DONE")
    if not os.path.exists(done):
        write()
        with open(done, "w") as f:
            f.write("done\n")


def generate(seed: int, out: str, workloads=tuple(PARTS)) -> str:
    """Generate (once) the base tables and each named workload's inputs
    for ``seed`` under ``out``; returns ``out``."""
    base = os.path.join(out, "base")
    _once(base, lambda: gen_base(seed, base))
    for w in workloads:
        for sub, write in PARTS[w]:
            path = os.path.join(out, sub)
            _once(path, lambda: write(seed, base, path))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
