"""Seeded input generator for the graft benchmark.

Every table is synthesised from the seed alone (numpy PCG64), in the
shapes of the repository's sf0.1 test tables (TESTDATA.md): the TPC-H-ish
star schema and the one-month `events` feed. `scale` 1.0 reproduces the
sf0.1 row counts. Files are written with
pyarrow in the same physical types as the test tables (naive
timestamp[us], one row group), so every registry query and its DuckDB
oracle read them unchanged.

The same (workload, seed) always yields byte-identical files; `generate`
returns their sizes and one SHA-256 over all of them.
"""
import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload; see README.md for why each is chosen.
DASHBOARD_SCALE = 0.1         # lineitem 60k rows
MONTHS = 2                    # months per backfill in monthly_dag
MONTH_EVENTS = 50_000         # raw events rows per month
SCORE_LINEITEM = 50_000       # scoring batch rows per month
MODEL_SAMPLE = 5_000          # training sample for the seeded model


def _day_ts(rng, start, end, n):
    """Midnight timestamps uniformly in [start, end] (dates, inclusive)."""
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int)) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(path, table):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, scale):
    n_li = int(600_000 * scale)
    n_ord = int(150_000 * scale)
    n_cust = int(15_000 * scale)
    n_part = int(20_000 * scale)
    n_supp = max(int(1_000 * scale), 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = np.array(["blue", "hot", "large", "red", "green", "steel"])
    nouns = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(colors[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 5, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = lineitem(rng, n_li, n_ord, n_part, n_supp)
    return t


def lineitem(rng, n, n_ord, n_part, n_supp, key_offset=0):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n) + key_offset, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n)})


def events_month(rng, n):
    """One January-2024 month of the events feed, time-ordered."""
    micros = np.sort(rng.integers(0, 31 * 86_400_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "micros": micros,
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    }


def events_table(ev):
    ts = np.datetime64("2024-01-01", "us") + ev["micros"].astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(ev["event_id"], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": ev["event_type"],
        "value": ev["value"],
        "props": ev["props"]})


def raw_month(rng, base, m, n):
    """Month `m` (0 = 2024-01) of the raw feed: the base month's events with
    event ids offset by m*n, timestamps stretched onto the month, and seeded
    defects the ingest stage must drop: ~1.5% null user_id, ~1% null value,
    ~1% negative value and ~1% rows stamped in the previous month. `value`
    arrives as text and `user_id` as int32, so the cast projection has work."""
    start = dt.date(2024, 1, 1)
    first = dt.date(start.year + (start.month - 1 + m) // 12, (start.month - 1 + m) % 12 + 1, 1)
    nxt = dt.date(first.year + first.month // 12, first.month % 12 + 1, 1)
    days = (nxt - first).days
    micros = (base["micros"] * days) // 31
    late = rng.random(n) < 0.01
    micros = np.where(late, -1 - rng.integers(0, 86_400_000_000, n), micros)
    ts = np.datetime64(first.isoformat(), "us") + micros.astype("timedelta64[us]")
    value = np.char.mod("%.2f", base["value"]).astype(object)
    neg = rng.random(n) < 0.01
    value[neg] = np.char.mod("-%.2f", base["value"][neg] + 0.01)
    null_v = rng.random(n) < 0.01
    value[null_v] = None
    null_u = rng.random(n) < 0.015
    return pa.table({
        "event_id": pa.array(base["event_id"] + m * n, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(base["user_id"].astype(np.int32), pa.int32(), mask=null_u),
        "event_type": base["event_type"],
        "value": pa.array(value, pa.string()),
        "props": base["props"]}), first.isoformat()[:7]


def generate(workload, seed, out_dir):
    """Write the inputs of `workload` for `seed` under out_dir. Returns a
    description: row counts per table, total bytes and a content hash."""
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    if workload == "dashboard":
        tables = star_schema(rng, DASHBOARD_SCALE)
        tables["events"] = events_table(events_month(rng, int(100_000 * DASHBOARD_SCALE)))
    elif workload == "monthly_dag":
        base = events_month(rng, MONTH_EVENTS)
        for m in range(MONTHS):
            table, name = raw_month(rng, base, m, MONTH_EVENTS)
            tables[f"raw_{name}"] = table
        n_ord = SCORE_LINEITEM // 4
        tables["score_batch"] = lineitem(rng, SCORE_LINEITEM, n_ord, 20_000, 1_000,
                                         key_offset=n_ord)
        tables["train_sample"] = lineitem(rng, MODEL_SAMPLE, n_ord, 20_000, 1_000)
    else:
        raise ValueError(f"unknown workload {workload}")
    digest = hashlib.sha256()
    rows, size = {}, 0
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(path, tables[name])
        with open(path, "rb") as f:
            data = f.read()
        digest.update(name.encode())
        digest.update(data)
        rows[name] = tables[name].num_rows
        size += len(data)
    return {"rows": rows, "bytes": size, "sha256": digest.hexdigest()}
