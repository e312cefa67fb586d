"""Seeded inputs of the benchmark's workloads.

`run.py` calls `generate` before it starts the measured JVM, so the JVM's
first Spark work is the cold pass. The same seed gives byte-identical
files. The seed also sets each workload's input properties (the update
share and dirty-value share of the daily batches, every fixture row),
each drawn from a narrow band, so that seeds differ in which rows are
hit, not in how much work a pass does.

Sizes follow the driver's sf0.01 fixture (FIXTURES.md): 15,000 orders,
60,000 line items, and so on. The fixture tables are written with
pyarrow, in the same types as that fixture (timestamp[us], list<float>),
so registered queries and their DuckDB oracles run on them unchanged.
"""
import json
import zlib
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("key agg row scan slow fast table value part hash merge batch spark a the line "
         "sort window data column join small customer query big order group filter stream "
         "vector").split()

# sf0.01 row counts
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, LINES, EVENTS, DOCS = 1500, 100, 2000, 15000, 60000, 10000, 500

# etl_daily_upsert: one pass loads sf0.01's order count as five daily batches
ETL_DAYS, ETL_PER_DAY = 5, 3000
MISSING = ["nan", "", "NaN", "null", " "]


def rng(seed, salt):
    return np.random.default_rng([seed & 0xFFFFFFFFFFFFFFFF, zlib.crc32(salt.encode())])


def band(seed, salt, lo, hi):
    """A draw from [lo, hi) fixed by the seed."""
    return lo + (hi - lo) * rng(seed, salt).random()


def words(r, n):
    return [VOCAB[i] for i in r.integers(0, len(VOCAB), n)]


def money(r, lo, hi, n):
    return np.round((lo + (hi - lo) * r.random(n)) * 100) / 100


def write(path, columns, schema):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(columns, schema)],
                                         schema=schema), path)


def tables(seed, out):
    """The ten fixture tables of FIXTURES.md as `<out>/<table>.parquet`."""
    r = rng(seed, "tables")
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def save(name, fields, cols):
        write(out / f"{name}.parquet", cols, pa.schema(fields))

    save("region", [("r_regionkey", i32), ("r_name", s)],
         [list(range(5)), ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]])
    save("nation", [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
         [list(range(25)), [f"NATION_{i}" for i in range(25)], [i % 5 for i in range(25)]])
    segments = np.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"])
    save("customer", [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)],
         [np.arange(CUSTOMERS), [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
          r.integers(0, 25, CUSTOMERS).astype(np.int32), money(r, -999, 9999, CUSTOMERS),
          segments[r.integers(0, 5, CUSTOMERS)]])
    save("supplier", [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)],
         [np.arange(SUPPLIERS), [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
          r.integers(0, 25, SUPPLIERS).astype(np.int32), money(r, -999, 9999, SUPPLIERS)])
    adj = np.array(["small", "red", "large", "blue", "shiny", "green", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve", "lamp", "tube"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    save("part", [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)],
         [np.arange(PARTS), np.char.add(np.char.add(adj[r.integers(0, 8, PARTS)], " "),
                                        noun[r.integers(0, 8, PARTS)]),
          [f"Brand#{b}" for b in r.integers(0, 25, PARTS)], types[r.integers(0, 6, PARTS)],
          r.integers(1, 51, PARTS).astype(np.int32), 900.0 + (np.arange(PARTS) % 1000) / 10.0])
    t0 = np.datetime64("1995-01-01T00:00:00", "us")
    day = np.timedelta64(86400 * 10**6, "us")
    save("orders", [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                    ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)],
         [np.arange(ORDERS), r.integers(0, CUSTOMERS, ORDERS),
          np.array(["O", "F", "P"])[r.integers(0, 3, ORDERS)], money(r, 1000, 500000, ORDERS),
          t0 + r.integers(0, 2400, ORDERS) * day,
          np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
              r.integers(0, 5, ORDERS)]])
    save("lineitem", [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                      ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                      ("l_linestatus", s), ("l_shipdate", ts)],
         [r.integers(0, ORDERS, LINES), r.integers(0, PARTS, LINES),
          r.integers(0, SUPPLIERS, LINES), (1 + np.arange(LINES) % 7).astype(np.int32),
          r.integers(1, 51, LINES).astype(np.float64), money(r, 900, 100000, LINES),
          r.integers(0, 11, LINES) / 100, r.integers(0, 9, LINES) / 100,
          np.array(["A", "N", "R"])[r.integers(0, 3, LINES)],
          np.array(["O", "F"])[r.integers(0, 2, LINES)],
          t0 + r.integers(1, 2501, LINES) * day])
    # events: strictly increasing timestamps over about 30 days
    gaps = r.integers(1, 2 * 30 * 86400 // EVENTS + 1, EVENTS) * 10**6 + r.integers(0, 10**6, EVENTS)
    save("events", [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                    ("value", f64), ("props", s)],
         [np.arange(EVENTS), np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps),
          r.integers(0, 150, EVENTS),
          np.array(["click", "signup", "error", "view", "purchase"])[r.integers(0, 5, EVENTS)],
          money(r, 0, 100, EVENTS), [f'{{"k": {k}}}' for k in r.integers(0, 100, EVENTS)]])
    # a seeded share of the documents are near-duplicates: a copy of an
    # earlier document with one or two words replaced
    near = band(seed, "docs.near", 0.04, 0.06)
    texts = []
    for i, n in enumerate(r.integers(20, 80, DOCS)):
        if i > 0 and r.random() < near:
            w = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 3))):
                w[int(r.integers(0, len(w)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words(r, int(n))))
    save("documents", [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)],
         [np.arange(DOCS), texts,
          np.array(["en", "de", "fr", "es", "zh"])[r.integers(0, 5, DOCS)],
          [f"src{k}" for k in r.integers(0, 20, DOCS)], [len(t) for t in texts]])
    # a vector is one of ten seeded label centres plus noise
    centres = rng(seed, "centres").normal(0, 0.15, (10, 64))
    labels = r.integers(0, 10, DOCS)
    vecs = (centres[labels] + r.normal(0, 0.05, (DOCS, 64))).astype(np.float32)
    save("embeddings", [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)],
         [np.arange(DOCS), list(vecs), labels.astype(np.int32)])


def etl(seed, out):
    """Daily JSON-lines batches `<out>/batch/day=<d>.json` of dirty orders
    with nested line items, a mix of new keys and updates, and
    `<out>/expected.parquet`: every record as the clean pipeline should
    load it, for the last-write-wins check."""
    r = rng(seed, "etl")
    update_share = band(seed, "etl.update", 0.30, 0.40)
    dirty_share = band(seed, "etl.dirty", 0.15, 0.25)
    floor, day0 = datetime(1900, 1, 1), datetime(2024, 3, 1)
    cols = {c: [] for c in ("day", "o_orderkey", "o_custkey", "o_status", "o_total",
                            "o_orderdate", "o_comment", "n_items", "items_value", "l_sku",
                            "l_qty", "l_price", "l_version", "META_partition_date")}
    next_key = 0
    (out / "batch").mkdir(parents=True)
    for d in range(ETL_DAYS):
        n_upd = 0 if d == 0 else int(ETL_PER_DAY * update_share)
        upd = [int(k) for k in r.choice(next_key, n_upd, replace=False)] if n_upd else []
        keys = upd + list(range(next_key, next_key + ETL_PER_DAY - len(upd)))
        next_key += ETL_PER_DAY - len(upd)
        lines = []
        for k in keys:
            items = []
            for _ in range(int(r.integers(0, 6))):
                tags = [] if r.random() < 0.2 else words(r, int(r.integers(1, 4)))
                items.append({"l_sku": f"SKU-{int(r.integers(0, 500))}",
                              "l_qty": float(r.integers(1, 21)),
                              "l_price": round(float(r.random()) * 50000) / 100,
                              "l_version": int(r.integers(1, 10)), "l_tags": tags})
            if r.random() < dirty_share / 3:
                date = datetime(1850 + int(r.integers(0, 40)), 6, 1)
            else:
                date = datetime(1995, 1, 1) + timedelta(seconds=int(r.integers(0, 200000000)))
            dirty = [r.random() < dirty_share for _ in range(5)]
            cust = None if dirty[0] else int(r.integers(0, 100000))
            status = None if dirty[1] else ["O", "F", "P"][int(r.integers(0, 3))]
            total = None if dirty[2] else round(float(r.random()) * 5e7) / 100
            date = None if dirty[3] else date
            comment = None if dirty[4] else " ".join(words(r, 3))

            # each missing value is spelled the way a dirty source spells it
            def spell(v, fmt):
                return MISSING[int(r.integers(0, 5))] if v is None else fmt(v)
            lines.append(json.dumps({
                "o_orderkey": k,
                "o_custkey": spell(cust, lambda c: str(c) if r.random() < 0.5 else f"{c}.0"),
                "o_status": spell(status, str),
                "o_total": spell(total, lambda v: f"{v:.2f}"),
                "o_orderdate": spell(date, lambda t: t.strftime("%Y-%m-%d %H:%M:%S")
                                     + f".{int(r.integers(0, 1000))}"),
                "o_comment": spell(comment, str),
                "items": items}))
            kept = [i for i in items if i["l_tags"]]
            top = None
            for i in kept:
                if top is None or i["l_version"] > top["l_version"]:
                    top = i
            value = 0.0
            for i in kept:
                value += i["l_qty"] * i["l_price"]
            for c, v in (("day", d), ("o_orderkey", k), ("o_custkey", cust), ("o_status", status),
                         ("o_total", total),
                         ("o_orderdate", None if date is None else max(date, floor)),
                         ("o_comment", comment), ("n_items", len(kept)), ("items_value", value),
                         ("l_sku", top and top["l_sku"]), ("l_qty", top and top["l_qty"]),
                         ("l_price", top and top["l_price"]), ("l_version", top and top["l_version"]),
                         ("META_partition_date", day0 + timedelta(days=d))):
                cols[c].append(v)
        (out / "batch" / f"day={d}.json").write_text("\n".join(lines) + "\n")
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    write(out / "expected.parquet", list(cols.values()), pa.schema([
        ("day", i32), ("o_orderkey", i64), ("o_custkey", i64), ("o_status", s), ("o_total", f64),
        ("o_orderdate", ts), ("o_comment", s), ("n_items", i32), ("items_value", f64),
        ("l_sku", s), ("l_qty", f64), ("l_price", f64), ("l_version", i32),
        ("META_partition_date", ts)]))


def generate(workload, seed, work):
    """Writes the inputs of `workload` for `seed` under `work`."""
    if workload == "etl_daily_upsert":
        etl(seed, Path(work) / "etl")
    elif workload == "query_mix":
        tables(seed, Path(work) / "input")
    else:
        raise ValueError(f"unknown workload {workload}")
