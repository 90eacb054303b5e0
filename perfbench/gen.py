"""Seeded input generation for the benchmark.

Every input the program sees is made here from the run's seed: the
warehouse tables the query catalog reads (parquet, same schemas and value
domains as the repository's TPC-H-style fixtures) and the CSV files the
ingest workloads fetch over HTTP. The same seed gives byte-identical files.

Each CSV column has a kind that fixes how its checksum is computed on both
sides (here from the generated values, in the JVM from the warehouse table):

  int    sum of the values
  money  sum of round(value * 100)
  text   sum of crc32(utf-8 text)
  date   sum of crc32('yyyy-MM-dd')
"""
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
EPOCH = np.datetime64("1970-01-01", "D")
WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge window "
         "order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
LANGS = ["en", "es", "zh", "de", "fr"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _days(rng, n, lo, hi):
    """Uniform whole days in [lo, hi] as µs timestamps (naive, UTC)."""
    a = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    return rng.integers(a, b + 1, n) * DAY_US


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _labels(prefix, keys):
    return np.array([f"{prefix}#{k:09d}" for k in keys], dtype=object)


# ---------------------------------------------------------------- row makers
# Each returns {column: (kind, numpy array)}; money columns hold cents and
# date columns hold µs timestamps.

def customer_rows(rng, keys, n_nations=25):
    n = len(keys)
    return {
        "c_custkey": ("int", keys),
        "c_name": ("text", _labels("Customer", keys)),
        "c_nationkey": ("int", rng.integers(0, n_nations, n)),
        "c_acctbal": ("money", _cents(rng, n, -999.99, 9999.99)),
        "c_mktsegment": ("text", _pick(rng, SEGMENTS, n)),
    }


def supplier_rows(rng, keys):
    n = len(keys)
    return {
        "s_suppkey": ("int", keys),
        "s_name": ("text", _labels("Supplier", keys)),
        "s_nationkey": ("int", rng.integers(0, 25, n)),
        "s_acctbal": ("money", _cents(rng, n, -999.99, 9999.99)),
    }


def part_rows(rng, keys):
    n = len(keys)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "p_partkey": ("int", keys),
        "p_name": ("text", _pick(rng, names, n)),
        "p_brand": ("text", np.array([f"Brand#{b}" for b in rng.integers(1, 26, n)],
                                     dtype=object)),
        "p_type": ("text", _pick(rng, PART_TYPES, n)),
        "p_size": ("int", rng.integers(1, 51, n)),
        "p_retailprice": ("money", 90000 + (keys % 1000) * 10),
    }


def orders_rows(rng, keys, n_cust):
    n = len(keys)
    return {
        "o_orderkey": ("int", keys),
        "o_custkey": ("int", rng.integers(0, n_cust, n)),
        "o_orderstatus": ("text", _pick(rng, ["F", "O", "P"], n)),
        "o_totalprice": ("money", _cents(rng, n, 1000.0, 500000.0)),
        "o_orderdate": ("date", _days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": ("text", _pick(rng, PRIORITIES, n)),
    }


def lineitem_rows(rng, n, n_orders, n_parts, n_supp):
    qty = rng.integers(1, 51, n)
    return {
        "l_orderkey": ("int", rng.integers(0, n_orders, n)),
        "l_partkey": ("int", rng.integers(0, n_parts, n)),
        "l_suppkey": ("int", rng.integers(0, n_supp, n)),
        "l_linenumber": ("int", rng.integers(1, 8, n)),
        "l_quantity": ("money", qty * 100),
        "l_extendedprice": ("money", _cents(rng, n, 900.0, 105000.0)),
        "l_discount": ("money", np.rint(rng.uniform(0, 10, n)).astype(np.int64)),
        "l_tax": ("money", rng.integers(0, 9, n)),
        "l_returnflag": ("text", _pick(rng, ["A", "N", "R"], n)),
        "l_linestatus": ("text", _pick(rng, ["F", "O"], n)),
        "l_shipdate": ("date", _days(rng, n, "1995-01-02", "2001-11-04")),
    }


# ------------------------------------------------------- warehouse (parquet)

def _arrow(cols, types):
    arrays = {}
    for name, (kind, v) in cols.items():
        t = types.get(name)
        if kind == "money":
            arrays[name] = pa.array(v / 100.0, pa.float64())
        elif kind == "date":
            arrays[name] = pa.array(v, pa.timestamp("us"))
        elif kind == "int":
            arrays[name] = pa.array(v, t or pa.int64())
        else:
            arrays[name] = pa.array(v, pa.string())
    return pa.table(arrays)


def warehouse(seed, sf, out_dir):
    """Write the ten catalog tables at scale factor `sf` under `out_dir`."""
    rng = np.random.default_rng([seed, 1])
    i32 = pa.int32()
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"]}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": _arrow(customer_rows(rng, np.arange(n_cust)), {"c_nationkey": i32}),
        "supplier": _arrow(supplier_rows(rng, np.arange(n_supp)), {"s_nationkey": i32}),
        "part": _arrow(part_rows(rng, np.arange(n_part)), {"p_size": i32}),
        "orders": _arrow(orders_rows(rng, np.arange(n_ord), n_cust), {}),
        "lineitem": _arrow(lineitem_rows(rng, int(6_000_000 * sf), n_ord, n_part, n_supp),
                           {"l_linenumber": i32}),
        "events": events(rng, int(1_000_000 * sf), max(10, int(15_000 * sf))),
        "documents": documents(rng, int(50_000 * sf)),
        "embeddings": embeddings(rng, min(2000, int(50_000 * sf))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def events(rng, n, n_users):
    start = (np.datetime64("2024-01-01", "us") - np.datetime64("1970-01-01", "us")).astype(np.int64)
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64) + 1
    ts = start + np.cumsum(gaps)
    value = np.maximum(1, np.rint(rng.exponential(5000, n))).astype(np.int64) / 100.0
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 100)))))
    langs = _pick(rng, LANGS, n)
    langs[rng.random(n) < 0.3] = "en"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


# ------------------------------------------------------------- ingest CSVs

def _text_array(kind, v):
    """The column as the CSV text the ingest reads."""
    if kind == "int":
        return pa.array(v).cast(pa.string())
    if kind == "money":
        a = np.abs(v)
        units = pc.binary_join_element_wise(
            pa.array(np.where(v < 0, "-", "")), pa.array(a // 100).cast(pa.string()), "")
        cents = pc.utf8_lpad(pa.array(a % 100).cast(pa.string()), 2, "0")
        return pc.binary_join_element_wise(units, cents, ".")
    if kind == "date":
        return pa.array(v, pa.timestamp("us")).cast(pa.date32()).cast(pa.string())
    return pa.array(v, pa.string())


def checksum(kind, v):
    if kind in ("int", "money"):
        return int(np.sum(v, dtype=np.int64))
    vc = pc.value_counts(_text_array(kind, v))
    return sum(zlib.crc32(t.encode()) * c for t, c in
               zip(vc.field("values").to_pylist(), vc.field("counts").to_pylist()))


def write_csv(cols, path):
    table = pa.table({name: _text_array(kind, v) for name, (kind, v) in cols.items()})
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))


def _take(cols, idx):
    return {k: (kind, v[idx]) for k, (kind, v) in cols.items()}


def ingest_files(workload, seed, out_dir):
    """Write the workload's CSV files; returns one manifest entry per file:
    (file name, rows, encrypted columns, {column: (kind, checksum)})."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    files = []
    if workload == "ingest_encrypt":
        # sf0.1 lineitem cut into three shards plus sf0.1 orders, rows in seed order
        li = lineitem_rows(rng, 450_000, 150_000, 20_000, 1_000)
        order = rng.permutation(450_000)
        shards = [("lineitem_%d.csv" % i, _take(li, order[i::3]),
                   ["l_orderkey", "l_returnflag"]) for i in range(3)]
        od = orders_rows(rng, np.arange(150_000), 15_000)
        shards.append(("orders.csv", _take(od, rng.permutation(150_000)),
                       ["o_custkey", "o_orderpriority"]))
    else:
        # 8 files each of four schemas, 2k rows, keys from seed-chosen offsets
        makers = {
            "customer": lambda k: customer_rows(rng, k),
            "part": lambda k: part_rows(rng, k),
            "orders": lambda k: orders_rows(rng, k, 15_000),
            "supplier": lambda k: supplier_rows(rng, k),
        }
        shards = []
        for i in range(32):
            table = list(makers)[i % 4]
            keys = int(rng.integers(0, 1_000_000)) + np.arange(2_000)
            shards.append((f"{table}_{i:02d}.csv", makers[table](keys), []))
    for name, cols, enc in shards:
        write_csv(cols, os.path.join(out_dir, name))
        rows = len(next(iter(cols.values()))[1])
        sums = {c: (kind, checksum(kind, v)) for c, (kind, v) in cols.items()}
        files.append((name, rows, enc, sums))
    return files
