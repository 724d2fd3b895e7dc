"""Seeded tables for the analytic_suite workload, and the DuckDB oracle check.

The tables have the schemas of the repo's synthetic test data (FIXTURES.md
section 3) at the size of its sf0.01 scale, and mirror its value
distributions: TPC-H-like orders and lineitem, 150 users' events over 30
days with `{"k": n}` props, word documents over a 31-word vocabulary, and
64-dimensional unit embeddings around 10 labelled centres. The same seed
gives the same bytes.
"""
import math
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "users": 150, "events": 10000, "documents": 500,
        "embeddings": 500}
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table value "
         "vector window lake sink").split()
LANGS = (["en"] * 44 + ["fr"] * 13 + ["es"] * 15 + ["zh"] * 15 + ["de"] * 13)
US_PER_DAY = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "D").astype("int64")
    return base + rng.integers(0, n_days, size)


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n)})
    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = ROWS["part"]
    adj = np.array(["blue", "old", "red", "small", "new", "hot", "large", "cold"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"])
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "), rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = ROWS["orders"]
    order_day = _days("1995-01-01", 2405, n, rng)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(order_day * US_PER_DAY),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n)})
    n = ROWS["lineitem"]
    okey = rng.integers(0, ROWS["orders"], n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts((order_day[okey] + rng.integers(1, 95, n)) * US_PER_DAY)})
    n = ROWS["events"]
    ts = np.datetime64("2024-01-01", "us").astype("int64") + rng.integers(0, 30 * US_PER_DAY, n)
    ts.sort()
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, ROWS["users"], n), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n),
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = []
    seen = set()
    while len(texts) < n:
        words = rng.choice(VOCAB, int(rng.integers(9, 90)))
        t = " ".join(words)
        if t not in seen:
            seen.add(t)
            texts.append(t)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = ROWS["embeddings"]
    centres = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n)
    vec = centres[label] + rng.normal(scale=1.5, size=(n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def generate(directory, seed):
    directory = Path(directory)
    directory.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, directory / f"{name}.parquet")


def timed_generate(directory, seed, repeats):
    """Generate `repeats` times; the median wall time in seconds."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        generate(directory, seed)
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2]


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        s = v.isoformat()
        return s[:-6] if s.endswith("+00:00") else s
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, dict)):
        return repr(v)
    return v


def _rows(table):
    cols = sorted(table.column_names)
    data = {c: table.column(c).to_pylist() for c in cols}
    return cols, [tuple(_canon(data[c][i]) for c in cols) for i in range(table.num_rows)]


def _near(a, b):
    """Two float cells one unit apart in the 6th decimal: a half-way value
    that Spark and DuckDB round to neighbouring results."""
    try:
        x, y = float(a), float(b)
    except (TypeError, ValueError):
        return False
    return math.isclose(x, y, rel_tol=1e-6, abs_tol=1.000001e-6)


def matches_oracle(result_dir, sql, data_dir):
    """(ok, reason, near): the Spark result equals the DuckDB oracle cell by
    cell, columns sorted by name and rows in order. Float cells may differ
    by one unit in the 6th decimal; `near` counts the cells that do, and
    the reason names the first."""
    import duckdb
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        spark_cols, spark_rows = _rows(pq.read_table(result_dir))
        duck_cols, duck_rows = _rows(con.sql(sql).arrow())
    except Exception as e:  # a missing result or an oracle error is a mismatch
        return False, f"{type(e).__name__}: {e}"[:300], 0
    finally:
        con.close()
    if spark_cols != duck_cols:
        return False, f"columns {spark_cols} vs {duck_cols}", 0
    if len(spark_rows) != len(duck_rows):
        return False, f"{len(spark_rows)} rows vs {len(duck_rows)} oracle rows", 0
    near, first = 0, ""
    for i, (s, d) in enumerate(zip(spark_rows, duck_rows)):
        for c, x, y in zip(spark_cols, s, d):
            if x == y:
                continue
            if not _near(x, y):
                return False, f"row {i} {c}: {x!r} vs oracle {y!r}", near
            near += 1
            first = first or f"row {i} {c}: {x} vs oracle {y}"
    return True, first, near
