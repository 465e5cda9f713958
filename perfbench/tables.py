"""Seeded star-schema tables for the registered checkout and relational
queries (SparkEntry.queries), in the layout their loaders read:
`<dir>/<table>.parquet`, one file per table, with the column types of
the program's test data. As in TPC-H and that data, every lineitem
references a part that exists.

Only the tables the benchmark's query probe reads are made: region,
nation, customer, part, orders, lineitem, events, documents and
embeddings.
"""

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem", "events",
          "documents", "embeddings")
N_ORDERS = 15000
N_PARTS = 1000
N_CUSTOMERS = 1500
N_EVENTS = 10000
N_DOCS = 500
N_VECS = 500
DIM = 64
WORDS = ("a the key agg row scan slow fast table value part hash merge batch line sort "
         "window spark order data column join small big customer query stream group "
         "filter vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "cart", "purchase"]
DAY_US = 86400 * 10**6
EPOCH_1995_US = 788918400 * 10**6


def _write(d, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(d, name + ".parquet"))


def generate(d, seed):
    """Writes the tables into directory `d` (created)."""
    rng = random.Random(seed)
    os.makedirs(d, exist_ok=True)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(d, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(d, "nation", {"n_nationkey": list(range(25)),
                         "n_name": ["NATION_%02d" % i for i in range(25)],
                         "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(d, "customer", {
        "c_custkey": list(range(1, N_CUSTOMERS + 1)),
        "c_name": ["Customer#%09d" % i for i in range(1, N_CUSTOMERS + 1)],
        "c_nationkey": [rng.randrange(25) for _ in range(N_CUSTOMERS)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(N_CUSTOMERS)],
        "c_mktsegment": [rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"]) for _ in range(N_CUSTOMERS)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(d, "part", {
        "p_partkey": list(range(1, N_PARTS + 1)),
        "p_name": ["part %d" % i for i in range(1, N_PARTS + 1)],
        "p_brand": ["Brand#%d" % rng.randint(11, 55) for _ in range(N_PARTS)],
        "p_type": [rng.choice(["STANDARD", "SMALL", "LARGE"]) for _ in range(N_PARTS)],
        "p_size": [rng.randint(1, 50) for _ in range(N_PARTS)],
        "p_retailprice": [round(rng.uniform(900, 2000), 2) for _ in range(N_PARTS)],
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))

    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(1, N_ORDERS + 1):
        date = EPOCH_1995_US + rng.randrange(2000) * DAY_US
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            price = round(qty * rng.uniform(900, 2000) / 10, 2)
            total += price
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randint(1, N_PARTS))
            li["l_suppkey"].append(rng.randint(1, 100))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(price)
            li["l_discount"].append(rng.randint(0, 10) / 100.0)
            li["l_tax"].append(rng.randint(0, 8) / 100.0)
            li["l_returnflag"].append(rng.choice("ARN"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(date + rng.randint(1, 120) * DAY_US)
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randint(1, N_CUSTOMERS))
        orders["o_orderstatus"].append(rng.choice("OFP"))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(date)
        orders["o_orderpriority"].append(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
    _write(d, "orders", orders, pa.schema([
        ("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
        ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(d, "lineitem", li, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    ev = {k: [] for k in ("event_id", "ts", "user_id", "event_type", "value", "props")}
    for e in range(1, N_EVENTS + 1):
        ev["event_id"].append(e)
        ev["ts"].append(EPOCH_1995_US + rng.randrange(10**6) * 10**6)
        ev["user_id"].append(None if rng.random() < 0.02 else rng.randint(1, 2000))
        ev["event_type"].append(None if rng.random() < 0.01 else rng.choice(EVENT_TYPES))
        ev["value"].append(round(rng.uniform(0, 10), 3))
        ev["props"].append(json.dumps({"k": rng.randint(0, 99)}) if rng.random() < 0.95
                           else json.dumps({"other": 1}))
    _write(d, "events", ev, pa.schema([
        ("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
        ("props", s)]))

    # near-copies of earlier documents give the MinHash stage real pairs
    docs = []
    for i in range(N_DOCS):
        if docs and rng.random() < 0.15:
            words = docs[rng.randrange(len(docs))].split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(20, 80))]
        docs.append(" ".join(words))
    _write(d, "documents", {
        "doc_id": list(range(N_DOCS)), "text": docs, "lang": ["en"] * N_DOCS,
        "source": ["src%d" % (i % 5) for i in range(N_DOCS)],
        "n_chars": [len(t) for t in docs],
    }, pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    # vectors around 8 centres, labelled by centre
    centres = [[rng.gauss(0, 0.2) for _ in range(DIM)] for _ in range(8)]
    labels = [rng.randrange(8) for _ in range(N_VECS)]
    _write(d, "embeddings", {
        "vec_id": list(range(N_VECS)),
        "embedding": [[c + rng.gauss(0, 0.05) for c in centres[k]] for k in labels],
        "label": labels,
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))


def check(d, out, names):
    """Compares each query's parquet output under `out/<name>` with its
    oracle SQL run by DuckDB over the same tables: columns sorted by
    name, arrow schemas, and exact values with rows sorted. Returns
    "<name>: <reason>" for each mismatch."""
    import duckdb
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(d, t + ".parquet")))
    failures = []
    for name in names:
        try:
            mine = con.sql("SELECT * FROM read_parquet('%s')" % os.path.join(out, name, "*.parquet")).arrow()
            theirs = con.sql(oracle[name]).arrow()
            mc = mine.select(sorted(mine.column_names))
            tc = theirs.select(sorted(theirs.column_names))
            if mc.schema != tc.schema:
                failures.append("%s: schema %s vs oracle %s" % (name, mc.schema, tc.schema))
                continue
            rows = lambda t: sorted(zip(*[c.to_pylist() for c in t.columns]), key=repr)  # noqa: E731
            if rows(mc) != rows(tc):
                failures.append("%s: rows differ (%d vs oracle %d)" % (name, mc.num_rows, tc.num_rows))
        except Exception as e:  # a query that errors is a failure, not a crash
            failures.append("%s: %s: %s" % (name, type(e).__name__, e))
    return failures
