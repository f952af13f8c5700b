"""query_mix inputs and oracle check.

`write_tables(dir, seed)` writes seeded parquet tables in the shape of the
program's test tables (lineitem, orders, events, documents, embeddings),
small enough that a query's fixed cost (planning, scheduling) dominates.
`check(tables, results, oracles)` compares each query's result, written by
the benchmark JVM as parquet, with its DuckDB oracle from
`SparkEntry.oracleSql`: same columns, same rows as multisets, floats equal
up to the last rounded digit.
"""
import datetime
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM = 20000
ORDERS = 5000
EVENTS = 8000
DOCUMENTS = 1000
EMBEDDINGS = 500
DIM = 64

WORDS = ("the a fast slow big small data row column table key value query join agg "
         "sort merge hash scan filter group window part line order customer batch "
         "stream spark vector").split()
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime.datetime(1992, 1, 1)


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def write_tables(out, seed):
    os.makedirs(out, exist_ok=True)
    r = random.Random(seed * 7919 + 17)

    def day(lo, hi):
        return EPOCH + datetime.timedelta(days=r.randrange(lo, hi))

    n_cust = ORDERS // 10
    orders = {
        "o_orderkey": pa.array(range(ORDERS), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(ORDERS)], pa.int64()),
        "o_orderstatus": [r.choice("OFP") for _ in range(ORDERS)],
        "o_totalprice": [round(r.uniform(900, 450000), 2) for _ in range(ORDERS)],
        "o_orderdate": _ts([day(0, 3650) for _ in range(ORDERS)]),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(ORDERS)],
    }
    pq.write_table(pa.table(orders), os.path.join(out, "orders.parquet"))

    qty = [float(r.randint(1, 50)) for _ in range(LINEITEM)]
    lineitem = {
        "l_orderkey": pa.array([r.randrange(ORDERS) for _ in range(LINEITEM)], pa.int64()),
        "l_partkey": pa.array([r.randrange(2000) for _ in range(LINEITEM)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(100) for _ in range(LINEITEM)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(LINEITEM)], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * r.uniform(900, 2100), 2) for q in qty],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(LINEITEM)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(LINEITEM)],
        "l_returnflag": [r.choice("ANR") for _ in range(LINEITEM)],
        "l_linestatus": [r.choice("OF") for _ in range(LINEITEM)],
        "l_shipdate": _ts([day(0, 3650) for _ in range(LINEITEM)]),
    }
    pq.write_table(pa.table(lineitem), os.path.join(out, "lineitem.parquet"))

    start = datetime.datetime(2024, 1, 1)
    secs = sorted(r.uniform(0, 30 * 86400) for _ in range(EVENTS))
    events = {
        "event_id": pa.array(range(EVENTS), pa.int64()),
        "ts": _ts([start + datetime.timedelta(microseconds=int(s * 1e6)) for s in secs]),
        "user_id": pa.array([r.randrange(EVENTS // 60) for _ in range(EVENTS)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(EVENTS)],
        "value": [round(r.uniform(0, 200), 2) for _ in range(EVENTS)],
        "props": ['{"k": %d}' % r.randrange(100) for _ in range(EVENTS)],
    }
    pq.write_table(pa.table(events), os.path.join(out, "events.parquet"))

    texts = []
    for i in range(DOCUMENTS):
        if i > 10 and r.random() < 0.1:
            texts.append(texts[r.randrange(len(texts))])  # exact duplicate
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(5, 80))))
    documents = {
        "doc_id": pa.array(range(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [r.choice(["en", "en", "de", "fr", "es", "zh"]) for _ in range(DOCUMENTS)],
        "source": ["src%d" % r.randrange(20) for _ in range(DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    pq.write_table(pa.table(documents), os.path.join(out, "documents.parquet"))

    embeddings = {
        "vec_id": pa.array(range(EMBEDDINGS), pa.int64()),
        "embedding": pa.array([[r.gauss(0, 0.12) for _ in range(DIM)] for _ in range(EMBEDDINGS)],
                              pa.list_(pa.float32())),
        "label": pa.array([r.randrange(10) for _ in range(EMBEDDINGS)], pa.int32()),
    }
    pq.write_table(pa.table(embeddings), os.path.join(out, "embeddings.parquet"))


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # one unit in the last digit of round(x, 6), or a relative 1e-9
        return abs(a - b) <= 1.5e-6 + 1e-9 * max(abs(a), abs(b))
    return a == b or str(a) == str(b)


def _key(row):
    return tuple((v is None, str(v) if not isinstance(v, float) else round(v, 4)) for v in row)


def check(tables, results, oracles):
    """[(query, ok, detail)] for every query in `oracles`."""
    import duckdb
    con = duckdb.connect()
    for name in ("lineitem", "orders", "events", "documents", "embeddings"):
        p = os.path.join(tables, name + ".parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = []
    for q, sql in sorted(oracles.items()):
        try:
            got_rel = con.execute(f"SELECT * FROM read_parquet('{os.path.join(results, q)}/*.parquet')")
            gcols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            exp_rel = con.execute(sql)
            ecols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out.append((q, False, f"error {e}"))
            continue
        if sorted(gcols) != sorted(ecols):
            out.append((q, False, f"columns {gcols} != {ecols}"))
            continue
        order = sorted(gcols)
        gi = [gcols.index(c) for c in order]
        ei = [ecols.index(c) for c in order]
        g = sorted((tuple(r[i] for i in gi) for r in got), key=_key)
        e = sorted((tuple(r[i] for i in ei) for r in exp), key=_key)
        if len(g) != len(e):
            out.append((q, False, f"{len(g)} rows, oracle {len(e)}"))
            continue
        bad = next(((i, a, b) for i, (a, b) in enumerate(zip(g, e))
                    if not all(_same(x, y) for x, y in zip(a, b))), None)
        out.append((q, bad is None, f"{len(g)} rows" if bad is None
                    else f"row {bad[0]}: {bad[1]} != {bad[2]}"))
    return out


def load_oracles(path):
    with open(path) as f:
        return json.load(f)
