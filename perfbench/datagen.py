"""Deterministic synthetic star schema for the batch workloads.

Writes the ten tables the gates read (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), one parquet file
each, with the column names, types and value domains of the engine's
input contract. Every value comes from one `random.Random(DATA_SEED)`
stream per table, so a given scale factor always yields byte-identical
table contents and the golden digests in `golden.json` stay valid.

The batch seed passed to the benchmark does not change these tables: it
only orders the gates. The data are fixed so a gate's result can be
checked against a stored digest.
"""
import datetime
import math
import os
import random

DATA_SEED = 42

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DIM = 64

ORDER_EPOCH = datetime.datetime(1995, 1, 1)
EVENT_EPOCH = datetime.datetime(2024, 1, 1)


def table_sizes(sf):
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": n(50_000), "embeddings": n(50_000), "users": n(15_000),
    }


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def build_tables(sf):
    """Return {table: (schema fields, column lists)} as plain Python data."""
    sz = table_sizes(sf)
    out = {}
    out["region"] = ([("r_regionkey", "int32"), ("r_name", "string")],
                     [list(range(5)), REGIONS])
    out["nation"] = ([("n_nationkey", "int32"), ("n_name", "string"), ("n_regionkey", "int32")],
                     [list(range(25)), [f"NATION_{i}" for i in range(25)], [i % 5 for i in range(25)]])

    r = random.Random(f"{DATA_SEED}-customer")
    k = range(sz["customer"])
    out["customer"] = (
        [("c_custkey", "int64"), ("c_name", "string"), ("c_nationkey", "int32"),
         ("c_acctbal", "float64"), ("c_mktsegment", "string")],
        [list(k), [f"Customer#{i:09d}" for i in k], [r.randrange(25) for _ in k],
         [_money(r, -999.99, 9999.99) for _ in k], [r.choice(SEGMENTS) for _ in k]])

    r = random.Random(f"{DATA_SEED}-supplier")
    k = range(sz["supplier"])
    out["supplier"] = (
        [("s_suppkey", "int64"), ("s_name", "string"), ("s_nationkey", "int32"), ("s_acctbal", "float64")],
        [list(k), [f"Supplier#{i:09d}" for i in k], [r.randrange(25) for _ in k],
         [_money(r, -999.99, 9999.99) for _ in k]])

    r = random.Random(f"{DATA_SEED}-part")
    k = range(sz["part"])
    out["part"] = (
        [("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"), ("p_type", "string"),
         ("p_size", "int32"), ("p_retailprice", "float64")],
        [list(k), [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in k],
         [f"Brand#{r.randint(1, 25)}" for _ in k], [r.choice(PTYPES) for _ in k],
         [r.randint(1, 50) for _ in k], [round(900 + (i % 1000) / 10, 1) for i in k]])

    r = random.Random(f"{DATA_SEED}-orders")
    k = range(sz["orders"])
    out["orders"] = (
        [("o_orderkey", "int64"), ("o_custkey", "int64"), ("o_orderstatus", "string"),
         ("o_totalprice", "float64"), ("o_orderdate", "timestamp"), ("o_orderpriority", "string")],
        [list(k), [r.randrange(sz["customer"]) for _ in k], [r.choice("FOP") for _ in k],
         [_money(r, 1000.0, 500000.0) for _ in k],
         [ORDER_EPOCH + datetime.timedelta(days=r.randrange(2404)) for _ in k],
         [r.choice(PRIORITIES) for _ in k]])

    r = random.Random(f"{DATA_SEED}-lineitem")
    k = range(sz["lineitem"])
    out["lineitem"] = (
        [("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
         ("l_linenumber", "int32"), ("l_quantity", "float64"), ("l_extendedprice", "float64"),
         ("l_discount", "float64"), ("l_tax", "float64"), ("l_returnflag", "string"),
         ("l_linestatus", "string"), ("l_shipdate", "timestamp")],
        [[r.randrange(sz["orders"]) for _ in k], [r.randrange(sz["part"]) for _ in k],
         [r.randrange(sz["supplier"]) for _ in k], [r.randint(1, 7) for _ in k],
         [float(r.randint(1, 50)) for _ in k], [_money(r, 900.0, 105000.0) for _ in k],
         [r.randint(0, 10) / 100 for _ in k], [r.randint(0, 8) / 100 for _ in k],
         [r.choice("ANR") for _ in k], [r.choice("FO") for _ in k],
         [ORDER_EPOCH + datetime.timedelta(days=1 + r.randrange(2499)) for _ in k]])

    r = random.Random(f"{DATA_SEED}-events")
    k = range(sz["events"])
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = (
        [("event_id", "int64"), ("ts", "timestamp"), ("user_id", "int64"), ("event_type", "string"),
         ("value", "float64"), ("props", "string")],
        [list(k), sorted(EVENT_EPOCH + datetime.timedelta(microseconds=r.randrange(span_us)) for _ in k),
         [r.randrange(sz["users"]) for _ in k], [r.choice(EVENT_TYPES) for _ in k],
         [_money(r, 0.01, 490.0) for _ in k], ['{"k": %d}' % r.randrange(100) for _ in k]])

    r = random.Random(f"{DATA_SEED}-documents")
    texts = []
    for i in range(sz["documents"]):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 100))))
    k = range(sz["documents"])
    out["documents"] = (
        [("doc_id", "int64"), ("text", "string"), ("lang", "string"), ("source", "string"),
         ("n_chars", "int64")],
        [list(k), texts, [r.choice(LANGS) for _ in k], [f"src{i % 20}" for i in k],
         [len(t) for t in texts]])

    r = random.Random(f"{DATA_SEED}-embeddings")
    centers = [[r.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    labels, vecs = [], []
    for _ in range(sz["embeddings"]):
        lab = r.randrange(10)
        v = [r.gauss(0, 1) + 0.15 * c for c in centers[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    out["embeddings"] = ([("vec_id", "int64"), ("embedding", "list<float32>"), ("label", "int32")],
                         [list(range(len(vecs))), vecs, labels])
    return out


def write_tables(sf, out_dir):
    """Write every table as `<out_dir>/<name>.parquet` (atomic per file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    types = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
             "string": pa.string(), "timestamp": pa.timestamp("us"),
             "list<float32>": pa.list_(pa.float32())}
    os.makedirs(out_dir, exist_ok=True)
    for name, (fields, cols) in build_tables(sf).items():
        schema = pa.schema([(f, types[t]) for f, t in fields])
        table = pa.Table.from_arrays([pa.array(c, type=schema.field(i).type) for i, c in enumerate(cols)],
                                     schema=schema)
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
