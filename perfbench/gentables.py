"""Seeded generator for the query tables the ops-slice workload reads.

Writes `<dir>/<table>.parquet` for the ten tables the registry queries use
(a TPC-H-like star schema plus events, documents and embeddings), with the
column names, physical types and value domains of the project's fixture
tables. Row counts are fixed by the scale factor; only the values depend on
the seed.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "old", "small", "new", "cold", "large", "hot", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "rod", "anvil", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
VOCAB = ("the fast key order sort table scan merge part window small hash join "
         "batch stream spark group query row data slow filter customer line "
         "value agg column a vector big").split()
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15000 * sf), 15), max(int(50000 * sf), 500)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % k for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % k for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % k for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [a + " " + b for a, b in zip(rng.choice(PART_ADJ, n_part),
                                               rng.choice(PART_NOUN, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate = EPOCH_1995 + rng.integers(0, span_days + 1, n_orders) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey] * rng.uniform(0.9, 1.1, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * DAY_US),
    }).take(perm)
    ets = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ets),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.03:          # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.08:        # near duplicate: one word replaced
            words = texts[rng.integers(0, len(texts))].split()
            words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 100))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": ["src%d" % s for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(path, seed, sf):
    for name, t in tables(seed, sf).items():
        pq.write_table(t, "%s/%s.parquet" % (path, name))
