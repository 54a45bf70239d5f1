"""Deterministic fixture tables for the benchmark.

Writes the ten sf0.1 tables the program's queries read (`region nation
customer supplier part orders lineitem events documents embeddings`), one
single-row-group parquet file each. The draws follow the repository's sf0.1
fixtures (TESTDATA.md) so that every table equals the fixture's value for
value, with the same schema (timestamps µs, not adjusted to UTC) and one row
group per file. The README records the comparison.

The tables depend only on DATA_SEED, never on the workload seed, so every
run of every workload reads the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
N_CUST, N_SUPP, N_PART = 15_000, 1_000, 20_000
N_ORD, N_LI, N_EV = 150_000, 600_000, 100_000
N_DOC, N_EMB = 5_000, 2_000
VOCAB = ("the a spark query table join group filter window data order customer part "
         "line fast slow big small hash sort merge scan agg stream batch vector key "
         "value row column").split()


def _days(base, offsets):
    return (np.datetime64(base, "D") + offsets).astype("datetime64[us]")


def tables():
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(N_CUST), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": segs[rng.integers(0, 5, N_CUST)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(N_SUPP), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)})
    adjs = np.array("red blue small large hot cold old new".split())
    nouns = np.array("anvil widget gizmo bolt gear plate rod ring".split())
    types = np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": np.char.add(np.char.add(adjs[rng.integers(0, 8, N_PART)], " "),
                              nouns[rng.integers(0, 8, N_PART)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, N_PART).astype(str)),
        "p_type": types[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORD), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORD), i64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, N_ORD)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORD), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, N_ORD)),
        "o_orderpriority": prios[rng.integers(0, 5, N_ORD)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, N_ORD, N_LI), i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LI), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, N_LI), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LI), i32),
        "l_quantity": rng.integers(1, 51, N_LI).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LI), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, N_LI), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, N_LI), 2),
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, N_LI)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, N_LI)],
        "l_shipdate": _days("1995-01-01", rng.integers(1, 2500, N_LI))})
    # Offsets are drawn in ns and kept to the µs, as the fixture stores them.
    ev_ns = np.sort((rng.uniform(0, 30 * 86400, N_EV) * 1e9).astype(np.int64))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(N_EV), i64),
        "ts": np.datetime64("2024-01-01", "us") + (ev_ns // 1000).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_CUST // 10, N_EV), i64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, N_EV)],
        "value": np.round(rng.exponential(50.0, N_EV), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EV)]})
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(N_DOC)]
    # Near-duplicates `<text> dup`; sources may repeat, which makes the exact duplicates.
    n_near = N_DOC // 20
    for i, j in zip(rng.choice(N_DOC, n_near, replace=False), rng.integers(0, N_DOC, n_near)):
        texts[i] = texts[j] + " dup"
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(N_DOC), i64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOC)],
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.normal(0.0, 1.0, (N_EMB, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(N_EMB), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), i32)})
    return out


def ensure(data_dir):
    """Write the tables under data_dir once; later calls find the stamp."""
    stamp = os.path.join(data_dir, "_READY")
    if os.path.exists(stamp):
        return
    os.makedirs(data_dir, exist_ok=True)
    for name, t in tables().items():
        tmp = os.path.join(data_dir, f"{name}.parquet.tmp")
        pq.write_table(t, tmp, row_group_size=max(1, t.num_rows))
        os.replace(tmp, os.path.join(data_dir, f"{name}.parquet"))
    open(stamp, "w").close()
