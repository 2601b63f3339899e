"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, scale): the same seed gives
byte-identical parquet files. Row counts depend on the scale only, never on
the seed, so every run of a workload does the same amount of work.

Tables follow the repository's test-data contract (TESTDATA.md): a TPC-H-ish
star schema (region, nation, customer, supplier, part, orders, lineitem),
an `events` stream, a `documents` corpus of single-spaced [a-z ] text with
5% planted near-duplicates (a copy of another document plus " dup"), and
unit-norm 64-d `embeddings` clustered around ten labels.

The ETL workloads get JSON-array documents rendered from `orders` rows in
the record shape of the registry's etl17 query (ok, st, dt, pri, ck).
"""
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUS = ["O", "P", "F"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "rod", "ring", "plate", "gizmo"]
PTYPE = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

# workload sizes (row counts never depend on the seed)
BULK_ORDERS, BULK_DOCS = 9_000, 30         # 300 records per document
INC_BATCHES, INC_DOCS, INC_RECS = 6, 20, 20
QUERY_SF = 0.01
DEDUP_DOCS, DEDUP_VECS = 1_500, 600         # 30% of sf0.1's documents and embeddings

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(df_cols, path):
    pq.write_table(pa.table(df_cols), path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tpch(seed, sf, out):
    """region..lineitem at scale factor `sf` (orders = 150000 * sf)."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    r = _rng(seed, 1)
    _write({"r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS}, f"{out}/region.parquet")
    _write({"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
           f"{out}/nation.parquet")
    _write({"c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]},
           f"{out}/customer.parquet")
    _write({"s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp)},
           f"{out}/supplier.parquet")
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write({"p_partkey": pk,
            "p_name": names[r.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PTYPE)[r.integers(0, len(PTYPE), n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)},
           f"{out}/part.parquet")
    orders = gen_orders(seed, n_ord, n_cust)
    pq.write_table(orders, f"{out}/orders.parquet", compression="snappy")
    r = _rng(seed, 2)
    _write({"l_orderkey": r.integers(0, n_ord, n_line),
            "l_partkey": r.integers(0, n_part, n_line),
            "l_suppkey": r.integers(0, n_supp, n_line),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_line)],
            "l_shipdate": _ts(EPOCH_1995 + DAY_US * r.integers(1, 2499, n_line))},
           f"{out}/lineitem.parquet")
    n_ev, n_users = int(1_000_000 * sf), max(n_cust // 10, 1)
    r = _rng(seed, 3)
    ts = EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n_ev))
    _write({"event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]},
           f"{out}/events.parquet")


def gen_orders(seed, n_ord, n_cust):
    r = _rng(seed, 4)
    return pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUS)[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(EPOCH_1995 + DAY_US * r.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITY)[r.integers(0, 5, n_ord)],
    })


def gen_documents(seed, n, out):
    r = _rng(seed, 5)
    words = np.array(VOCAB)
    texts = []
    for _ in range(n):
        texts.append(" ".join(words[r.integers(0, len(words), r.integers(8, 90))]))
    # 5% planted near-duplicates: a copy of another document plus " dup"
    # (sometimes twice), the shape the dedup operators exist for
    n_dup = n // 20
    dup_ids = r.choice(n, n_dup, replace=False)
    for i in sorted(dup_ids):
        src = int(r.integers(0, n))
        if src == i:
            src = (i + 1) % n
        texts[i] = texts[src] + " dup" * int(r.integers(1, 3))
    _write({"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
            "source": [f"src{s}" for s in r.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           f"{out}/documents.parquet")


def gen_embeddings(seed, n, out, dim=64, labels=10):
    r = _rng(seed, 6)
    centers = r.normal(0.0, 1.0, (labels, dim))
    lab = r.integers(0, labels, n)
    v = centers[lab] + r.normal(0.0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write({"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": lab.astype(np.int32)},
           f"{out}/embeddings.parquet")


def _record(ok, st, dt, pri, ck):
    ckv = "null" if ck is None else str(ck)
    return f'{{"ok": {ok}, "st": "{st}", "dt": "{dt}", "pri": "{pri}", "ck": {ckv}}}'


def render_docs(orders, n_docs):
    """orders rows → `n_docs` JSON-array documents (doc = orderkey mod n_docs,
    records in key order), the etl17 record shape without its 1/8 sample:
    ck is null on every 7th key."""
    ok = orders["o_orderkey"].to_numpy()
    ck = orders["o_custkey"].to_numpy()
    st = orders["o_orderstatus"].to_pylist()
    pri = orders["o_orderpriority"].to_pylist()
    dt = [d.strftime("%Y-%m-%d %H:%M:%S") for d in orders["o_orderdate"].to_pylist()]
    parts = [[] for _ in range(n_docs)]
    for i in range(len(ok)):
        k = int(ok[i])
        parts[k % n_docs].append(
            _record(k, st[i], dt[i], pri[i], None if k % 7 == 0 else int(ck[i])))
    return pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                     "text": ["[" + ",".join(p) + "]" for p in parts]})


def gen_etl_bulk(seed, n_ord, n_docs, out):
    orders = gen_orders(seed, n_ord, max(n_ord // 10, 1))
    pq.write_table(orders, f"{out}/orders.parquet", compression="snappy")
    pq.write_table(render_docs(orders, n_docs), f"{out}/docs.parquet",
                   compression="snappy")


# incremental schedule: which batch changes the schema, and how, is fixed
# so every run writes the same columns; the seed picks the data values
BASE_COLS = ["ok", "st", "dt", "pri", "ck"]
SCHEDULE = {2: ("add", "x0"), 3: ("drop", "dt"), 4: ("retype", "ck"), 5: ("add", "x1")}


def incremental_plan(n_batches):
    cols, retyped, plan = list(BASE_COLS), set(), []
    for b in range(n_batches):
        event = None
        if b in SCHEDULE:
            kind, name = SCHEDULE[b]
            if kind == "add":
                cols = cols + [name]
            elif kind == "drop":
                cols = [c for c in cols if c != name]
            else:
                retyped.add(name)
            event = {"kind": kind, "column": name}
        plan.append({"batch": b, "columns": list(cols), "retyped": sorted(retyped),
                     "event": event})
    return plan


def _cell(col, i, rec, retyped):
    """one record field as JSON text; retyped columns turn into words."""
    if col in retyped:
        return json.dumps(f"v{rec[col] if col in rec else i}")
    if col.startswith("x"):
        return str(i * 3 + 1)
    v = rec[col]
    if v is None:
        return "null"
    return json.dumps(v) if isinstance(v, str) else str(v)


def gen_etl_incremental(seed, n_batches, docs_per_batch, recs_per_doc, out):
    plan = incremental_plan(n_batches)
    per_batch = docs_per_batch * recs_per_doc
    orders = gen_orders(seed, n_batches * per_batch, 1000)
    ok = orders["o_orderkey"].to_pylist()
    ck = orders["o_custkey"].to_pylist()
    st = orders["o_orderstatus"].to_pylist()
    pri = orders["o_orderpriority"].to_pylist()
    dt = [d.strftime("%Y-%m-%d %H:%M:%S") for d in orders["o_orderdate"].to_pylist()]
    for p in plan:
        b = p["batch"]
        texts = []
        for d in range(docs_per_batch):
            recs = []
            for j in range(recs_per_doc):
                i = b * per_batch + d * recs_per_doc + j
                rec = {"ok": ok[i], "st": st[i], "dt": dt[i], "pri": pri[i],
                       "ck": None if ok[i] % 7 == 0 else ck[i]}
                recs.append("{" + ", ".join(
                    f'"{c}": {_cell(c, i, rec, set(p["retyped"]))}'
                    for c in p["columns"]) + "}")
            texts.append("[" + ",".join(recs) + "]")
        ids = np.arange(docs_per_batch, dtype=np.int64) + b * docs_per_batch
        pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                       f"{out}/batch_{b:03d}.parquet", compression="snappy")
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan


def gen_dedup(seed, n_docs, n_vecs, out):
    gen_documents(seed, n_docs, out)
    gen_embeddings(seed, n_vecs, out)


def gen_query_tables(seed, sf, out):
    gen_tpch(seed, sf, out)
    gen_documents(seed, int(50_000 * sf), out)
    gen_embeddings(seed, int(50_000 * sf), out)
