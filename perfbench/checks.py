"""Output checks, computed apart from the program.

Each check reads what the timed run wrote and compares it with a result
computed here, from the generated inputs, by DuckDB or plain Python. None of
them calls the program. They are cheap enough to run after every run.

    check(workload, input_dir, result) -> (ok, [problem, ...])

`result` is the JVM's result.json; its `facts` name the output files.
"""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

# ---------------------------------------------------------------- helpers


def _con(tables_dir=None):
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    if tables_dir:
        for p in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            name = os.path.basename(p)[:-len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def _pq(path):
    return f"'{path}/*.parquet'"


def _norm(df):
    """tools/check.py's normal form: columns by name, rows by all columns"""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].where(pd.notna(df[c]), None)
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="first")
    return df.reset_index(drop=True)


def compare_frames(name, got, want, float_tol=0.0):
    """Compare like tools/check.py: same columns, same row count, every
    column equal as strings; with `float_tol`, float columns may differ by
    that much instead."""
    s, d = _norm(got), _norm(want)
    if list(s.columns) != list(d.columns):
        return [f"{name}: columns {list(s.columns)} != {list(d.columns)}"]
    if len(s) != len(d):
        return [f"{name}: {len(s)} rows != {len(d)} expected"]
    out = []
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.Series(a.to_numpy()).astype(str).equals(pd.Series(b.to_numpy()).astype(str)):
            continue
        if float_tol and a.dtype.kind == "f" and b.dtype.kind == "f":
            if np.allclose(a.to_numpy(), b.to_numpy(), rtol=0, atol=float_tol, equal_nan=True):
                continue
        out.append(f"{name}: column {c} differs (got {a.to_numpy()[:3]}, want {b.to_numpy()[:3]})")
    return out


# ------------------------------------------------------- doc_etl_bulk

# The pipeline's cell for each source field, per the reference's documented
# normalization (FIXTURES.md F1/F4, SURVEY.md section 2.3), as JSON text:
#   ok  - bare digits go through the phone branch and stay digit STRINGS,
#         except the boolean tokens 0 and 1, which become false/true;
#   st, pri - strip + lowercase; dt - "YYYY-MM-DD HH:MM:SS" becomes ISO;
#   ck  - a numeric column with nulls turns float: "456" -> 456.0;
#   _source_type - every record is extracted 3 times: the strict-JSON
#         parse (E1) leaves it missing, which fills to "", and the two
#         embedded scans (E2/E3) tag it "json".
ETL_ORACLE = """
WITH o AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus, o_orderdate,
                  o_orderpriority FROM '{orders}'),
cells AS (
  SELECT 'ok' AS col_name,
         CASE k WHEN 0 THEN 'false' WHEN 1 THEN 'true'
                ELSE '"' || CAST(k AS VARCHAR) || '"' END AS cell FROM o
  UNION ALL SELECT 'st', '"' || lower(o_orderstatus) || '"' FROM o
  UNION ALL SELECT 'dt', '"' || strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '"' FROM o
  UNION ALL SELECT 'pri', '"' || lower(o_orderpriority) || '"' FROM o
  UNION ALL SELECT 'ck', CASE WHEN k % 7 = 0 THEN NULL
                              ELSE CAST(o_custkey AS VARCHAR) || '.0' END FROM o)
SELECT col_name, cell FROM cells, (VALUES (1), (2), (3)) c(copy)
UNION ALL
SELECT '_source_type', CASE WHEN copy <= 2 THEN '"json"' ELSE '""' END
FROM o, (VALUES (1), (2), (3)) c(copy)
"""

ETL_COLUMNS = ["ok", "st", "dt", "pri", "ck", "_source_type"]

# etl17's oracle profile over the decoded cells: voted type (most frequent
# non-null tag), nullable, distinct, confidence = top value share, PK
PROFILE = """
WITH v AS (SELECT col_name,
             CASE WHEN cell LIKE '"%' THEN json_extract_string(cell, '$') ELSE cell END AS val
           FROM cells),
vals AS (SELECT col_name, val, count(*) AS cnt FROM v GROUP BY 1, 2),
tags AS (SELECT col_name, cnt, CASE
           WHEN val IS NULL OR val = '' THEN 'null'
           WHEN regexp_matches(val, '^\\d+$') THEN 'integer'
           WHEN regexp_matches(val, '^\\d*\\.\\d+$') THEN 'float'
           WHEN regexp_matches(val, '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$') THEN 'date'
           WHEN val IN ('true', 'false') THEN 'boolean'
           ELSE 'string' END AS tag FROM vals),
votes AS (SELECT col_name, arg_max(tag, n) AS voted_type FROM (
            SELECT col_name, tag, sum(cnt) AS n FROM tags WHERE tag <> 'null' GROUP BY 1, 2)
          GROUP BY 1),
stats AS (SELECT col_name,
            sum(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS n_null,
            sum(CASE WHEN val IS NULL THEN 0 ELSE cnt END) AS n_nonnull,
            count(val) AS n_distinct,
            max(CASE WHEN val IS NULL THEN NULL ELSE cnt END) AS max_cnt
          FROM vals GROUP BY 1)
SELECT s.col_name, coalesce(voted_type, 'string') AS voted_type, n_null > 0 AS nullable,
       n_distinct, CAST(coalesce(max_cnt, 1) AS DOUBLE) / greatest(n_nonnull, 1) AS confidence,
       n_null = 0 AND n_distinct = n_nonnull AS is_pk
FROM stats s LEFT JOIN votes USING (col_name)
"""


def check_bulk(inp, f):
    p = []
    if not f["reload_equal"]:
        p.append("bulk: the registry entry does not reload to the run's schema")
    if json.loads(f["self_diff"]) != {}:
        p.append(f"bulk: SchemaDiff.diff(s, s) is not empty: {f['self_diff']}")
    schema = json.loads(f["schema"])
    with open(f["registry_file"]) as fh:
        if json.load(fh) != schema:
            p.append("bulk: the registry file differs from the run's schema")
    con = _con()
    orders = os.path.join(inp, "orders.parquet")
    n_orders = con.sql(f"SELECT count(*) FROM '{orders}'").fetchone()[0]
    n_rows = con.sql(f"SELECT count(*) FROM {_pq(f['sink'])}").fetchone()[0]
    if n_rows != 3 * n_orders:
        p.append(f"bulk: {n_rows} rows out, want 3 x {n_orders} planted records")
    con.sql(f"CREATE TABLE cells AS {ETL_ORACLE.format(orders=orders)}")
    sink_cells = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, \"{c}\" AS cell FROM {_pq(f['sink'])}" for c in ETL_COLUMNS)
    con.sql(f"CREATE TABLE got AS {sink_cells}")
    for a, b, what in (("got", "cells", "unexpected"), ("cells", "got", "missing")):
        diff = con.sql(f"SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b} LIMIT 3").fetchall()
        if diff:
            p.append(f"bulk: sink has {what} cells, e.g. {diff}")
    prof = {r[0]: r for r in con.sql(PROFILE).fetchall()}
    got_distinct = dict(con.sql(
        "SELECT col_name, count(DISTINCT cell) FROM got GROUP BY 1").fetchall())
    fields = schema["fields"]
    if [x["name"] for x in fields] != ETL_COLUMNS:
        p.append(f"bulk: schema columns {[x['name'] for x in fields]} != {ETL_COLUMNS}")
    for x in fields:
        want = prof.get(x["name"])
        if want is None:
            continue
        _, voted, nullable, n_distinct, confidence, _ = want
        if x["type"] != voted or x["nullable"] != nullable or \
                abs(x["confidence"] - confidence) > 1e-12:
            p.append(f"bulk: profile of {x['name']} is ({x['type']}, {x['nullable']}, "
                     f"{x['confidence']}), want ({voted}, {nullable}, {confidence})")
        if got_distinct.get(x["name"]) != n_distinct:
            p.append(f"bulk: {x['name']} has {got_distinct.get(x['name'])} distinct "
                     f"values, want {n_distinct}")
    pks = [c for c in ETL_COLUMNS if prof.get(c) and prof[c][5]]
    if schema["primary_key_candidates"] != pks:
        p.append(f"bulk: PK candidates {schema['primary_key_candidates']}, want {pks}")
    return p


# ------------------------------------------------- doc_etl_incremental


def _items(diff, section):
    """field objects listed in one section of a SchemaDiff document"""
    return [v for v in (diff or {}).get(section, {}).values()
            if isinstance(v, dict) and "name" in v]


def check_incremental(inp, f):
    p = []
    with open(os.path.join(inp, "plan.json")) as fh:
        plan = json.load(fh)
    if f["n_batches"] != len(plan):
        p.append(f"incremental: {f['n_batches']} batches run, plan has {len(plan)}")
    last_schema = None
    for b, step in enumerate(plan):
        d = os.path.join(f["batches_dir"], f"b{b}")
        try:
            with open(os.path.join(d, "schema.json")) as fh:
                schema = json.load(fh)
            with open(os.path.join(d, "diff.json")) as fh:
                diff = json.load(fh)
        except (OSError, ValueError) as e:
            p.append(f"incremental: batch {b}: {e}")
            continue
        last_schema = schema
        names = [x["name"] for x in schema["fields"]]
        want = step["columns"] + ["_source_type"]
        if names != want:
            p.append(f"incremental: batch {b} columns {names}, want {want}")
        for x in schema["fields"]:
            if x["name"] in step["retyped"] and x["type"] != "string":
                p.append(f"incremental: batch {b}: retyped {x['name']} is {x['type']}")
        if b == 0:
            if diff is not None:
                p.append("incremental: the first batch has a diff against an empty registry")
            continue
        if diff is None:
            p.append(f"incremental: batch {b} has no diff")
            continue
        added = {x["name"]: x for x in _items(diff, "iterable_item_added")}
        removed = {x["name"]: x for x in _items(diff, "iterable_item_removed")}
        ev = step["event"]
        new, gone = set(added) - set(removed), set(removed) - set(added)
        want_new = {ev["column"]} if ev and ev["kind"] == "add" else set()
        want_gone = {ev["column"]} if ev and ev["kind"] == "drop" else set()
        if new != want_new or gone != want_gone:
            p.append(f"incremental: batch {b} diff adds {sorted(new)} and drops "
                     f"{sorted(gone)}, want {sorted(want_new)} and {sorted(want_gone)}")
        if ev and ev["kind"] == "retype":
            c = ev["column"]
            if c not in added or c not in removed or \
                    added[c]["type"] != "string" or removed[c]["type"] == "string":
                p.append(f"incremental: batch {b} diff does not show {c} retyped to string")
    with open(f["registry_file"]) as fh:
        if json.load(fh) != last_schema:
            p.append("incremental: the final registry entry differs from the last batch's schema")
    return p


# ----------------------------------------------------- query_mix_small


def check_queries(inp, f):
    p = []
    d = f["results_dir"]
    with open(f["oracle_file"]) as fh:
        oracle = json.load(fh)
    if len(oracle) != f["n_queries"]:
        p.append(f"queries: {len(oracle)} oracles for {f['n_queries']} queries")
    con = _con(inp)
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(os.path.join(d, name))
        except Exception as e:  # noqa: BLE001
            p.append(f"queries: {name}: no readable result ({e})")
            continue
        p += compare_frames(f"queries: {name}", got, con.sql(sql).df())
    return p


# -------------------------------------------------------- corpus_dedup

P = 2147483647
SHINGLE, SEEDS, BANDS, ROWS = 3, 16, 2, 8


def _hash60(x):
    return f"CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"


def _minhash_a(i):
    return ((2654435761 * (i + 1)) % P) | 1


def _minhash_b(i):
    return (40503 * (i + 7) + 997 * i * i) % P


# MinHash + LSH banding in the form of dedup03's oracle: 3-char shingle
# hashes (md5, 60 bits, mod p), 16 linear permutations, 2 bands of 8 rows
SHINGLES = (f"list_distinct(list_transform(range(1, length(text) - {SHINGLE - 2}), "
            f"i -> {_hash60(f'substring(text, i, {SHINGLE})')} % {P}))")
SIGS = ", ".join(
    f"list_min(list_transform(s, x -> ({_minhash_a(i)} * x + {_minhash_b(i)}) % {P})) AS m{i}"
    for i in range(SEEDS))
BANDKEYS = ", ".join(
    "concat_ws(',', " + ", ".join(f"CAST(m{b * ROWS + r} AS VARCHAR)" for r in range(ROWS))
    + f") AS band{b}" for b in range(BANDS))


def _srp_sig(v, n_bits, dim):
    """SRP signature: bit b = sign of v against an md5-derived hyperplane"""
    bits = []
    for b in range(n_bits):
        seed = f"concat('srp:', '{b}', ':', CAST(i AS VARCHAR))"
        w = f"list_transform(range({dim}), i -> CAST({_hash60(seed)} % 2001 - 1000 AS DOUBLE))"
        bits.append(f"(CASE WHEN list_dot_product({v}, {w}) >= 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bits)


# sim06's oracle: 8-bit SRP band keys (2 bands) over the embeddings, cosine
# re-rank of every band-sharing pair, top 3 per vector
def knn_sql(n_vecs):
    bits = max(8, int(np.ceil(np.log2(max(n_vecs, 2)))) - 4)
    joins = " UNION ".join(
        f"SELECT q.id AS q_id, n.id AS n_id FROM sigs q JOIN sigs n ON q.id <> n.id "
        f"AND ((q.sig >> {bits * b}) & {(1 << bits) - 1}) = ((n.sig >> {bits * b}) & {(1 << bits) - 1})"
        for b in range(2))
    return f"""
WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
sigs AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm, {_srp_sig('v', 2 * bits, 64)} AS sig FROM e),
pairs AS ({joins}),
cand AS (SELECT p.q_id, p.n_id, list_dot_product(q.v, n.v) / (q.nrm * n.nrm) AS cos
         FROM pairs p JOIN sigs q ON q.id = p.q_id JOIN sigs n ON n.id = p.n_id)
SELECT q_id, n_id, cos, rnk FROM (
  SELECT q_id, n_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rnk
  FROM cand) WHERE rnk <= 3"""


def union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def check_dedup(inp, f):
    p = []
    d = f["dir"]
    con = _con(inp)
    con.sql(f"CREATE TABLE sh AS SELECT doc_id, {SHINGLES} AS s, "
            f"len(string_split(trim(text), ' ')) AS n_toks FROM documents")
    con.sql(f"CREATE TABLE keys AS SELECT doc_id, {BANDKEYS} FROM (SELECT doc_id, {SIGS} FROM sh)")
    con.sql("CREATE TABLE cand AS " + " UNION ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM keys a JOIN keys b "
        f"ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id" for b in range(BANDS)))
    p += compare_frames("dedup candidates", pd.read_parquet(os.path.join(d, "candidates")),
                        con.sql("SELECT * FROM cand").df())
    con.sql(f"""CREATE TABLE ver AS SELECT * FROM (
        SELECT c.doc_a, c.doc_b, CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jac
        FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b)
        WHERE jac >= {f['min_jaccard']}""")
    ver = con.sql("SELECT * FROM ver").df()
    p += compare_frames("dedup verified", pd.read_parquet(os.path.join(d, "verified")), ver,
                        float_tol=1e-12)
    comp = union_find(zip(ver["doc_a"].tolist(), ver["doc_b"].tolist()))
    want_c = pd.DataFrame({"doc_id": list(comp), "component": list(comp.values())},
                          dtype="int64")
    p += compare_frames("dedup components", pd.read_parquet(os.path.join(d, "components")),
                        want_c)
    toks = dict(con.sql("SELECT doc_id, n_toks FROM sh").fetchall())
    members = {}
    for doc, c in comp.items():
        members.setdefault(c, []).append(doc)
    surv = [(c, len(m), min(m, key=lambda x: (-toks[x], x))) for c, m in members.items()]
    want_s = pd.DataFrame(surv, columns=["component", "n_members", "keep_doc"]).astype("int64")
    p += compare_frames("dedup survivors", pd.read_parquet(os.path.join(d, "survivors")),
                        want_s)
    n_vecs = con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
    got = pd.read_parquet(os.path.join(d, "knn"))
    got["rnk"] = got["rnk"].astype("int64")
    p += compare_frames("dedup knn", got, con.sql(knn_sql(n_vecs)).df(), float_tol=1e-9)
    return p


CHECKS = {"doc_etl_bulk": check_bulk, "doc_etl_incremental": check_incremental,
          "query_mix_small": check_queries, "corpus_dedup": check_dedup}


def check(workload, inp, res):
    try:
        problems = CHECKS[workload](inp, res["facts"])
    except Exception as e:  # noqa: BLE001 - a crashed check is a failed check
        problems = [f"{workload}: check raised {type(e).__name__}: {e}"]
    return not problems, problems
