"""Query-workload inputs: the TPC-H-ish star schema plus the events,
documents and embeddings tables the declared queries read, generated
from a seed, and the DuckDB oracle digests of the chosen entries.

The column names and types match the schema the program pins for its
tables (`T.contract`); the value distributions follow the repository's
test data (TESTDATA.md) the entries were written against (uniform
keys, five market segments, a 31-word document vocabulary, and so on),
so every entry produces non-trivial output.

The digest of a result is computed the same way here and in
`perfbench/src/Canon.scala`: columns sorted by name, each cell rendered
to a type-tagged string, rows rendered and sorted (a multiset, because
the oracle and Spark may order ties differently), then SHA-256.
"""
import datetime
import decimal
import hashlib
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()

def _days(start, end, n, rng):
    lo = np.datetime64(start, "D")
    hi = np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, sf, seed):
    """Write one `<table>.parquet` per table into `out_dir`."""
    rng = np.random.default_rng(seed)
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_users = int(15000 * sf)
    n_docs = int(50000 * sf)
    n_emb = int(20000 * sf)

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[
            rng.choice(len(values), n, p=p)]

    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS}
    t["nation"] = {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)}
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pick([f"{c} {w}" for c in COLORS for w in NOUNS], n_part),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(
            900 + (np.arange(n_part) % 1000) * 0.1, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": pick(PRIORITIES, n_ord)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)}
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.02:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, len(texts))] + " dup")
        elif texts and r < 0.025:  # exact duplicate
            texts.append(texts[rng.integers(0, len(texts))])
        else:
            words = pick(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": pick(LANGS, n_docs, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir,
                                                    f"{name}.parquet"))


def _cell(v):
    """Type-tagged rendering of one result cell (see Canon.scala)."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, decimal.Decimal):
        return _cell(int(v)) if v == v.to_integral_value() else _cell(
            float(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v.is_integer() and abs(v) < 1e15:
            return f"i{int(v)}"
        return "d" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - datetime.datetime(1970, 1, 1)
        return f"t{(delta.days * 86400 + delta.seconds) * 10**6 + delta.microseconds}"
    if isinstance(v, datetime.date):
        return f"D{v.isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(_cell(x) for x in v.values()) + "}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def digest(columns, rows):
    """SHA-256 over the sorted column names and the sorted rendered
    rows; returns (hex digest, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    rendered = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(columns[i] for i in order) + "\n")
             .encode("utf-8"))
    for line in rendered:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest(), len(rendered)


def oracle_digests(table_dir, oracle_sql):
    """Run each entry's oracle SQL in DuckDB over `table_dir`; returns
    {name: {"digest": hex, "rows": n}}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(table_dir, t)}.parquet'")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        d, n = digest(cols, cur.fetchall())
        out[name] = {"digest": d, "rows": n}
    return out
