"""Deterministic input tables for the benchmark, written with DuckDB.

The tables have the schemas of the repository's TPC-H-style test data
(region, nation, customer, supplier, part, orders, lineitem, documents,
embeddings), so `graft.Tables` maps them to RDF unchanged. Every value is a
hash of the row index and a column salt: the same dataset name always gives
the same bytes-for-value tables. The workload seed never changes the tables;
it picks the operations, their order and their constants (see the Scala
workloads), so one generated dataset serves every seed.
"""

import os
import shutil

import duckdb

# Bump when the generated values change, so a stale cache is never reused.
VERSION = "v6"

# name -> (TPC-H scale factor of the relational tables, documents, vectors)
DATASETS = {
    # sparql_lookup: the size of the sf0.01 test data
    "small": {"sf": 0.01},
    # graph_update: its cost is in the query plans, not the data
    "tiny": {"sf": 0.001},
    # sparql_analytic: full-scan queries
    "analytic": {"sf": 0.1},
    # corpus_curation: documents and embeddings only
    "corpus": {"docs": 2000, "vectors": 2000},
}

# Planted duplicates in the corpus: exact copies and one-token edits
EXACT_DUP_EVERY = 20
NEAR_DUP_EVERY = 17

VOCAB = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "data", "column", "join", "small", "big", "customer",
         "query", "order", "group", "filter", "stream", "vector", "search"]

NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _lst(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


# u(i, salt): uniform in [0, 1) from a 64-bit hash of (i, salt)
_MACROS = """
CREATE MACRO u(i, salt) AS (hash(i, salt) % 1000000007) / 1000000007.0;
CREATE MACRO pick(xs, i, salt) AS xs[1 + CAST(floor(u(i, salt) * len(xs)) AS BIGINT)];
"""


def _relational(con, out, sf):
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    q = con.execute
    q(f"""COPY (SELECT CAST(i AS INTEGER) AS r_regionkey, {_lst(REGIONS)}[i + 1] AS r_name
          FROM range(5) t(i)) TO '{out}/region.parquet' (FORMAT parquet)""")
    names = _lst([n for n, _ in NATIONS])
    regions = "[" + ", ".join(str(r) for _, r in NATIONS) + "]"
    q(f"""COPY (SELECT CAST(i AS INTEGER) AS n_nationkey, {names}[i + 1] AS n_name,
                 CAST({regions}[i + 1] AS INTEGER) AS n_regionkey
          FROM range(25) t(i)) TO '{out}/nation.parquet' (FORMAT parquet)""")
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS c_custkey,
                 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                 CAST(floor(u(i, 1) * 25) AS INTEGER) AS c_nationkey,
                 round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
                 pick({_lst(SEGMENTS)}, i, 3) AS c_mktsegment
          FROM range({n_cust}) t(i)) TO '{out}/customer.parquet' (FORMAT parquet)""")
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS s_suppkey,
                 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                 CAST(floor(u(i, 4) * 25) AS INTEGER) AS s_nationkey,
                 round(-999.99 + u(i, 5) * 10999.98, 2) AS s_acctbal
          FROM range({n_supp}) t(i)) TO '{out}/supplier.parquet' (FORMAT parquet)""")
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS p_partkey,
                 pick({_lst(VOCAB)}, i, 6) || ' ' || pick({_lst(VOCAB)}, i, 7) AS p_name,
                 'Brand#' || CAST(1 + floor(u(i, 8) * 5) AS INTEGER)
                          || CAST(1 + floor(u(i, 9) * 5) AS INTEGER) AS p_brand,
                 pick(['STANDARD', 'SMALL', 'MEDIUM', 'LARGE', 'ECONOMY', 'PROMO'], i, 10)
                   || ' ' || pick(['ANODIZED', 'BURNISHED', 'PLATED', 'POLISHED', 'BRUSHED'], i, 11)
                   AS p_type,
                 CAST(1 + floor(u(i, 12) * 50) AS INTEGER) AS p_size,
                 round(900 + u(i, 13) * 1100, 2) AS p_retailprice
          FROM range({n_part}) t(i)) TO '{out}/part.parquet' (FORMAT parquet)""")
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS o_orderkey,
                 CAST(floor(u(i, 14) * {n_cust}) AS BIGINT) AS o_custkey,
                 pick(['F', 'O', 'P'], i, 15) AS o_orderstatus,
                 round(1000 + u(i, 16) * 499000, 2) AS o_totalprice,
                 TIMESTAMP '1992-01-01' + to_days(CAST(floor(u(i, 17) * 2400) AS INTEGER))
                   AS o_orderdate,
                 pick({_lst(PRIORITIES)}, i, 18) AS o_orderpriority
          FROM range({n_ord}) t(i)) TO '{out}/orders.parquet' (FORMAT parquet)""")
    # four lines per order: (l_orderkey, l_linenumber) is a key
    q(f"""COPY (SELECT CAST(i // 4 AS BIGINT) AS l_orderkey,
                 CAST(floor(u(i, 19) * {n_part}) AS BIGINT) AS l_partkey,
                 CAST(floor(u(i, 20) * {n_supp}) AS BIGINT) AS l_suppkey,
                 CAST(i % 4 + 1 AS INTEGER) AS l_linenumber,
                 CAST(1 + floor(u(i, 21) * 50) AS DOUBLE) AS l_quantity,
                 round((1 + floor(u(i, 21) * 50)) * (900 + u(i, 22) * 1100), 2) AS l_extendedprice,
                 round(floor(u(i, 23) * 11) / 100, 2) AS l_discount,
                 round(floor(u(i, 24) * 9) / 100, 2) AS l_tax,
                 pick(['A', 'N', 'R'], i, 25) AS l_returnflag,
                 pick(['F', 'O'], i, 26) AS l_linestatus,
                 TIMESTAMP '1992-01-01' + to_days(CAST(floor(u(i, 27) * 2500) AS INTEGER))
                   AS l_shipdate
          FROM range({n_ord * 4}) t(i)) TO '{out}/lineitem.parquet' (FORMAT parquet)""")


def _corpus(con, out, docs, vectors):
    q = con.execute
    # cid is the content the text is drawn from: its own id, an earlier
    # document (an exact copy), or an earlier document with one token
    # replaced (a near duplicate)
    q(f"""CREATE TEMP TABLE d AS
          SELECT i,
                 CASE WHEN i > 0 AND i % {EXACT_DUP_EVERY} = 0
                        THEN CAST(floor(u(i, 30) * i) AS BIGINT)
                      WHEN i > 0 AND i % {NEAR_DUP_EVERY} = 0
                        THEN CAST(floor(u(i, 31) * i) AS BIGINT)
                      ELSE i END AS cid,
                 i > 0 AND i % {NEAR_DUP_EVERY} = 0 AND i % {EXACT_DUP_EVERY} <> 0 AS near
          FROM range({docs}) t(i)""")
    q(f"""CREATE TEMP TABLE dt AS
          SELECT i, near, cid,
                 CAST(30 + floor(u(cid, 32) * 71) AS BIGINT) AS n,
                 CAST(floor(u(i, 33) * 30) AS BIGINT) AS edit
          FROM d""")
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS doc_id,
                 array_to_string(list_transform(range(n), j ->
                   CASE WHEN near AND j = edit THEN pick({_lst(VOCAB)}, i, 34)
                        ELSE {_lst(VOCAB)}[1 + CAST(floor(u(cid * 1000 + j, 35) * {len(VOCAB)}) AS BIGINT)]
                   END), ' ') AS text,
                 pick(['en', 'en', 'de', 'fr', 'es', 'zh'], i, 36) AS lang,
                 'src' || CAST(i % 20 AS VARCHAR) AS source
          FROM dt ORDER BY i) TO '{out}/documents_raw.parquet' (FORMAT parquet)""")
    q(f"""COPY (SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
          FROM '{out}/documents_raw.parquet' ORDER BY doc_id)
          TO '{out}/documents.parquet' (FORMAT parquet)""")
    os.remove(f"{out}/documents_raw.parquet")

    # ten clusters: a centroid per label plus per-vector noise
    q(f"""COPY (SELECT CAST(i AS BIGINT) AS vec_id,
                 list_transform(range(64), dd ->
                   CAST((u(lbl * 64 + dd, 40) - 0.5) + 0.6 * (u(i * 64 + dd, 41) - 0.5) AS FLOAT))
                   AS embedding,
                 CAST(lbl AS INTEGER) AS label
          FROM (SELECT i, CAST(floor(u(i, 42) * 10) AS BIGINT) AS lbl FROM range({vectors}) t(i))
          ORDER BY i) TO '{out}/embeddings.parquet' (FORMAT parquet)""")



def exists(root, name):
    return os.path.isdir(os.path.join(root, VERSION, name))


def ensure(root, name):
    """Return the directory of dataset `name` under `root`, generating it
    once. A finished dataset is moved into place in one rename, so an
    interrupted generation is never mistaken for a complete one."""
    final = os.path.join(root, VERSION, name)
    if exists(root, name):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(_MACROS)
    spec = DATASETS[name]
    if "sf" in spec:
        _relational(con, tmp, spec["sf"])
    else:
        _corpus(con, tmp, spec["docs"], spec["vectors"])
    con.close()
    os.rename(tmp, final)
    return final
