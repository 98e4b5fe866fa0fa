"""Deterministic synthetic inputs for the benchmark, written with DuckDB.

The tables follow the project's TPC-H-ish fixture schemas (FIXTURES.md):
region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings, one Parquet file each. Row counts scale with
`sf` (lineitem has 6,000,000 x sf rows). Every value is a hash of the row
index and a per-column salt, so the same (sf, seed) always yields the same
rows, whatever the thread count.
"""
import os

import duckdb

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "small red blue hot old new large cold".split()
PART_NOUN = "ring widget bolt gear gizmo plate anvil rod".split()


def _pick(i, salt, seed, n):
    """SQL for an integer in [0, n) hashed from row index `i`."""
    return f"(hash({i}, {salt}, {seed}) % {n})::BIGINT"


def generate(out_dir, sf, seed=42, tables=None, shards=0):
    """Write the fixture tables for scale factor `sf` under `out_dir`; with
    `shards`, lineitem is written as that many files under `shards/`."""
    os.makedirs(out_dir, exist_ok=True)
    n_li = int(6_000_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(100, int(20_000 * sf))
    s = seed
    pick = lambda salt, n, i="i": _pick(i, salt, s, n)
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    adj = "[" + ",".join(f"'{w}'" for w in PART_ADJ) + "]"
    noun = "[" + ",".join(f"'{w}'" for w in PART_NOUN) + "]"
    sql = {
        "region": """SELECT i::INTEGER AS r_regionkey,
              ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
              (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
              {pick(1, 25)}::INTEGER AS c_nationkey,
              round(-999.99 + {pick(2, 1099999)} / 100.0, 2) AS c_acctbal,
              ['MACHINERY','AUTOMOBILE','HOUSEHOLD','BUILDING','FURNITURE'][{pick(3, 5)} + 1] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
              {pick(1, 25)}::INTEGER AS s_nationkey,
              round(-999.99 + {pick(2, 1099999)} / 100.0, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
              {adj}[{pick(1, len(PART_ADJ))} + 1] || ' ' || {noun}[{pick(2, len(PART_NOUN))} + 1] AS p_name,
              'Brand#' || ({pick(3, 25)} + 1) AS p_brand,
              ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][{pick(4, 6)} + 1] AS p_type,
              ({pick(5, 50)} + 1)::INTEGER AS p_size,
              round(900.0 + (i % 1000) / 10.0, 2) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, {pick(1, n_cust)} AS o_custkey,
              ['F','O','P'][{pick(2, 3)} + 1] AS o_orderstatus,
              round(1000.0 + {pick(3, 49900000)} / 100.0, 2) AS o_totalprice,
              (TIMESTAMP '1995-01-01' + to_days({pick(4, 2404)}::INTEGER)) AS o_orderdate,
              ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][{pick(5, 5)} + 1] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""SELECT {pick(1, n_ord)} AS l_orderkey, {pick(2, n_part)} AS l_partkey,
              {pick(3, n_supp)} AS l_suppkey, ({pick(4, 7)} + 1)::INTEGER AS l_linenumber,
              ({pick(5, 50)} + 1)::DOUBLE AS l_quantity,
              round(900.0 + {pick(6, 10410000)} / 100.0, 2) AS l_extendedprice,
              {pick(7, 11)} / 100.0 AS l_discount, {pick(8, 9)} / 100.0 AS l_tax,
              ['A','N','R'][{pick(9, 3)} + 1] AS l_returnflag,
              ['F','O'][{pick(10, 2)} + 1] AS l_linestatus,
              (TIMESTAMP '1995-01-02' + to_days({pick(11, 2498)}::INTEGER)) AS l_shipdate
            FROM range({{lo}}, {{hi}}) t(i)""",
        "events": f"""SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds((i * 2592000000000 // {n_ev} + {pick(1, 1000000)})::BIGINT) AS ts,
              {pick(2, n_users)} AS user_id,
              ['signup','click','error','view','purchase'][{pick(3, 5)} + 1] AS event_type,
              round(0.01 + {pick(4, 49001)} / 100.0, 2) AS value,
              '{{"k": ' || {pick(5, 100)} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""WITH base AS (
              SELECT i, array_to_string(list_transform(range(10 + {pick(1, 90)}),
                       k -> {words}[(hash(i, k, 7, {s}) % {len(WORDS)})::BIGINT + 1]), ' ') AS body
              FROM range({n_doc}) t(i)),
            dup AS (
              SELECT b.i, CASE WHEN b.i > 0 AND {_pick('b.i', 2, s, 20)} = 0
                THEN (SELECT o.body FROM base o WHERE o.i = {_pick('b.i', 3, s, 'b.i')})
                       || repeat(' dup', 1 + {_pick('b.i', 4, s, 2)}::INTEGER)
                ELSE b.body END AS text
              FROM base b)
            SELECT i AS doc_id, text,
              ['en','en','en','de','fr','es','zh'][{pick(5, 7)} + 1] AS lang,
              'src' || {pick(6, 20)} AS source, length(text)::BIGINT AS n_chars
            FROM dup ORDER BY i""",
        "embeddings": f"""WITH g AS (
              SELECT i, list_transform(range(64), k ->
                sqrt(-2.0 * ln(1.0 - ((hash(i, k, 11, {s}) % 1000000007)::DOUBLE / 1000000007.0)))
                * cos(2 * pi() * ((hash(i, k, 12, {s}) % 1000000007)::DOUBLE / 1000000007.0))) AS v
              FROM range({n_emb}) t(i))
            SELECT i AS vec_id,
              list_transform(v, x -> (x / sqrt(list_dot_product(v, v)))::FLOAT) AS embedding,
              {pick(13, 10)}::INTEGER AS label
            FROM g ORDER BY i""",
    }
    con = _connect()
    for name, q in sql.items():
        if tables is not None and name not in tables:
            continue
        if name != "lineitem":
            con.execute(f"COPY ({q}) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        elif not shards:
            con.execute(f"COPY ({q.format(lo=0, hi=n_li)}) TO '{out_dir}/lineitem.parquet' (FORMAT PARQUET)")
        else:
            # the reference's layout: one directory, one file per shard
            os.makedirs(f"{out_dir}/shards", exist_ok=True)
            per = -(-n_li // shards)
            for k in range(shards):
                lo, hi = k * per, min(n_li, (k + 1) * per)
                con.execute(f"COPY ({q.format(lo=lo, hi=hi)}) TO "
                            f"'{out_dir}/shards/shard-{k:03d}.parquet' (FORMAT PARQUET)")
    con.close()


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    return con

