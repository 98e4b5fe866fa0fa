"""Independent output checks, run after the harness exits.

Every result the harness produced is recomputed with DuckDB from the same
inputs and compared:

* serve, ingest: each groupby call's Arrow bytes are decoded with pyarrow
  and compared with DuckDB's answer to the same spec; the rows the
  harness read back with `ArrowResult.fromArrowBytes` must equal the
  pyarrow decode exactly (the round trip).
* ingest: the key sets, the published row count and the final table are
  rebuilt from the seeded batches and deletions; no deleted key may be
  readable.
* inventory: each query's result is compared with its
  `SparkEntry.oracleSql` run in DuckDB over the same tables.

Counts and other integers must match exactly; floats must match within a
relative tolerance of FLOAT_RTOL.

`check(...)` returns a list of problems; an empty list means correct.
"""
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.ipc

FLOAT_RTOL = 1e-9
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
AGG_SQL = {"sum": "sum", "mean": "avg", "avg": "avg", "count": "count", "min": "min",
           "max": "max", "std": "stddev_samp", "stddev": "stddev_samp"}
# Ingest rows are integer arithmetic on the id, mirrored from the harness.
INGEST_COLS = """
  id AS l_id,
  ['A','N','R'][((id * 31 + {s}) % 3) + 1] AS l_returnflag,
  ['F','O'][((id * 17 + {s}) % 2) + 1] AS l_linestatus,
  ((id * 7919 + {s}) % 50 + 1)::DOUBLE AS l_quantity,
  900.0::DOUBLE + ((id * 104729 + {s}) % 1041000)::DOUBLE / 100.0::DOUBLE AS l_extendedprice,
  ((id * 13 + {s}) % 11)::DOUBLE / 100.0::DOUBLE AS l_discount"""
DELETE_MOD = 10


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    return con


def same(a, b):
    """Cell equality: exact for everything but floats, which may differ by
    FLOAT_RTOL relative to the larger magnitude."""
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (math.isnan(a) and math.isnan(b)):
            return True
        return abs(a - b) <= FLOAT_RTOL * max(1.0, abs(a), abs(b))
    if isinstance(a, float) != isinstance(b, float):
        return False
    return a == b


def _sort_key(row):
    return tuple((v is None, type(v).__name__, f"{v:.9g}" if isinstance(v, float) else str(v))
                 for v in row)


def compare_rows(got, want, what):
    got = sorted((tuple(r) for r in got), key=_sort_key)
    want = sorted((tuple(r) for r in want), key=_sort_key)
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(same(x, y) for x, y in zip(g, w)):
            return [f"{what}: row {i} is {g}, expected {w}"]
    return []


def _lit(v):
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    return "'" + str(v).replace("'", "''") + "'"


def groupby_sql(call, source):
    """The DuckDB statement for one groupby spec over `source`."""
    terms = []
    for col, op, val in call["where"]:
        if op in ("in", "not in"):
            terms.append(f"{col} {op.upper()} ({', '.join(_lit(x) for x in val)})")
        else:
            terms.append(f"{col} {'=' if op == '==' else op} {_lit(val)}")
    keys = call["keys"]
    aggs = [f"{AGG_SQL[op]}({inp}) AS {out}" for inp, op, out in call["aggs"]]
    where = (" WHERE " + " AND ".join(terms)) if terms else ""
    group = (" GROUP BY " + ", ".join(keys)) if keys else ""
    return f"SELECT {', '.join(keys + aggs)} FROM {source}{where}{group}"


def decode_arrow(path):
    with pa.ipc.open_stream(pa.OSFile(path, "rb")) as r:
        t = r.read_all()
    return [list(r.values()) for r in t.to_pylist()], t.column_names


def check_calls(con, calls, out, source_of, what):
    """Round trip and DuckDB recomputation for a list of groupby calls."""
    problems = []
    for i, call in enumerate(calls):
        rows, cols = decode_arrow(os.path.join(out, call["arrow"]))
        expect_cols = call["keys"] + [a[2] for a in call["aggs"]]
        if cols != expect_cols:
            problems.append(f"{what} call {i}: columns {cols}, expected {expect_cols}")
            continue
        jvm = [list(r) for r in call["rows"]]
        if len(jvm) != len(rows) or not all(
                len(a) == len(b) and all(x == y and type(x) is type(y) for x, y in zip(a, b))
                for a, b in zip(jvm, rows)):
            problems.append(f"{what} call {i}: fromArrowBytes rows differ from the Arrow bytes")
        want = con.execute(groupby_sql(call, source_of(i, call))).fetchall()
        problems += compare_rows(rows, want, f"{what} call {i}")
    return problems


def _jsonl(path):
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def check_serve(data, out):
    con = _connect()
    shards = os.path.join(data, "shards")

    def source(_, call):
        return "read_parquet([" + ", ".join(
            f"'{os.path.join(shards, f)}'" for f in call["files"]) + "])"
    calls = _jsonl(os.path.join(out, "serve.jsonl"))
    if not calls:
        return ["serve: no calls recorded"]
    return check_calls(con, calls, out, source, "serve")


def mix(i, seed, k):
    return ((i * 2654435761 + seed * 97 + k * 1000003) & 0xffffffff) % DELETE_MOD


def check_ingest(data, out, seed):
    con = _connect()
    with open(os.path.join(out, "ingest.json")) as f:
        st = json.load(f)
    calls = _jsonl(os.path.join(out, "ingest.jsonl"))
    if len(calls) != len(st["log"]):
        return [f"ingest: {len(calls)} query results for {len(st['log'])} cycles"]
    problems = []
    live = set(range(st["initial"]))
    gone = set()
    appended = 0
    snapshots = []
    for entry in st["log"]:
        k = entry["cycle"]
        lo, hi = entry["appended"]
        # the key set is drawn from the rows live before the cycle's batch
        want_del = {i for i in live if mix(i, seed, k) == 0}
        if set(entry["deleted"]) != want_del:
            problems.append(f"ingest cycle {k}: deleted key set is not the seeded one")
        live.update(range(lo, hi))
        appended += hi - lo
        live -= want_del
        gone |= want_del
        if entry["live"] != len(live):
            problems.append(f"ingest cycle {k}: {entry['live']} live rows, expected {len(live)}")
        snapshots.append(sorted(live))
    if problems:
        return problems

    def source(i, _):
        con.execute("CREATE OR REPLACE TEMP TABLE ids AS SELECT unnest(?::BIGINT[]) AS id",
                    [snapshots[i]])
        return f"(SELECT {INGEST_COLS.format(s=seed)} FROM ids)"
    problems += check_calls(con, calls, out, source, "ingest")

    files = st["final_files"]
    rel = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    n = con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
    if n != st["initial"] + appended - len(gone):
        problems.append(f"ingest: published {n} rows, expected "
                        f"{st['initial']} + {appended} appended - {len(gone)} deleted")
    con.execute("CREATE OR REPLACE TEMP TABLE gone AS SELECT unnest(?::BIGINT[]) AS id", [sorted(gone)])
    readable = con.execute(f"SELECT count(*) FROM {rel} WHERE l_id IN (SELECT id FROM gone)").fetchone()[0]
    if readable:
        problems.append(f"ingest: {readable} deleted keys are still readable")
    con.execute("CREATE OR REPLACE TEMP TABLE ids AS SELECT unnest(?::BIGINT[]) AS id", [sorted(live)])
    want = con.execute(f"SELECT {INGEST_COLS.format(s=seed)} FROM ids").fetchall()
    got = con.execute(f"SELECT l_id, l_returnflag, l_linestatus, l_quantity, l_extendedprice, "
                      f"l_discount FROM {rel}").fetchall()
    problems += compare_rows(got, want, "ingest final table")
    return problems


def check_inventory(data, out):
    con = _connect()
    for t in TABLES:
        p = os.path.join(data, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "inventory.json")) as f:
        oracle = json.load(f)
    problems = []
    for name, sql in sorted(oracle.items()):
        res = os.path.join(out, "results", name)
        if not os.path.isdir(res):
            problems.append(f"inventory {name}: no result written")
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')")
        want = con.sql(sql)
        problems += compare_tables(got.columns, got.fetchall(), want.columns, want.fetchall(),
                                   f"inventory {name}")
    return problems


def compare_tables(gcols, grows, wcols, wrows, what):
    """Columns compared by name in any order, rows in any order."""
    order_g = sorted(range(len(gcols)), key=lambda i: gcols[i].lower())
    order_w = sorted(range(len(wcols)), key=lambda i: wcols[i].lower())
    if [gcols[i].lower() for i in order_g] != [wcols[i].lower() for i in order_w]:
        return [f"{what}: columns {sorted(gcols)}, expected {sorted(wcols)}"]
    return compare_rows([[r[i] for i in order_g] for r in grows],
                        [[r[i] for i in order_w] for r in wrows], what)


def check(workload, data, out, seed):
    if workload == "serve":
        return check_serve(data, out)
    if workload == "ingest":
        return check_ingest(data, out, seed)
    return check_inventory(data, out)
