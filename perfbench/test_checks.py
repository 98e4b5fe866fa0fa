"""Each output check must fail on a deliberately perturbed result.

The harness's outputs are built here with pyarrow and DuckDB on tiny
inputs, so the checks are exercised without a JVM:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pyarrow as pa  # noqa: E402
import pyarrow.ipc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen_data  # noqa: E402

SEED = 7


def write_arrow(path, cols, rows):
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    with pa.ipc.new_stream(pa.OSFile(path, "wb"), table.schema) as w:
        w.write_table(table)


class Outputs:
    """A scratch run directory: data/ and out/ as the harness leaves them."""

    def __init__(self):
        base = os.path.join(os.path.dirname(HERE), os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                            "perfbench")
        os.makedirs(base, exist_ok=True)
        self.root = tempfile.mkdtemp(prefix="test-", dir=base)
        self.data = os.path.join(self.root, "data")
        self.out = os.path.join(self.root, "out")
        os.makedirs(os.path.join(self.out, "arrow"))

    def calls(self, name, calls):
        """Write groupby results as the harness does; `calls` are
        (spec, rows) pairs whose rows become both the Arrow bytes and the
        read-back rows."""
        lines = []
        for i, (spec, rows) in enumerate(calls):
            arrow = f"arrow/{name}-{i}.arrow"
            write_arrow(os.path.join(self.out, arrow),
                        spec["keys"] + [a[2] for a in spec["aggs"]], rows)
            lines.append(json.dumps(dict(spec, rows=[list(r) for r in rows], arrow=arrow)))
        with open(os.path.join(self.out, f"{name}.jsonl"), "w") as f:
            f.write("\n".join(lines))

    def close(self):
        shutil.rmtree(self.root, ignore_errors=True)


def truth(sql):
    return [list(r) for r in checks._connect().execute(sql).fetchall()]


def bump(rows, r, c, by):
    rows = [list(x) for x in rows]
    rows[r][c] = rows[r][c] + by
    return rows


class ServeChecks(unittest.TestCase):
    def setUp(self):
        self.o = Outputs()
        gen_data.generate(self.o.data, 0.0005, SEED, tables={"lineitem"}, shards=4)
        self.files = sorted(os.listdir(os.path.join(self.o.data, "shards")))[:3]
        self.spec = {"files": self.files, "keys": ["l_returnflag", "l_linestatus"],
                     "aggs": [["l_quantity", "sum", "q"], ["l_orderkey", "count", "n"],
                              ["l_extendedprice", "mean", "p"]],
                     "where": [["l_returnflag", "in", ["A", "R"]],
                               ["l_extendedprice", ">", 899.5001]]}
        src = "read_parquet([" + ", ".join(
            f"'{self.o.data}/shards/{f}'" for f in self.files) + "])"
        self.rows = truth(checks.groupby_sql(self.spec, src))

    def tearDown(self):
        self.o.close()

    def run_check(self, rows, readback=None):
        self.o.calls("serve", [(self.spec, rows)])
        if readback is not None:
            path = os.path.join(self.o.out, "serve.jsonl")
            with open(path) as f:
                line = json.loads(f.read())
            line["rows"] = readback
            with open(path, "w") as f:
                f.write(json.dumps(line))
        return checks.check("serve", self.o.data, self.o.out, SEED)

    def test_correct_result_passes(self):
        self.assertEqual(self.run_check(self.rows), [])

    def test_float_noise_within_tolerance_passes(self):
        self.assertEqual(self.run_check(bump(self.rows, 0, 4, self.rows[0][4] * 1e-12)), [])

    def test_perturbed_float_fails(self):
        self.assertTrue(self.run_check(bump(self.rows, 0, 4, self.rows[0][4] * 1e-6)))

    def test_perturbed_count_fails(self):
        self.assertTrue(self.run_check(bump(self.rows, 1, 3, 1)))

    def test_missing_group_fails(self):
        self.assertTrue(self.run_check(self.rows[1:]))

    def test_round_trip_mismatch_fails(self):
        self.assertTrue(self.run_check(self.rows, readback=bump(self.rows, 0, 2, 1.0)))


class IngestChecks(unittest.TestCase):
    INITIAL = 60

    def setUp(self):
        self.o = Outputs()
        os.makedirs(self.o.data)
        self.spec = {"files": [], "keys": ["l_returnflag"],
                     "aggs": [["l_id", "count", "n"], ["l_id", "sum", "id_sum"],
                              ["l_extendedprice", "sum", "revenue"]],
                     "where": [["l_discount", "<=", 0.07]]}
        live = set(range(self.INITIAL))
        self.log, self.calls = [], []
        for k, (lo, hi) in enumerate([(60, 66), (66, 72)]):
            doomed = sorted(i for i in live if checks.mix(i, SEED, k) == 0)
            live.update(range(lo, hi))
            live -= set(doomed)
            self.log.append({"cycle": k, "appended": [lo, hi], "deleted": doomed,
                             "live": len(live)})
            self.calls.append((self.spec, truth(checks.groupby_sql(self.spec, self.table(live)))))
        self.live = sorted(live)
        self.assertTrue(any(e["deleted"] for e in self.log))

    def tearDown(self):
        self.o.close()

    @staticmethod
    def table(ids):
        return (f"(SELECT {checks.INGEST_COLS.format(s=SEED)} FROM "
                f"(SELECT unnest({sorted(ids)!r}::BIGINT[]) AS id))")

    def run_check(self, final_ids=None, log=None, calls=None):
        final = os.path.join(self.o.data, "final.parquet")
        checks._connect().execute(
            f"COPY {self.table(self.live if final_ids is None else final_ids)} TO '{final}'")
        self.o.calls("ingest", calls or self.calls)
        with open(os.path.join(self.o.out, "ingest.json"), "w") as f:
            json.dump({"seed": SEED, "initial": self.INITIAL, "log": log or self.log,
                       "final_files": [final]}, f)
        return checks.check("ingest", self.o.data, self.o.out, SEED)

    def test_correct_history_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_deleted_key_still_readable_fails(self):
        gone = self.log[0]["deleted"][0]
        problems = self.run_check(final_ids=self.live[1:] + [gone])
        self.assertTrue(any("still readable" in p for p in problems))

    def test_published_count_off_fails(self):
        problems = self.run_check(final_ids=self.live[1:])
        self.assertTrue(any("published" in p for p in problems))

    def test_wrong_key_set_fails(self):
        log = json.loads(json.dumps(self.log))
        log[0]["deleted"] = log[0]["deleted"][1:]
        self.assertTrue(self.run_check(log=log))

    def test_perturbed_query_result_fails(self):
        calls = [self.calls[0], (self.spec, bump(self.calls[1][1], 0, 2, 1))]
        self.assertTrue(self.run_check(calls=calls))


class InventoryChecks(unittest.TestCase):
    SQL = ("SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS q "
           "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")

    def setUp(self):
        self.o = Outputs()
        gen_data.generate(self.o.data, 0.0005, SEED, tables={"lineitem"})
        with open(os.path.join(self.o.out, "inventory.json"), "w") as f:
            json.dump({"qx": self.SQL}, f)
        con = checks._connect()
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{self.o.data}/lineitem.parquet')")
        self.rows = con.execute(self.SQL).fetchall()

    def tearDown(self):
        self.o.close()

    def run_check(self, rows, cols=("l_returnflag", "n", "q")):
        d = os.path.join(self.o.out, "results", "qx")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)}),
                       os.path.join(d, "part-0.parquet"))
        return checks.check("inventory", self.o.data, self.o.out, SEED)

    def test_oracle_match_passes(self):
        self.assertEqual(self.run_check(self.rows), [])

    def test_perturbed_value_fails(self):
        self.assertTrue(self.run_check(bump(self.rows, 0, 2, 0.01)))

    def test_extra_row_fails(self):
        self.assertTrue(self.run_check(list(self.rows) + [self.rows[0]]))

    def test_renamed_column_fails(self):
        self.assertTrue(self.run_check(self.rows, cols=("l_returnflag", "cnt", "q")))


if __name__ == "__main__":
    unittest.main()
