"""graft benchmark: one command, three workloads, an optional traced run.

    python3 perfbench/run.py --workload serve|inventory|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a source tree. The command builds graft and the
harness (perfbench/build.py), generates the inputs from the seed, runs the
harness JVM (one process, Spark local[CORES]), checks every output against
an independent DuckDB computation (perfbench/checks.py), and prints one
JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the full traced record
(per-layer figures, span totals and self times, overhead) is also written
to <build dir>/perfbench/traces/<workload>-<seed>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen_data  # noqa: E402

# Spark local[CORES] inside one JVM; at most `nproc` threads do task work.
CORES = 2
# Input scale per workload (lineitem has 6,000,000 x sf rows).
SERVE_SF = 0.1
SERVE_SHARDS = 16
INVENTORY_SF = 0.01
DATA_SEED = 42
DEADLINE_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss4m",
    "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:CICompilerCount=2",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def metric_specs(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def prepare(workload, data):
    """Input preparation done outside the JVM."""
    if workload == "serve":
        gen_data.generate(data, SERVE_SF, DATA_SEED, tables={"lineitem"}, shards=SERVE_SHARDS)
    elif workload == "inventory":
        gen_data.generate(data, INVENTORY_SF, DATA_SEED)
    else:
        os.makedirs(data, exist_ok=True)  # the harness publishes the table itself


def run_jvm(classes, jars, args, run_dir, deadline):
    cmd = (["java"] + JVM_OPTS
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dspark.local.dir=" + os.path.join(run_dir, "local"),
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Harness"] + args)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: harness exceeded the time limit")
        finally:
            # on a timeout or a signal to this script, take the JVM down too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness exited with %d" % rc)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "inventory", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    root = os.getcwd()
    end_to_end, per_layer = metric_specs(root)
    classes, jars = build.build(root)
    started = time.time()  # the time limit covers the run, not a first build

    run_dir = os.path.join(build.build_dir(root), "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    for d in (data, out, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")):
        os.makedirs(d)
    try:
        setup_t0 = time.time()
        prepare(a.workload, data)
        run_jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--data", data, "--out", out, "--cores", str(CORES)],
                run_dir, started + DEADLINE_S)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        setup_s = res["timed_start_ms"] / 1000.0 - setup_t0
        problems = checks.check(a.workload, data, out, a.seed)
        for p in problems[:20]:
            print("check failed: " + p, file=sys.stderr)
        if a.trace:
            tdir = os.path.join(build.build_dir(root), "traces")
            os.makedirs(tdir, exist_ok=True)
            res["setup_s"] = setup_s
            with open(os.path.join(tdir, "%s-%d.json" % (a.workload, a.seed)), "w") as f:
                json.dump(res, f, indent=1, sort_keys=True)
            values = res["layer"]
            metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in per_layer}
        else:
            values = dict(res["metrics"], setup_s=setup_s)
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in end_to_end}
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
