#!/usr/bin/env python3
"""The scaling report: joins graft.Profile artifacts of a base and a
scaled dataset (sf0.1 -> sf1.0 for the SCALING artifact), prints
per-query cpu factors (cpu-seconds are the load-immune metric; wall
factors shown for context) sorted by factor descending plus a bucketed
summary, and writes the SCALING artifact.

Each side accepts MULTIPLE artifacts (comma-separated): the per-query
MIN across runs is used, the same discipline as Bench's multi-pass
per-query MIN — a co-tenant burst inflates one run's cpu by up to
~6x (measured: q84 16.2 -> 2.7 cpu-s across two runs of the same
binary on the same data), and min-of-runs is the least-contaminated
estimate of true work. A query present on one side only prints as
MISSING and stays out of the artifact.

When both sides' records carry `exec.task_cpu_s` (executor cpu of the
query's own stages), the report adds `task_cpu_factor`, floored alike:
at small scale process cpu is mostly JIT compilation, which the scaled
side's JVM history moves more than the data does. Artifacts without the
field give the report they always gave.

Usage: python3 tools/scale_report.py sf01.json[,sf01b.json] \\
           sf10.json[,sf10b.json] SCALING.json
"""
import json
import sys

# sub-0.05 cpu-s (or wall-s) bases are scheduler noise; floor to keep
# factors honest
FLOOR = 0.05

METHOD = ("graft.Profile on each side: one warm-up and one measured run "
          "per query, storage purged before each, noop-write "
          "materialization; per-query MIN of cpu and wall across each "
          "side's artifacts; cpu_factor = scaled cpu / max(base cpu, "
          f"{FLOOR} s), wall_factor alike; tools/scale_report.py")


TASK = "exec.task_cpu_s"
TASK_METHOD = (f"; task_cpu_factor = scaled {TASK} / max(base {TASK}, "
               f"{FLOOR} s), where both sides record it")


def load(paths):
    merged, sf = {}, None
    for p in paths.split(","):
        art = json.load(open(p))
        sf = sf or art.get("sf")
        for q, v in art["queries"].items():
            got = {k: v[k] for k in ("wall", "cpu", TASK) if k in v}
            prev = merged.setdefault(q, got)
            for k, x in got.items():
                prev[k] = min(prev.get(k, x), x)
    return merged, sf


def main(base_path, scaled_path, out_path):
    base, base_sf = load(base_path)
    scaled, scaled_sf = load(scaled_path)
    for q in sorted(set(base) ^ set(scaled)):
        print(f"MISSING at {'scale' if q in base else 'base'}: {q}")
    rows = []
    for q in sorted(set(base) & set(scaled)):
        b, s = base[q], scaled[q]
        tf = (s[TASK] / max(b[TASK], FLOOR)
              if TASK in b and TASK in s else None)
        rows.append((s["cpu"] / max(b["cpu"], FLOOR), q, b["cpu"], s["cpu"],
                     s["wall"] / max(b["wall"], FLOOR), tf))
    rows.sort(key=lambda r: r[:5], reverse=True)
    task = any(r[5] is not None for r in rows)
    head = f"{'query':30s} {'cpu base':>8s} {'cpu scl':>8s} {'cpu x':>7s}"
    print(head + (f" {'task x':>7s}" if task else "") + f" {'wall x':>7s}")
    for f, q, bc, sc, wf, tf in rows:
        line = f"{q:30s} {bc:8.2f} {sc:8.2f} {f:7.1f}"
        if task:
            line += f" {tf:7.1f}" if tf is not None else f" {'-':>7s}"
        print(line + f" {wf:7.1f}")
    buckets = [(0, 3, "strongly sublinear (<3x)"),
               (3, 7, "sublinear (3-7x)"),
               (7, 12, "~linear (7-12x)"),
               (12, 1e9, "SUPERLINEAR (>12x) - explain each")]
    print("\nbuckets (cpu factor at 10x data):")
    for lo, hi, label in buckets:
        qs = [q for f, q, *_ in rows if lo <= f < hi]
        print(f"  {label}: {len(qs)}")
        if lo >= 12:
            for q in qs:
                print(f"    {q}")
    tb = sum(r[2] for r in rows)
    ts = sum(r[3] for r in rows)
    print(f"\nsuite totals: cpu {tb:.1f} -> {ts:.1f} s "
          f"({ts / max(tb, FLOOR):.2f}x at 10x data)")
    out = {
        "method": METHOD + (TASK_METHOD if task else ""),
        "sf0.1_dir": base_sf,
        "sf1.0_dir": scaled_sf,
        "queries": {q: {"cpu_sf01": round(bc, 2), "cpu_sf10": round(sc, 2),
                        "cpu_factor": round(f, 2), "wall_factor": round(wf, 2),
                        **({"task_cpu_factor": round(tf, 2)} if tf is not None else {})}
                    for f, q, bc, sc, wf, tf in sorted(rows, key=lambda r: r[1])},
        "suite_cpu_sf01": round(tb, 1),
        "suite_cpu_sf10": round(ts, 1),
        "suite_factor": round(ts / max(tb, FLOOR), 2),
        "suite_cpu_factor_mean": round(sum(r[0] for r in rows) / max(len(rows), 1), 2),
        "n_queries": len(rows),
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}: {len(rows)} queries, "
          f"mean cpu factor {out['suite_cpu_factor_mean']}")


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2], sys.argv[3])
