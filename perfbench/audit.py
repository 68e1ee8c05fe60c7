#!/usr/bin/env python3
"""Self-checks of the graft benchmark.

    python3 perfbench/audit.py inputs   [--seed N]              # generator determinism
    python3 perfbench/audit.py counters --workload W [--seed N] # counters repeat + tracing overhead

`inputs` generates every workload's inputs twice from one seed and once from
the next seed: the two same-seed sets must be byte-identical and the other
set must differ. It prints each workload's input sizes, duplicate shares and
key skew.

`counters` runs one untraced and two traced runs of a workload with one
seed. It compares the host-independent counts of the two traced runs (jobs,
stages, tasks, files written, shuffle bytes; per call or per operation) and
flags every count that differs, so no non-repeating counter is cited as
evidence. It also reports the tracing overhead: traced minus untraced
end-to-end numbers of the same seed.

Reports are printed and written under .bench_build/perfbench/audit/.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

AUDIT = os.path.join(run.OUT, "audit")
# counters that depend only on the inputs and the code, not on the host
REPEATABLE = ("jobs", "stages", "tasks", "shuffle_write_bytes", "files_written", "bytes_written")


def digest(root: str) -> dict:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def audit_inputs(seed: int) -> dict:
    report = {}
    tmp = os.path.join(AUDIT, "inputs")
    for w in sorted(gen.SHAPES):
        a, b, c = (os.path.join(tmp, w, x) for x in ("a", "b", "c"))
        for p in (a, b, c):
            shutil.rmtree(p, ignore_errors=True)
        info = gen.generate(w, seed, a)
        gen.generate(w, seed, b)
        gen.generate(w, seed + 1, c)
        da, db, dc = digest(a), digest(b), digest(c)
        report[w] = {"same_seed_identical": da == db,
                     "next_seed_differs": all(da[k] != dc.get(k) for k in da),
                     "input_rows": info["input_rows"], "input_bytes": info["input_bytes"],
                     "realized": info["realized"]}
    shutil.rmtree(tmp, ignore_errors=True)
    return report


def audit_counters(workload: str, seed: int, seconds: float) -> dict:
    results = os.path.join(run.OUT, "results")
    runs = []
    for i, trace in enumerate((0, 1, 1)):
        run.run_one(workload, seed, seconds, trace)
        with open(os.path.join(results, f"{workload}-s{seed}-t{trace}.json")) as f:
            runs.append(json.load(f))
    plain, t1, t2 = runs
    counts = {k for k in t1["per_layer"] if k.rsplit(".", 1)[-1] in REPEATABLE or k.startswith("spark.jobs")}
    differ = {k: [t1["per_layer"].get(k), t2["per_layer"].get(k)] for k in sorted(counts)
              if t1["per_layer"].get(k) != t2["per_layer"].get(k)}
    overhead = {}
    for k in ("setup_s", "op_p50_s", "input_rows_per_s", "heap_peak_mb"):
        u, t = plain["end_to_end"][k], (t1["end_to_end"][k] + t2["end_to_end"][k]) / 2
        overhead[k] = {"untraced": u, "traced_mean": t, "relative": (t - u) / u}
    return {"workload": workload, "seed": seed, "counts_compared": len(counts),
            "counts_that_differ": differ, "tracing_overhead": overhead,
            "contended_runs": [r["trace"] for r in runs if r["host"]["contended"]]}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("what", choices=("inputs", "counters"))
    ap.add_argument("--workload", choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    os.makedirs(AUDIT, exist_ok=True)
    if a.what == "inputs":
        rep = audit_inputs(a.seed)
        ok = all(r["same_seed_identical"] and r["next_seed_differs"] for r in rep.values())
        name = "inputs.json"
    else:
        if not a.workload:
            ap.error("counters needs --workload")
        seconds = a.seconds if a.seconds is not None else run.bench_spec()["run_seconds"]
        rep = audit_counters(a.workload, a.seed, seconds)
        ok = True  # differing counters are reported, not an error
        name = f"counters-{a.workload}-s{a.seed}.json"
    with open(os.path.join(AUDIT, name), "w") as f:
        json.dump(rep, f, indent=1)
    print(json.dumps(rep, indent=1))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
