#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM
(perfbench/src), checks every output (perfbench/check.py), and prints one
JSON object as its last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
installs the span listener and reports the per-layer ones instead. The full
record of the run (host, inputs, every op, every span total) goes to
.bench_build/perfbench/results/. `--workload all` runs every workload in turn.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["etl_daily", "corpus_build", "stream_intake", "store_reads"]
RUN_LIMIT_S = 170  # a run must end within 180 s
CPUS = min(4, os.cpu_count() or 1)  # Spark local[k], k <= nproc
JVM_OPTS = ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Module file -> layer, for the call-site split of Spark jobs.
LAYERS = {
    "sources": ["Tables", "ManifestStore", "Sink"],
    "streaming": ["EventStream", "FrontierState", "DeleteStream", "VectorStream"],
    "functions": ["text", "vectors"],
    "plans": ["TextExpressions", "VectorExpressions"],
}
# The spans each workload opens (Workloads.scala), and the modules its spans
# call into that start Spark jobs of their own. A traced run measures a
# span's counters only on a workload that opens the span, and a module's
# share of the call-site split only on a workload that calls the module;
# on every other workload those metrics read 0, as the workload makes no
# such call. A listed span that a run does not open fails the run, so a
# renamed or dropped span cannot read as 0 where it is measured.
SPANS = {
    "etl_daily": ["sources.Tables.incremental", "operators.Upsert.latestState",
                  "operators.Enrich.extractSkills", "operators.Ranker.segmentRank",
                  "operators.Marts.scd2Dim", "operators.Marts.incrementalFact",
                  "sources.ManifestStore.publishDeltaMerged"],
    "corpus_build": ["functions.text.qualityGate", "operators.Dedup.exact", "operators.Dedup.minhashPairs",
                     "operators.Dedup.connectedComponents", "operators.Curate.flagContaminated",
                     "operators.Curate.tokenBudgetSample"],
    "stream_intake": ["streaming.EventStream.corpusAdmissionBatch", "streaming.EventStream.readLedger"],
    "store_reads": ["sources.ManifestStore.readVersion", "sources.Sink.readSkipping",
                    "operators.Ann.ivfTopK", "operators.Retrieval.searchFromStore"],
}
INNER_MODULES = {"stream_intake": ["FrontierState", "ManifestStore"]}
GLOBAL_COUNTERS = ["spark.jobs", "spark.tasks", "spark.task_cpu_s", "spark.driver_gap_s",
                   "spark.busy_cores", "spark.driver_gap_share", "jvm.gc_s", "jvm.jit_s"]
SPAN_COUNTERS = ["calls", "wall_s", "self_s", "jobs", "stages", "tasks", "task_cpu_s",
                 "shuffle_write_bytes", "spill_bytes", "driver_gap_s"]
FS_COUNTERS = ["files_written", "bytes_written", "bytes_read"]


def module_of(call_site: str) -> str:
    """'parquet at ManifestStore.scala:177' -> 'ManifestStore'."""
    f = call_site.rsplit(" at ", 1)[-1].split(":")[0]
    return f[:-len(".scala")] if f.endswith(".scala") else "other"


def layer_of(module: str) -> str:
    if module in ("Workloads", "Main", "Trace"):
        return "perfbench"
    for layer, mods in LAYERS.items():
        if module in mods:
            return layer
    return "operators" if module[:1].isupper() else "other"


def modules_of(workload: str) -> set:
    """Modules whose jobs a workload's call-site split may count."""
    return ({s.split(".")[1] for s in SPANS[workload]} | set(INNER_MODULES.get(workload, []))
            | {"Workloads"})


def owns(workload: str, metric: str) -> bool:
    """Whether a traced run of `workload` produces per-layer `metric`."""
    if metric in GLOBAL_COUNTERS:
        return True
    if metric.startswith("spark.jobs.layer."):
        return metric[len("spark.jobs.layer."):] in {layer_of(m) for m in modules_of(workload)}
    if metric.startswith("spark.jobs."):
        return metric[len("spark.jobs."):] in modules_of(workload)
    span, _, counter = metric.rpartition(".")
    return span in SPANS[workload] and (
        counter in SPAN_COUNTERS + FS_COUNTERS or
        (counter == "records_read_per_result" and span.startswith("sources.")))


def percentile(xs, q):
    """Nearest-rank percentile of a sorted list."""
    k = max(0, min(len(xs) - 1, int(-(-q * len(xs) // 100)) - 1))
    return xs[k]


def tail_percentile(n: int) -> int:
    """Highest of 99/95/90/75/50 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


def covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def host_info() -> dict:
    commit = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=5)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": os.cpu_count(), "loadavg_start": os.getloadavg(), "git_commit": commit}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
               if not f.endswith(".crc"))


def end_to_end(rec: dict, launch_ns: int, inputs: dict, work: str) -> dict:
    ops = rec["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = sorted((o["end"] - o["due"]) / 1e9 for o in ok)
    q = tail_percentile(len(lat))
    # closed loop: rows over the window's wall time; open loop: rows over
    # the time ops ran, as the window's wall time is set by the schedule
    if rec["interval_s"]:
        wall = sum(o["end"] - o["start"] for o in ops) / 1e9
    else:
        wall = (max(o["end"] for o in ops) - rec["t0"]) / 1e9
    jt = rec["jvm_timed"]
    ext = (jt["host_busy_ticks"] / max(1, jt["host_total_ticks"]) * (os.cpu_count() or 1)
           - jt["process_cpu_s"] / max(1e-9, jt["wall_s"]))
    out = {
        "setup_s": (rec["t0"] - launch_ns) / 1e9,
        "op_p50_s": statistics.median(lat) if lat else None,
        "op_tail_s": percentile(lat, q) if lat else None,
        "input_rows_per_s": sum(o["input_rows"] for o in ok) / wall,
        "heap_peak_mb": rec["heap_peak_bytes"] / 2 ** 20,
        "failed_op_frac": (len(ops) - len(ok)) / len(ops),
        "tail_percentile": q,
        "samples": len(lat),
        "warmup_ops": len(rec["warmup"]),
        "external_cpu_cores": ext,
    }
    if rec["interval_s"]:
        out["gen_late_max_s"] = max((o["start"] - o["due"]) / 1e9 for o in ops)
        out["offered_rows_per_s"] = (sum(o["input_rows"] for o in ops) /
                                     (len(ops) * rec["interval_s"]))
    store = {"etl_daily": "etl/mart", "stream_intake": "s26/state"}.get(rec["workload"])
    if store:
        out["stored_bytes_per_input_byte"] = dir_bytes(os.path.join(work, store)) / inputs["input_bytes"]
    return out


def per_layer(rec: dict) -> dict:
    """Per-span counters (per call, timed ops only) and global counters
    (per timed op). Jobs are charged to the innermost open span."""
    td = rec["trace_data"]
    n_ops = max(1, len(rec["ops"]))
    spans = [s for s in td["spans"] if s["op"] >= 0]
    by_id = {s["id"]: s for s in td["spans"]}
    jobs = td["jobs"]
    job_iv = [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs if j["end_ms"]]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], {c: 0.0 for c in SPAN_COUNTERS + FS_COUNTERS + ["results", "records_read"]})
        lo, hi = s["start"] / 1e9, s["end"] / 1e9
        a["calls"] += 1
        a["wall_s"] += hi - lo
        a["self_s"] += (hi - lo) - covered([(k["start"] / 1e9, k["end"] / 1e9) for k in kids.get(s["id"], [])], lo, hi)
        a["driver_gap_s"] += (hi - lo) - covered(job_iv, lo, hi)
        for j in jobs_of.get(s["id"], []):
            a["jobs"] += 1
            a["stages"] += j["stages"]
            a["tasks"] += j["tasks"]
            a["task_cpu_s"] += j["task_cpu_ns"] / 1e9
            a["shuffle_write_bytes"] += j["shuffle_write_bytes"]
            a["spill_bytes"] += j["spill_bytes"]
            a["records_read"] += j["records_read"]
        a["files_written"] += s["files_written"]
        a["bytes_written"] += s["bytes_written"]
        a["bytes_read"] += s["bytes_read"]
        a["results"] += max(0, s["results"])
    m = {}
    for name, a in agg.items():
        calls = a["calls"]
        for c in SPAN_COUNTERS + FS_COUNTERS:
            m[f"{name}.{c}"] = a[c] / n_ops if c == "calls" else a[c] / calls
        if name.startswith("sources."):
            m[f"{name}.records_read_per_result"] = a["records_read"] / max(1.0, a["results"])
    # global counters over the timed window, per op
    timed = [j for j in jobs if j["span"] in by_id and by_id[j["span"]]["op"] >= 0]
    op_wall = sum(o["end"] - o["start"] for o in rec["ops"]) / 1e9
    m["spark.jobs"] = len(timed) / n_ops
    m["spark.tasks"] = sum(j["tasks"] for j in timed) / n_ops
    m["spark.task_cpu_s"] = sum(j["task_cpu_ns"] for j in timed) / 1e9 / n_ops
    m["spark.driver_gap_s"] = sum((o["end"] - o["start"]) / 1e9 - covered(job_iv, o["start"] / 1e9, o["end"] / 1e9)
                                  for o in rec["ops"]) / n_ops
    # average cores kept busy by task CPU, and the share of op time in which
    # no Spark job ran: how far an op is bound by tasks or by per-job cost
    m["spark.busy_cores"] = m["spark.task_cpu_s"] * n_ops / op_wall
    m["spark.driver_gap_share"] = m["spark.driver_gap_s"] * n_ops / op_wall
    split = {f"spark.jobs.{mod}": 0 for mod in modules_of(rec["workload"])}
    split.update({f"spark.jobs.layer.{layer_of(mod)}": 0 for mod in modules_of(rec["workload"])})
    for j in timed:
        mod = module_of(j["call_site"])
        for key in (f"spark.jobs.{mod}", f"spark.jobs.layer.{layer_of(mod)}"):
            split[key] = split.get(key, 0) + 1
    m.update({k: v / n_ops for k, v in split.items()})
    m["jvm.gc_s"] = rec["jvm_timed"]["gc_s"] / n_ops
    m["jvm.jit_s"] = rec["jvm_timed"]["jit_s"] / n_ops
    return m


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def per_layer_metrics(workload: str, layers: dict, spec: dict) -> dict:
    """BENCHMARK.json's per-layer metrics of one traced run: measured where
    the workload produces them, 0 where it does not call the span or
    module (see `owns`). A span the workload should open but did not, a
    span it opened that SPANS does not list, or a listed metric no measured
    workload produces is an error, so a renamed or dropped span cannot read
    as 0."""
    missing = [s for s in SPANS[workload] if f"{s}.calls" not in layers]
    unknown = sorted({k[:-len(".calls")] for k in layers if k.endswith(".calls")} - set(SPANS[workload]))
    measured = [w["name"] for w in spec["workloads"]]
    orphan = [m["name"] for m in spec["per_layer"] if not any(owns(w, m["name"]) for w in measured)]
    if missing or unknown or orphan:
        raise SystemExit(f"{workload}: spans not opened {missing}, spans not listed {unknown}, "
                         f"per-layer metrics no measured workload produces {orphan}")
    out = {}
    for m in spec["per_layer"]:
        v = layers.get(m["name"])
        if v is None and owns(workload, m["name"]):
            raise SystemExit(f"{workload}: per-layer metric {m['name']} was not produced")
        out[m["name"]] = {"value": 0.0 if v is None else float(v), "unit": m["unit"]}
    return out


def run_one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cp = build.build()
    launch_ns = time.time_ns()
    host = host_info()
    tag = f"{workload}-s{seed}-t{trace}"
    # only the latest run's work dir is kept, for inspection
    shutil.rmtree(os.path.join(OUT, "work"), ignore_errors=True)
    work = os.path.join(OUT, "work", tag)
    inputs_dir = os.path.join(work, "inputs")
    inputs = gen.generate(workload, seed, inputs_dir)
    os.makedirs(os.path.join(work, "tmp"))
    rec_path = os.path.join(work, "record.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "graft.perfbench.Main",
           "--workload", workload, "--inputs", inputs_dir, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(CPUS), "--seed", str(seed), "--out", rec_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time_ns() - launch_ns) / 1e9))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"{workload}: harness exceeded the run limit; see {log_path}")
    if rc != 0 or not os.path.exists(rec_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload}: harness failed (exit {rc}); see {log_path}")
    with open(rec_path) as f:
        rec = json.load(f)
    errors = check.check(workload, rec, inputs_dir)
    e2e = end_to_end(rec, launch_ns, inputs, work)
    layers = per_layer(rec) if trace else {}
    host.update({"cpus": CPUS, "spark_version": rec["spark_version"],
                 "max_heap_mb": rec["max_heap_bytes"] / 2 ** 20,
                 "external_cpu_cores": e2e["external_cpu_cores"],
                 "contended": e2e["external_cpu_cores"] > 0.25})
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    detail = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "host": host, "inputs": inputs, "errors": errors, "end_to_end": e2e,
              "per_layer": layers, "ops": [{k: o[k] for k in ("id", "due", "start", "end", "ok", "error")}
                                           for o in rec["ops"]]}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for e in errors:
        print(f"[perfbench] CHECK FAILED: {e}", file=sys.stderr)
    if host["contended"]:
        print(f"[perfbench] contended run: loadavg {host['loadavg_start']}, "
              f"external CPU {e2e['external_cpu_cores']:.2f} cores", file=sys.stderr)
    spec = bench_spec()
    if trace:
        metrics = per_layer_metrics(workload, layers, spec)
    else:
        if any(e2e[m["name"]] is None for m in spec["end_to_end"]):
            raise SystemExit(f"{workload}: no operation succeeded, so no latency can be reported")
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    return {"correct": not errors and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None, help="timed window (default: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seconds = a.seconds if a.seconds is not None else bench_spec()["run_seconds"]
    if a.workload != "all":
        print(json.dumps(run_one(a.workload, a.seed, seconds, a.trace), allow_nan=False))
        return
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = run_one(w, a.seed, seconds, a.trace)
        print(json.dumps({"workload": w, **r}, allow_nan=False), flush=True)
        total["correct"] &= r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
        total["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(total, allow_nan=False))


if __name__ == "__main__":
    main()
