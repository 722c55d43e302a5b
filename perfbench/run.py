#!/usr/bin/env python3
"""Benchmark of the retail ETL engine: the daily app and two catalog slices.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
.bench_build/; later calls reuse it while the sources are unchanged. Each
call then generates the tables (perfbench/gen_data.py), starts one fresh
JVM for the harness (graft.perfbench.Harness), checks every output against
perfbench/goldens.json and prints the metrics as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (perfbench/README.md defines each). Nothing survives a run
except the build cache, the untraced wall history the traced run compares
against, and the traced run's span file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()  # reset once the build is in place, see main()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

WORKLOADS = ("daily_etl", "catalog_mixed")
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_geomean_s", "s"), ("peak_rss_mb", "MB")]
KERNELS = ["vec_dot", "vec_norm", "simhash60", "shingles3", "shingles3_h64",
           "inter_count_sorted", "minhash_sig64", "vec_sig128", "vec_sig",
           "tok_stats", "tok_counts", "lev_banded"]
# Per-layer metrics on the result line: each is measured on both workloads
# (a layer a workload never enters would read a constant 0 there).
PER_LAYER = [
    ("sources.csv_rows", "rows"), ("sources.csv_bytes", "B"),
    ("operators.retail_join_rows", "rows"),
    ("sources.write_rows", "rows"), ("sources.write_files", "count"),
    ("sources.write_bytes", "B"), ("sources.compact_bytes", "B"),
    ("tables.schema_jobs", "count"),
    ("operators.construct_jobs", "count"), ("operators.count_jobs", "count"),
    ("planner.plan_s", "s"), ("planner.nodes", "count"), ("planner.exchanges", "count"),
    ("planner.codegen_stages", "count"), ("planner.non_codegen_nodes", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"), ("exec.executor_cpu_s", "s"), ("exec.core_util", "ratio"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.peak_task_mem_mb", "MB"),
    ("trace.span_coverage", "ratio"), ("trace_overhead_pct", "%"),
] + [(f"functions.{k}.ns_per_row", "ns/row") for k in KERNELS]
# Layer times only one workload produces; the traced run prints them on the
# details line (and in its span file), where a 0 on the other workload is no
# measurement claim.
ONE_WORKLOAD_TIMES = [
    "pipeline.readiness_s", "sources.csv_construct_s", "operators.retail_construct_s",
    "sources.write_task_commit_s", "sources.write_job_commit_s", "sources.compact_s",
    "tables.load_s", "operators.construct_s", "exec.gc_s"]
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HARNESS_TIMEOUT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for rel in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"):
        top = os.path.join(ROOT, rel)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; (classpath, source stamp)."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def host():
    """Cores as nproc reports them; JVM heap a quarter of MemTotal, 2..8 GB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return cores, max(2, min(8, kb // (4 << 20)))


def harness(cp, workload, seed, seconds, trace, inject, run_dir, cores, heap_gb, deadline):
    """One fresh harness JVM over freshly generated tables; its result dict."""
    if os.path.exists(run_dir):
        shutil.rmtree(run_dir)
    paths = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "index", "work")}
    for p in paths.values():
        os.makedirs(p)
    gen_data.generate(paths["data"])
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{heap_gb}g", f"-Xmx{heap_gb}g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={paths['tmp']}"]
           + [a for o in ADD_OPENS for a in ("--add-opens", o)]
           + ["-cp", cp, "graft.perfbench.Harness", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--data", paths["data"], "--work", paths["work"],
              "--out", out, "--cores", str(cores), "--inject", inject or ","])
    env = dict(os.environ, SPARK_GRAFT_INDEX_ROOT=paths["index"],
               SPARK_LOCAL_DIRS=paths["tmp"], SPARK_GRAFT_CPUS=str(cores))
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=paths["work"], env=env, stdout=log, stderr=subprocess.STDOUT)
        while True:  # wait4, not wait: the rusage is this JVM's alone
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                fail("harness timed out")
            time.sleep(0.1)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited {code}")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = usage.ru_maxrss / 1024
    res["out_bytes"] = sum(os.path.getsize(os.path.join(d, n))
                           for d, _, fs in os.walk(os.path.join(paths["work"], "out"))
                           for n in fs if n.endswith(".parquet"))
    return res


def check(res, goldens):
    """Name the outputs that differ from their pinned golden, and the
    expected read-back outputs that are missing or unexpected."""
    outputs = [o for o in res["ops"] if o["ok"] and o["rows"] >= 0] + res["read_back"]
    wrong = [o["name"] for o in outputs
             if goldens.get(o["golden"]) != {"rows": o["rows"], "digest": o["digest"]}]
    found, expected = {o["name"] for o in res["read_back"]}, set(res["expected_read_back"])
    wrong += sorted(f"{n} (missing)" for n in expected - found)
    wrong += sorted(f"{n} (unexpected)" for n in found - expected)
    return wrong


def end_to_end(res):
    ok = [o for o in res["ops"] if o["ok"]]
    walls = [o["wall_s"] for o in ok]
    first_ok = bool(res["ops"]) and res["ops"][0]["ok"]
    m = {
        "setup_s": res["window_start_ms"] / 1e3 - T0,
        "wall_s": sum(walls),
        "op_geomean_s": math.exp(statistics.fmean(math.log(w) for w in walls)) if walls else float("nan"),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    median = lambda xs: statistics.median(xs) if xs else None
    rows = sum(o["rows"] for o in res["read_back"])
    details = {  # the workload-specific names, for the reader
        "job_cold_s": walls[0] if first_ok else None,
        "job_warm_p50_s": median(walls[1:] if first_ok else walls),
        "input_rows_per_s": res["csv_rows_per_job"] * len(walls) / m["wall_s"] if walls else None,
        "out_bytes_per_row": res["out_bytes"] / rows if rows else None,
    } if res["workload"].startswith("daily") else {
        "query_p50_s": median(walls),
        "query_geomean_s": m["op_geomean_s"],
    }
    return m, details


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", default="", help="test hook: fail:OP,wrong:OP")
    ap.add_argument("--pin-goldens", action="store_true",
                    help="record this run's outputs as perfbench/goldens.json entries")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args()

    cp, stamp = build()
    global T0
    T0 = time.time()  # set-up starts once the build is in place
    deadline = T0 + HARNESS_TIMEOUT_S
    cores, heap_gb = host()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    golden_path = os.path.join(HERE, "goldens.json")
    with open(golden_path) as f:
        goldens = json.load(f)
    history_path = os.path.join(BUILD, "history", f"{a.workload}-{stamp[:16]}.json")
    try:
        res = harness(cp, a.workload, a.seed, a.seconds, a.trace, a.inject, run_dir, cores,
                      heap_gb, deadline)
        if a.pin_goldens:
            outs = [o for o in res["ops"] if o["ok"] and o["rows"] >= 0] + res["read_back"]
            if len({(o["golden"], o["rows"], o["digest"]) for o in outs}) != len({o["golden"] for o in outs}):
                fail("outputs disagree between ops sharing a golden; not pinning")
            goldens.update({o["golden"]: {"rows": o["rows"], "digest": o["digest"]} for o in outs})
            with open(golden_path, "w") as f:
                json.dump(dict(sorted(goldens.items())), f, indent=1)
                f.write("\n")
        wrong = check(res, goldens)
        failed = [o["name"] for o in res["ops"] if not o["ok"]]
        for o in res["ops"]:
            if not o["ok"]:
                print(f"[perfbench] {o['name']} failed: {o['error']}", file=sys.stderr)
        e2e, details = end_to_end(res)
        if a.trace:
            if not os.path.exists(history_path):
                base = harness(cp, a.workload, a.seed, a.seconds, 0, a.inject, run_dir + "-base",
                               cores, heap_gb, time.time() + HARNESS_TIMEOUT_S)
                os.makedirs(os.path.dirname(history_path), exist_ok=True)
                with open(history_path, "w") as f:
                    json.dump([end_to_end(base)[0]["wall_s"]], f)
            with open(history_path) as f:
                untraced = statistics.median(json.load(f))
            values = dict(res["layers"])
            values["trace_overhead_pct"] = (e2e["wall_s"] / untraced - 1) * 100
            metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER}
            details["layers_s"] = {n: values[n] for n in ONE_WORKLOAD_TIMES}
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "cores": cores,
                           "heap_gb": heap_gb, "metrics": metrics,
                           "layers_s": details["layers_s"], "end_to_end": e2e,
                           "ops": res["ops"], "spans": res["spans"]}, f, indent=1)
        else:
            os.makedirs(os.path.dirname(history_path), exist_ok=True)
            hist = []
            if os.path.exists(history_path):
                with open(history_path) as f:
                    hist = json.load(f)
            with open(history_path, "w") as f:
                json.dump((hist + [e2e["wall_s"]])[-20:], f)
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    finally:
        if not a.keep:
            for d in (run_dir, run_dir + "-base"):
                shutil.rmtree(d, ignore_errors=True)

    print(json.dumps({"host": {"cores": cores, "heap_gb": heap_gb},
                      "setup": {s["name"]: (s["end_ms"] - s["start_ms"]) / 1e3 for s in res["setup"]},
                      "ops_attempted": len(res["ops"]), "ops_failed": failed, "ops_wrong": wrong,
                      **details}))
    print(json.dumps({"correct": not wrong and not failed, "attempted": len(res["ops"]),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
