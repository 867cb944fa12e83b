#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, makes the workload's
inputs from the seed, runs one workload in a fresh JVM and prints one JSON
result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. `--trace 0` reports the end-to-end metrics
of the timed runs (no listener registered); `--trace 1` runs the timed
runs, then a separate traced pass, and reports the per-layer metrics.
Everything the run writes stays under `.bench_build/perfbench/` in the
repository. See perfbench/README.md for the workloads and metrics.

Exit codes: 0 all operations correct; 1 a workload threw, a metric is
missing or an output was wrong; 2 the repository or arguments are unusable.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"
# a run (its build aside) must end within 180 s; the JVM gets what is left
# of this after the data generation
DEADLINE_S = 172
# batch_sf01 times the headline battery on generated sf0.1 tables
SF = 0.1

BATCH_Q = ["q_agg", "q_join_shuffle", "q_multi_join", "q_window_fn", "q_tumble", "q_hop",
           "q_session", "q_interval_join", "q_dedup_exact", "q_minhash_lsh", "q_ngram_jaccard",
           "q_tfidf", "q_semdedup", "q_quality", "q_ann_bruteforce", "q_ann_lsh", "q_ann_ivf",
           "q_ann_pq", "q_ann_ivfpq", "q_decontaminate_sem"]
WORKLOADS = ["batch_sf01", "stream_hop_open"]

# What every workload reports: the end-to-end metrics with --trace 0, the
# per-layer metrics with --trace 1. A run that misses one of these fails.
# Workload-specific metrics (per query, per streaming phase, the updating
# drain's) and latency_p99_ms are kept in result_full.json only.
E2E = ["latency_mean_ms", "latency_p50_ms", "setup_s"]
LAYERS = [f"exec.{m}" for m in
          ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "sched_gap_s",
           "core_util", "shuffle_write_mb", "spill_mb", "task_skew"]] \
    + ["units.wall_ms", "sql.planning_ms", "scaling.speedup",
       "trace.overhead_frac"]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return None


def steal_jiffies():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        return int(Path("/proc/stat").read_text().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def source_hash():
    """Hash of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in [ROOT / "src" / "main", BENCH / "src"]:
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(src_hash):
    """Compiles the program and the benchmark with one sbt run, once per
    source state; returns (classpath, jvm options)."""
    stamp = STATE / "build.stamp"
    cp_file = BENCH / "target" / "classpath.txt"
    opts_file = BENCH / "target" / "jvm_options.txt"
    if not (stamp.exists() and stamp.read_text() == src_hash and cp_file.exists()):
        env = dict(os.environ, COURSIER_MODE="offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = Path.home() / ".sbt" / "repositories"
            if repos.exists():
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = STATE / "build.log"
        with open(log, "w") as f:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFiles"],
                                cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            tail = log.read_text().splitlines()[-20:]
            die(1, "build failed:\n" + "\n".join(tail))
        stamp.write_text(src_hash)
    opts = [o for o in opts_file.read_text().splitlines() if o]
    return cp_file.read_text().strip(), opts


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def fresh(d):
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    return d


def check_batch(result, data_dir):
    """Row counts of every timed, traced and single-thread execution must
    match DuckDB running the query's oracle SQL over the same tables;
    queries without an oracle must return the same non-zero count every
    time. Returns the number of executions that failed the check."""
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = result["info"]["oracle_sql"]
    expected = {q: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                for q, sql in oracle.items()}
    bad = 0
    for q in BATCH_Q:
        execs = [e for e in result["info"]["executions"] if e["query"] == q and e["error"] is None]
        counts = {e["rows"] for e in execs}
        want = {expected[q]} if q in expected else counts
        for e in execs:
            if not (e["rows"] in want and e["rows"] > 0 and len(counts) == 1):
                bad += 1
                result["failures"].append(
                    f"{q} ({e['pass']}): {e['rows']} rows, expected {sorted(want)}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(2, f"unknown workload {a.workload}; one of {WORKLOADS}")
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        die(2, f"{ROOT} holds no program to build (build.sbt, src/main/scala)")
    java = shutil.which("java")
    if java is None:
        die(2, "no java on PATH")

    STATE.mkdir(parents=True, exist_ok=True)
    load_before, steal_before = loadavg(), steal_jiffies()
    src_hash = source_hash()
    cp, jvm_opts = build(src_hash)
    started = time.time()

    out = fresh(STATE / "out" / a.workload)
    work = fresh(STATE / "work" / a.workload)
    data = "-"
    if a.workload == "batch_sf01":
        sys.path.insert(0, str(BENCH))
        sys.dont_write_bytecode = True
        import datagen
        data = str(fresh(STATE / "data") / "sf0.1")
        datagen.generate(data, SF, a.seed)

    # flush dirty pages (generated data, the previous run's checkpoints and
    # shuffle files) so kernel writeback does not land inside the timing
    os.sync()
    # the root build's JVM options, heap size included
    cmd = [java, *jvm_opts, f"-Djava.io.tmpdir={fresh(work / 'tmp')}", "-cp", cp,
           "perfbench.Main", a.workload, str(a.seed), str(a.seconds), str(a.trace),
           data, str(out), str(work)]
    t0 = time.time()
    timeout = DEADLINE_S - (t0 - started)
    with open(out / "jvm.log", "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            die(1, f"{a.workload} did not finish within {timeout:.0f} s (log: {out / 'jvm.log'})")
    result_file = out / "result.json"
    if rc != 0 or not result_file.exists():
        err = json.loads(result_file.read_text())["info"].get("error") \
            if result_file.exists() else None
        die(1, f"{a.workload} threw ({err}); log: {out / 'jvm.log'}")
    result = json.loads(result_file.read_text())
    if a.workload == "batch_sf01":
        result["failed"] += check_batch(result, data)

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    names = LAYERS if a.trace else E2E
    got = result["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for n in names:
        v = got.get(n, {}).get("value")
        if v is None or not math.isfinite(v):
            die(1, f"{a.workload} did not report metric {n}")
        if got[n]["unit"] != units.get(n):
            die(1, f"metric {n} has unit {got[n]['unit']}, BENCHMARK.json says {units.get(n)}")
        metrics[n] = {"value": v, "unit": got[n]["unit"]}

    result["env"] = {"nproc": os.cpu_count(), "loadavg_before": load_before,
                     "loadavg_after": loadavg(), "git_commit": git_commit(),
                     "steal_jiffies": (steal_jiffies() or 0) - (steal_before or 0),
                     "source_sha256": src_hash, "seed": a.seed, "seconds": a.seconds,
                     "jvm_wall_s": time.time() - t0}
    (out / "result_full.json").write_text(json.dumps(result, indent=1))
    for f in result["failures"][:10]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}
    print(json.dumps(line))
    sys.exit(0 if result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
