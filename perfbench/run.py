#!/usr/bin/env python3
"""The repo's benchmark: one workload per run, measured from outside the
program through its public Scala API.

    python3 perfbench/run.py --workload meta_requests --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (offline); later runs reuse the build while the sources
are unchanged. Each run makes its inputs from --seed, sets the workload
up from an empty models directory, times passes for --seconds, checks
every timed answer, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything a run writes stays under .bench_build/ in the repository;
the full record of a run is .bench_build/perfbench/<workload>/record.json
and, for traced runs, one layer record per op in layers.jsonl there.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import inputs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

N_DOCS = 5000                        # the sf0.1 corpus size
HEAP = "3g"                          # fixed (-Xms = -Xmx): with an adaptive heap
                                     # VmHWM varied by 30% between runs
RUN_LIMIT_S = 175                    # a run must end within 180 s
BUILD_LIMIT_S = 850

WORKLOADS = {
    "meta_requests": {
        "setups": 3,
        "pass_requests": 10,         # per client; two clients
    },
    "artifact_maintenance": {
        # one cold set-up: training the artifacts is most of a run
        "setups": 1,
        "fold": ["src_lake_roundtrip", "src_versioned_commit", "gc_compact_versioned"],
        "serve": ["tx_bm25_indexed"],
    },
}

LAYER_SUMS = ["build_ms", "prejob_ms", "gap_ms", "analysis_ms", "optimization_ms",
              "planning_ms", "query_executions", "jobs", "stages", "tasks",
              "job_wall_ms", "run_ms", "cpu_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "scan_rows", "result_rows"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ------------------------------------------------------------

def source_digest():
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "project"), os.path.join(HERE, "src")]:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile the program and the harness; return (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch")
    stamp = os.path.join(launch, "sources.sha256")
    digest = source_digest()
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        os.makedirs(OUT, exist_ok=True)
        sbt_home = os.path.join(ROOT, ".bench_build", "sbt")
        os.makedirs(f"{sbt_home}/tmp", exist_ok=True)
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               f"-Dsbt.global.base={sbt_home}/global", f"-Dsbt.ivy.home={sbt_home}/ivy",
               f"-Djava.io.tmpdir={sbt_home}/tmp", "-J-XX:-UsePerfData", "writeLaunch"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            cmd[2:2] = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        with open(os.path.join(OUT, "build.log"), "w") as log:
            code = run_bounded(cmd, HERE, dict(os.environ, COURSIER_MODE="offline"),
                               log, deadline)
        if code != 0:
            fail(f"build failed (exit {code}); see {os.path.join(OUT, 'build.log')}")
        with open(stamp, "w") as f:
            f.write(digest)
    cp = open(os.path.join(launch, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(launch, "jvm-options.txt")).read().split("\n")
            if o and not o.startswith(("-Xms", "-Xmx"))]
    return cp, opts


def run_bounded(cmd, cwd, env, log, deadline):
    """Run cmd in its own process group; kill the group at the deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ---- answers ------------------------------------------------------------

def check_dumps(result, input_dir, dumps):
    """Compare each op's set-up answer with the DuckDB oracle over the
    same generated input, canonicalized as tools/check_oracle.py does.
    Returns {op: error} for ops whose answer is wrong."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import norm

    con = duckdb.connect()
    for t in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    bad = {}
    for op, sql in sorted(result.get("oracle_sql", {}).items()):
        path = os.path.join(dumps, op)
        if not glob.glob(os.path.join(path, "*.parquet")):
            bad[op] = "no set-up answer"
            continue
        got = pd.read_parquet(path)
        want = con.execute(sql).df()
        if sorted(c.lower() for c in got.columns) != sorted(c.lower() for c in want.columns):
            bad[op] = f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
        elif norm(got) != norm(want):
            bad[op] = f"{len(got)} rows differ from the oracle's {len(want)}"
    return bad


# ---- metrics ------------------------------------------------------------

def pct(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def latencies(passes, window_ms):
    # a failed op counts as slower than every success: the whole window
    return [o["lat_ms"] if o["ok"] else window_ms for p in passes for o in p["ops"]]


def end_to_end(result, window_ms):
    """Each metric is taken per untraced pass and the median over passes
    is reported, so a short stall of the host moves one pass, not the
    run. A meta_requests pass holds 20 requests, too few for a p95."""
    passes = [p for p in result["passes"] if not p["traced"]]

    def med(f):
        return statistics.median(f(p) for p in passes)

    return {
        "setup_s": statistics.median(result["setup_s"]),
        "request_p50_ms": med(lambda p: pct(latencies([p], window_ms), 50)),
        "request_p90_ms": med(lambda p: pct(latencies([p], window_ms), 90)),
        "requests_per_s": med(lambda p: sum(o["ok"] for o in p["ops"]) / p["wall_s"]),
        "pass_s": med(lambda p: p["wall_s"]),
        "serve_s": med(lambda p: p["serve_s"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }


def per_layer(result, workload, window_ms, corpus_bytes, cores, failed, attempted):
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    write_amp = statistics.median(p["counters"]["fs_bytes_written"] / corpus_bytes
                                  for p in result["passes"])
    if not traced:
        return {"error_rate": failed / attempted, "write_amp": write_amp,
                "host.canary_s": statistics.mean(result["canary_s"])}
    sums = []
    for p in traced:
        s = {k: sum(o["layers"][k] if k in o["layers"] else o.get(k, 0) for o in p["ops"])
             for k in LAYER_SUMS}
        s.update(p["counters"])
        sums.append(s)

    def med(f):
        return statistics.median(f(s) for s in sums)

    if workload == "meta_requests":
        overhead = pct(latencies(traced, window_ms), 50) / pct(latencies(plain, window_ms), 50) - 1
    else:
        overhead = (statistics.median(p["wall_s"] for p in traced)
                    / statistics.median(p["wall_s"] for p in plain) - 1)
    names = {"build_ms": "queries.build_ms", "prejob_ms": "driver.prejob_ms",
             "gap_ms": "driver.gap_ms", "analysis_ms": "catalyst.analysis_ms",
             "optimization_ms": "catalyst.optimization_ms",
             "planning_ms": "catalyst.planning_ms",
             "query_executions": "catalyst.query_executions",
             "codegen_compiles": "codegen.compiles", "jobs": "exec.jobs",
             "stages": "exec.stages", "tasks": "exec.tasks",
             "job_wall_ms": "exec.job_wall_ms", "run_ms": "exec.run_ms",
             "cpu_ms": "exec.cpu_ms",
             "shuffle_read_bytes": "exec.shuffle_read_bytes",
             "shuffle_write_bytes": "exec.shuffle_write_bytes",
             "spill_bytes": "exec.spill_bytes",
             "fs_bytes_read": "sources.fs_bytes_read",
             "fs_bytes_written": "sources.fs_bytes_written",
             "fs_read_ops": "sources.fs_read_ops", "fs_write_ops": "sources.fs_write_ops"}
    out = {metric: med(lambda s, k=key: s[k]) for key, metric in names.items()}
    out["exec.slot_util"] = med(lambda s: s["run_ms"] / (s["job_wall_ms"] * cores)
                                if s["job_wall_ms"] else 0.0)
    out["sources.scan_rows_per_result"] = med(lambda s: s["scan_rows"] / max(s["result_rows"], 1))
    out["write_amp"] = write_amp
    out["error_rate"] = failed / attempted
    out["host.canary_s"] = statistics.mean(result["canary_s"])
    out["trace.overhead_ratio"] = overhead
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- main ---------------------------------------------------------------

def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check_oracle.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    wl = WORKLOADS[a.workload]

    first_build = not os.path.exists(os.path.join(HERE, "target", "launch", "sources.sha256"))
    build_deadline = t_start + (BUILD_LIMIT_S if first_build else RUN_LIMIT_S)
    cp, jvm_opts = build(build_deadline)
    t_built = time.monotonic()

    work = os.path.join(OUT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    dirs = {d: os.path.join(work, d) for d in ["input", "models", "warehouse", "tmp", "dumps"]}
    for d in dirs.values():
        os.makedirs(d)
    inp = inputs.generate(a.seed, N_DOCS, dirs["input"])
    corpus_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(dirs["input"], "*")))

    cores = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--setups", str(wl["setups"])]
    if a.workload == "meta_requests":
        args += ["--pass-requests", str(wl["pass_requests"])]
    else:
        ops = wl["fold"] + wl["serve"]
        random.Random(a.seed).shuffle(ops)
        args += ["--ops", ",".join(ops), "--serve", ",".join(wl["serve"])]
    cmd = (["java"] + jvm_opts +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}",
            f"-Dspark.local.dir={dirs['tmp']}",
            f"-Dspark.hadoop.hadoop.tmp.dir={dirs['tmp']}",
            f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), GRAFT_MODELS_DIR=dirs["models"])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        # after a first build the run gets a full run's time of its own
        code = run_bounded(cmd, ROOT, env, log,
                           (t_built if first_build else t_start) + RUN_LIMIT_S)
    if code != 0:
        fail(f"harness exited with {code}; see {os.path.join(work, 'jvm.log')}")
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    wrong = check_dumps(result, dirs["input"], dirs["dumps"])
    ops = [o for p in result["passes"] for o in p["ops"]]
    for o in ops:
        if o["name"] in wrong:
            o["ok"], o["error"] = False, wrong[o["name"]]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)
    window_ms = a.seconds * 1000.0
    e2e = end_to_end(result, window_ms)
    layers = per_layer(result, a.workload, window_ms, corpus_bytes, cores, failed, attempted)

    git = (subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
           if shutil.which("git") else None)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "git_commit": git.stdout.strip() if git and git.returncode == 0 else None,
        "source_sha256": source_digest(),
        "paths": {**dirs, "work": work},
        "input": inp, "corpus_bytes": corpus_bytes,
        "setup_s": result["setup_s"], "canary_s": result["canary_s"],
        "end_to_end": e2e, "per_layer": layers,
        "op_p50_ms": {n: pct([o["lat_ms"] for p in result["passes"] if not p["traced"]
                              for o in p["ops"] if o["name"] == n], 50)
                      for n in sorted({o["name"] for o in ops})},
        "attempted": attempted, "failed": failed,
        "errors": sorted({o["error"] for o in ops if not o["ok"]}
                         | {f"{k}: {v}" for k, v in result.get("setup_errors", {}).items()}),
        "oracle_mismatch": wrong,
    }
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        with open(os.path.join(work, "layers.jsonl"), "w") as f:
            for i, p in enumerate(result["passes"]):
                for o in p["ops"]:
                    if p["traced"]:
                        f.write(json.dumps({"pass": i, **o}) + "\n")

    s = spec()
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    chosen = s["per_layer"] if a.trace else s["end_to_end"]
    values = layers if a.trace else e2e
    print(f"perfbench: {a.workload} seed {a.seed}: {attempted} ops, {failed} failed; "
          f"record {os.path.join(work, 'record.json')}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]}
                    for m in chosen},
    }))


if __name__ == "__main__":
    main()
