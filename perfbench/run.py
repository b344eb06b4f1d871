#!/usr/bin/env python3
"""One run of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a graft checkout. The first run builds graft and
the benchmark driver from source (sbt, offline) into perfbench/target;
later runs reuse the build while the sources are unchanged. The run
starts one JVM on local[nproc], which sets up the workload, runs timed
passes for --seconds, and checks the outputs. This script prints a short
report, appends a record with its provenance to perfbench/out/records.jsonl,
and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1).
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import measure

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("registry_sf001", "ingest_chain")

# end-to-end metrics: name -> unit (all lower is better)
END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms",
              "peak_rss_mb": "MB"}
# per-layer metrics every workload reports in a traced run
PER_LAYER = {
    "plans.analysis_ms": "ms", "plans.optimize_ms": "ms",
    "plans.physical_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.job_wall_ms": "ms", "exec.driver_gap_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.core_busy_frac": "ratio",
    "exec.gc_ms": "ms", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "operators.checkpoints": "count", "operators.checkpoint_bytes": "bytes",
    "sources.read_bytes": "bytes", "sources.write_bytes": "bytes",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms", "trace.overhead_ms": "ms",
}
JVM_BUDGET_S = 170          # one run ends within 180 s
BUILD_BUDGET_S = 700        # the first run of a checkout also builds (900 s)
HEAP = ["-Xms5g", "-Xmx5g", "-Xmn1g"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_hash(root):
    """Hash of every source file the run depends on: graft and the bench."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "data"), os.path.join(BENCH, "pins")]
    files = [os.path.join(BENCH, f) for f in
             ("build.sbt", "project/build.properties", "registry_ids.txt")]
    for d in dirs:
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail(2, "no Spark installation (set SPARK_HOME)")
    return home


def run_quiet(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(root, tree, home, out):
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == tree:
        return 0.0
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    code = run_quiet(["sbt", "-batch", "compile"], BENCH, env, BUILD_BUDGET_S,
                     os.path.join(out, "build.log"))
    if code != 0:
        fail(3, "build failed; see perfbench/out/build.log")
    with open(stamp, "w") as f:
        f.write(tree)
    return time.time() - t0


def java(home, work, args):
    """The benchmark JVM's command line: perfbench.Main with `args`, its
    temporary files under `work`."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + HEAP + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", classes + os.pathsep + os.path.join(home, "jars", "*"),
               "perfbench.Main", "--cpus", str(len(os.sched_getaffinity(0))),
               "--work", work, "--data", os.path.join(BENCH, "data")] + args)


def git_state(root):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             capture_output=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=root,
                               text=True, capture_output=True,
                               check=True).stdout.strip() != ""
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def verdict(raw):
    """(attempted, failed, reasons) of the run's timed operations."""
    def pins(name):
        with open(os.path.join(BENCH, "pins", name)) as f:
            return json.load(f)
    w, seed, checks = raw["workload"], str(raw["seed"]), raw["checks"]
    timed = raw["passes"]
    ops = [o for p in timed for o in p["ops"]]
    if w == "registry_sf001":
        failed, why = measure.registry_failures(ops, checks["results"],
                                                pins("registry.json"))
    else:
        failed, why = measure.ingest_failures(
            timed, checks, raw["scale"]["batch_size"],
            pins("ingest.json").get(seed))
    return len(ops), failed, why


def report(raw, e2e, plain, ops, attempted, failed):
    """Human-readable lines, with the per-workload metric names."""
    w = raw["workload"]
    lines = {"workload": w, "seed": raw["seed"], "cpus": raw["cpus"],
             "passes": len(plain), "ops": len(ops),
             "pass_walls_s": [round(measure.wall_ms(p) / 1e3, 4) for p in plain]}
    for k, u in END_TO_END.items():
        lines[k] = f"{e2e[k]:.4f} {u}"
    ms = [o["ms"] for o in ops]
    t = measure.tail(ms)
    if w == "registry_sf001":
        lines["query_p50_ms"] = f"{measure.median(ms):.2f} ms (n={len(ms)})"
        lines["query_p90_ms"] = (f"{measure.percentile(ms, 0.9):.2f} ms"
                                 if measure.percentile(ms, 0.9) is not None
                                 else f"unsupported (n={len(ms)})")
    else:
        docs = sum(o["rows"] for o in ops)
        lines["docs_per_s"] = f"{docs / sum(measure.wall_ms(p) for p in plain) * 1e3:.2f} docs/s"
        lines["batch_p50_ms"] = f"{measure.median(ms):.1f} ms (n={len(ms)})"
    if t is not None:
        lines[f"op_p{round(t[0] * 100)}_ms"] = f"{t[1]:.2f} ms (n={len(ms)})"
    lines["failed_frac"] = f"{failed / attempted:.4f} ({failed}/{attempted})"
    s = raw["setup"]
    lines["setup_parts_s"] = {"session": s["session_s"],
                              "inputs_median": measure.median(s["inputs_s"]),
                              "warmup": s["warmup_s"]}
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail(2, "run from the root of a graft checkout (no graft sources here)")
    home = spark_home()
    out = os.path.join(BENCH, "out")
    # each run writes into a directory of its own and leaves it in place:
    # deleting the thousands of small files a run writes costs more than
    # the run measures on some filesystems (perfbench/work is ignored by git)
    work = os.path.join(BENCH, "work", f"{a.workload}-{int(started)}-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    tree = tree_hash(root)
    build_s = build(root, tree, home, out)
    cpus = len(os.sched_getaffinity(0))
    raw_path = os.path.join(work, "raw.json")
    cmd = java(home, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--out", raw_path, "--ids", os.path.join(BENCH, "registry_ids.txt")])
    budget = JVM_BUDGET_S - (time.time() - started - build_s)
    # Spark's scratch space stays inside the checkout, as does java.io.tmpdir
    env = dict(os.environ, SPARK_HOME=home,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    jvm_t0 = time.time()
    code = run_quiet(cmd, root, env, budget,
                     os.path.join(out, f"{a.workload}.jvm.log"))
    jvm_s = time.time() - jvm_t0
    if code != 0:
        fail(4, f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; "
                f"see perfbench/out/{a.workload}.jvm.log")
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.copy(raw_path, os.path.join(out, f"{a.workload}.raw.json"))

    attempted, failed, why = verdict(raw)
    e2e, plain, ops = measure.end_to_end(raw)
    rec = report(raw, e2e, plain, ops, attempted, failed)
    if a.trace:
        layers, table = measure.per_layer(raw)
        layers.update(measure.outcome_fracs(raw))
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        wall = layers["exec.job_wall_ms"] + layers["exec.driver_gap_ms"]
        rec["census"] = {
            "jobs_per_pass": layers["exec.jobs"],
            "wall_outside_jobs_frac": layers["exec.driver_gap_ms"] / wall,
            "executor_busy_frac_of_core_time": layers["exec.core_busy_frac"],
            "job_wall_plus_driver_gap_ms": wall,
            "untraced_pass_ms": e2e["pass_s"] * 1e3,
            "tracing_overhead_ms": layers["trace.overhead_ms"],
        }
        rec["per_layer"] = layers
        if table:
            rec["per_id"] = table
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    sha, dirty = git_state(root)
    n_prev = 0
    records = os.path.join(out, "records.jsonl")
    if os.path.exists(records):
        with open(records) as f:
            n_prev = sum(1 for _ in f)
    iso = lambda ms: datetime.datetime.fromtimestamp(
        ms / 1e3, datetime.timezone.utc).isoformat()
    rec["provenance"] = {
        "git_sha": sha, "git_dirty": dirty, "tree": tree, "cpus": cpus,
        "seed": a.seed, "workload": a.workload, "trace": a.trace,
        "seconds": a.seconds, "scale": raw["scale"],
        "jvm": raw["jvm_version"], "spark": raw["spark_version"],
        "start": iso(raw["start_epoch_ms"]), "end": iso(raw["end_epoch_ms"]),
        "run_index": n_prev, "build_s": build_s, "jvm_s": jvm_s,
        "run_s": time.time() - started}
    rec["failures"] = why[:20]
    rec["metrics"] = {k: v["value"] for k, v in metrics.items()}
    with open(records, "a") as f:
        f.write(json.dumps(rec) + "\n")
    for k, v in rec.items():
        if k not in ("metrics", "per_id"):
            print(f"{k}: {json.dumps(v)}")
    for r in rec.get("per_id", []):
        print("per_id: " + json.dumps(r))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
