"""Arithmetic and output checks of the graft benchmark.

Everything here is a pure function of the raw record the benchmark JVM
writes (see src/main/scala/perfbench/Main.scala), so it is unit-tested on
its own (test_measure.py).
"""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it.
MIN_BEYOND = 10


# ---------------------------------------------------------------- arithmetic

def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank q-quantile of xs (0 < q < 1), or None unless at least
    MIN_BEYOND samples lie beyond its rank."""
    xs = sorted(xs)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def tail(xs, qs=(0.99, 0.95, 0.9)):
    """The highest of `qs` the sample supports, as (q, value), or None."""
    for q in qs:
        v = percentile(xs, q)
        if v is not None:
            return q, v
    return None


def union(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(start, end, jobs):
    """Wall time of [start, end] that no job interval covers."""
    return (end - start) - union(jobs, start, end)


def self_times(spans, extra=None):
    """Each span's duration minus the part of its interval covered by its
    child spans and by the intervals `extra` lists under its id (the
    Spark jobs it started). spans: dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for sid, ivs in (extra or {}).items():
        kids.setdefault(sid, []).extend(ivs)
    return {s["id"]: (s["end"] - s["start"])
            - union(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def quartile_spread(xs):
    """(q3 - q1) / median, the spread the benchmark is tuned against."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


# ------------------------------------------------------------------ checks

def registry_failures(ops, results, pins):
    """Timed ops that failed or returned a wrong result.

    ops: timed executions [{id, rows} | {id, error}]; results: the untimed
    check execution per id, {id: {rows, hash} | {error}}; pins: {id:
    {rows, hash?}} from the seed tree (ids without a stable hash pin only
    their row count). An id whose checked content is wrong makes every
    timed op of that id wrong. Returns (failed op count, reasons)."""
    reasons, wrong = [], set()
    for i in sorted({o["id"] for o in ops}):
        pin, got = pins.get(i), results.get(i, {"error": "no check result"})
        if pin is None:
            wrong.add(i); reasons.append(f"{i}: no pin")
        elif "error" in got:
            wrong.add(i); reasons.append(f"{i}: check failed: {got['error']}")
        elif got["rows"] != pin["rows"]:
            wrong.add(i); reasons.append(f"{i}: {got['rows']} rows, pinned {pin['rows']}")
        elif "hash" in pin and got["hash"] != pin["hash"]:
            wrong.add(i); reasons.append(f"{i}: content hash differs from the pin")
    failed = 0
    for o in ops:
        if "error" in o:
            failed += 1; reasons.append(f"{o['id']}: {o['error']}")
        elif o["id"] in wrong:
            failed += 1
        elif o["rows"] != pins[o["id"]]["rows"]:
            failed += 1; reasons.append(f"{o['id']}: timed run gave {o['rows']} rows")
    return failed, reasons


def ingest_failures(passes, checks, batch_size, pin):
    """Micro-batches of the timed drains that failed or are wrong.

    passes: the timed drains, each {ops: [{batch, rows} | {error}]};
    checks: {warmup: facts, passes: [facts per drain]} with facts {admitted,
    duplicate_ids, wal_batches, ledger: [{batch, raw, admitted}]}; pin:
    {admitted} for the seed, or None. Every drain must repeat the warm-up
    drain's ledger. A wrong drain fails all its batches."""
    failed, reasons = 0, []
    facts = checks["passes"]
    warm = checks.get("warmup")
    for k, p in enumerate(passes):
        ops = p["ops"]
        if any("error" in o for o in ops) or k >= len(facts):
            failed += len(ops)
            reasons += [f"drain {k}: {o.get('error', 'no facts')}" for o in ops]
            continue
        f, bad = facts[k], []
        batches = sorted(o["batch"] for o in ops)
        if f["duplicate_ids"]:
            bad.append(f"{f['duplicate_ids']} duplicated doc ids")
        if f["wal_batches"] != batches:
            bad.append(f"committed WAL batches {f['wal_batches']} != {batches}")
        if [r["batch"] for r in f["ledger"]] != batches:
            bad.append("ledger rows do not match the batches")
        if sum(r["admitted"] for r in f["ledger"]) != f["admitted"]:
            bad.append("ledger admitted != corpus rows")
        if any(r["raw"] != batch_size for r in f["ledger"]) or \
                any(o["rows"] != batch_size for o in ops):
            bad.append("a batch did not hold batch_size docs")
        if pin is not None and f["admitted"] != pin["admitted"]:
            bad.append(f"admitted {f['admitted']} != expected {pin['admitted']}")
        if warm is not None and f["ledger"] != warm["ledger"]:
            bad.append("ledger differs from the warm-up drain's")
        if bad:
            failed += len(ops); reasons += [f"drain {k}: {b}" for b in bad]
    return failed, reasons


# ----------------------------------------------------------------- metrics

def wall_ms(p):
    return p["end"] - p["start"]


def end_to_end(raw):
    """The untraced figures: set-up, pass wall, per-op latency, memory."""
    setup = raw["setup"]
    plain = [p for p in raw["passes"] if not p["traced"]]
    ops = [o for p in plain for o in p["ops"] if "error" not in o]
    return {
        "setup_s": setup["session_s"] + median(setup["inputs_s"]) + setup["warmup_s"],
        "pass_s": median(wall_ms(p) for p in plain) / 1e3,
        "op_p50_ms": median(o["ms"] for o in ops),
        "peak_rss_mb": raw["jvm"]["peak_rss_mb"],
    }, plain, ops


def per_layer(raw):
    """Layer metrics of the traced passes, as means per pass, plus the
    per-id table of registry_sf001."""
    tr = raw["trace"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    n = len(traced)
    jobs = [j for j in tr["jobs"] if j["end"] is not None]

    def per_pass(f):
        return sum(f(p) for p in traced) / n

    def pjobs(p):
        return [j for j in jobs if j["pass"] == p["index"]]

    def jsum(key):
        return per_pass(lambda p: sum(j[key] for j in pjobs(p)))

    def ivs(js):
        return [(j["start"], j["end"]) for j in js]

    def pq(key):
        return per_pass(lambda p: sum(q[key] for q in tr["queries"]
                                      if q["pass"] == p["index"]))

    def ckpt(key):
        return per_pass(lambda p: sum(c[key] for c in tr["checkpoints"]
                                      if c["pass"] == p["index"]))

    wall = per_pass(wall_ms)
    job_wall = per_pass(lambda p: union(ivs(pjobs(p)), p["start"], p["end"]))
    tasks = jsum("tasks")
    m = {
        "plans.analysis_ms": pq("analysis_ms"),
        "plans.optimize_ms": pq("optimization_ms"),
        "plans.physical_ms": pq("planning_ms"),
        "exec.jobs": per_pass(lambda p: len(pjobs(p))),
        "exec.stages": jsum("stages"),
        "exec.tasks": tasks,
        "exec.job_wall_ms": job_wall,
        "exec.driver_gap_ms": wall - job_wall,
        "exec.run_ms": jsum("run_ms"),
        "exec.cpu_ms": jsum("cpu_ms"),
        "exec.core_busy_frac": jsum("run_ms") / (wall * raw["cpus"]),
        "exec.gc_ms": jsum("gc_ms"),
        "exec.spill_bytes": jsum("spill_bytes"),
        "exec.shuffle_read_bytes": jsum("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": jsum("shuffle_write_bytes"),
        "exec.task_retry_frac": jsum("failed_tasks") / tasks if tasks else 0.0,
        "operators.checkpoints": ckpt("rdds"),
        "operators.checkpoint_bytes": ckpt("bytes"),
        "sources.read_bytes": jsum("read_bytes"),
        "sources.write_bytes": jsum("write_bytes"),
        "sources.files_written": sum(d["files"] for d in raw["output_dirs"]),
        "sources.bytes_on_disk": sum(d["bytes"] for d in raw["output_dirs"]),
        "jvm.gc_ms": raw["jvm"]["gc_ms"],
        "jvm.jit_ms": raw["jvm"]["jit_ms"],
        "trace.overhead_ms": median(wall_ms(p) for p in traced)
        - median(wall_ms(p) for p in plain),
    }
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    jobs_of = {}
    for j in jobs:
        if j["span"] is not None:
            jobs_of.setdefault(int(j["span"]), []).append(j)
    table = []
    if raw["workload"] == "registry_sf001":
        m.update(_queries_layer(spans, by_id, jobs_of, n, table))
    if raw["workload"] == "ingest_chain":
        m.update(_streaming_layer(raw, traced, jobs, n))
    return m, table


def _root_of(span, by_id, name_prefix):
    while span is not None and not span["name"].startswith(name_prefix):
        span = by_id.get(span["parent"])
    return span


def _queries_layer(spans, by_id, jobs_of, n, table):
    """queries.* from the build spans and the per-id table."""
    rows = {}
    for s in spans:
        if not s["name"].startswith("id:"):
            continue
        r = rows.setdefault(s["name"][3:], {"runs": 0, "total_ms": 0.0,
                                             "build_ms": 0.0, "plan_ms": 0.0,
                                             "execute_ms": 0.0, "jobs": 0,
                                             "driver_gap_ms": 0.0})
        r["runs"] += 1
        r["total_ms"] += s["end"] - s["start"]
        mine = []
        for c in spans:
            if _root_of(c, by_id, "id:") is s:
                mine += jobs_of.get(c["id"], [])
            if c["parent"] != s["id"]:
                continue
            d = c["end"] - c["start"]
            if c["name"] == "build":
                r["build_ms"] += d
            elif c["name"] in ("optimization", "planning"):
                r["plan_ms"] += d
            elif c["name"] == "execute":
                r["execute_ms"] += d
        r["jobs"] += len(mine)
        r["driver_gap_ms"] += driver_gap(s["start"], s["end"],
                                         [(j["start"], j["end"]) for j in mine])
    for i, r in sorted(rows.items(), key=lambda kv: -kv[1]["total_ms"]):
        k = r.pop("runs")
        table.append(dict({"id": i}, **{f: v / k for f, v in r.items()}))
    builds = [s for s in spans if s["name"] == "build"]
    build_jobs = [j for s in builds for j in jobs_of.get(s["id"], [])]
    extra = {s["id"]: [(j["start"], j["end"]) for j in jobs_of.get(s["id"], [])]
             for s in builds}
    selfs = self_times(spans, extra)
    return {
        "queries.build_ms": sum(s["end"] - s["start"] for s in builds) / n,
        "queries.build_self_ms": sum(selfs[s["id"]] for s in builds) / n,
        "queries.build_jobs": len(build_jobs) / n,
    }


def _streaming_layer(raw, traced, jobs, n):
    """streaming.* from the progress durations and batch-tagged jobs."""
    ops = [o for p in traced for o in p["ops"] if "error" not in o]
    keys = {"latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch",
            "query_planning_ms": "queryPlanning", "add_batch_ms": "addBatch",
            "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
    m = {f"streaming.{k}": median(o["durations"].get(v, 0) for o in ops)
         for k, v in keys.items()}
    per_batch, gaps = [], []
    for p in traced:
        for o in p["ops"]:
            if "error" in o:
                continue
            bj = [j for j in jobs if j["pass"] == p["index"]
                  and j["batch"] == str(o["batch"])]
            per_batch.append(len(bj))
            gaps.append(driver_gap(o["start"], o["start"] + o["ms"],
                                   [(j["start"], j["end"]) for j in bj]))
    m["streaming.jobs_per_batch"] = median(per_batch)
    m["streaming.driver_gap_ms"] = median(gaps)
    return m


def outcome_fracs(raw):
    """Useful outcomes over attempts, from exact counts: the ledger's
    admitted docs over input docs on ingest_chain."""
    c = raw["checks"]
    if raw["workload"] != "ingest_chain" or not c["passes"]:
        return {}
    led = c["passes"][-1]["ledger"]
    frac = sum(r["admitted"] for r in led) / sum(r["raw"] for r in led)
    return {"streaming.admit_frac": frac, "operators.corpus_keep_frac": frac}
