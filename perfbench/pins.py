#!/usr/bin/env python3
"""Writes the expected values the output checks compare against.

Run from the root of a checkout whose results are trusted (the oracle is
green there), after one build by run.py:

    python3 perfbench/pins.py registry   # two full-registry runs
    python3 perfbench/pins.py ingest 0 20

`registry` pins every registry id's row count, plus its content hash when
two runs in separate JVMs agree on it; `ingest` pins, per seed, the
admitted document count of one drain.
"""
import json
import os
import sys

import run

TIMEOUT_S = 3600


def jvm(args, work):
    out = os.path.join(work, "pins.json")
    cmd = run.java(run.spark_home(), work, ["--seconds", "0", "--trace", "0",
                                            "--out", out] + args)
    log = os.path.join(work, "pins.log")
    if run.run_quiet(cmd, os.getcwd(), os.environ, TIMEOUT_S, log) != 0:
        sys.exit(f"benchmark JVM failed or timed out; see {log}")
    with open(out) as f:
        return json.load(f)


def main():
    what = sys.argv[1]
    work = os.path.join(run.BENCH, "work", "pins")
    if what == "registry":
        runs = [jvm(["--workload", "registry_sf001", "--seed", str(s),
                     "--min-passes", "0"], work)["checks"]["results"]
                for s in (1, 2)]
        pins = {}
        for i, r in sorted(runs[0].items()):
            if "error" in r or "error" in runs[1][i] or r["rows"] != runs[1][i]["rows"]:
                sys.exit(f"{i}: failed or unstable row count; not pinned")
            pins[i] = {"rows": r["rows"]}
            if r["hash"] == runs[1][i]["hash"]:
                pins[i]["hash"] = r["hash"]
        name = "registry.json"
    else:
        lo, hi = sys.argv[2], sys.argv[3]
        facts = jvm(["--workload", "ingest_chain", "--seed", "0",
                     "--pin-seeds", f"{lo}-{hi}"], work)
        pins = {s: {"admitted": f["passes"][0]["admitted"]}
                for s, f in facts.items()}
        name = "ingest.json"
    with open(os.path.join(run.BENCH, "pins", name), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
