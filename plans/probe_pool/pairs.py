#!/usr/bin/env python3
"""Alternating parent/change perfbench pairs, one JSON line per run.

    python3 pairs.py OUT.jsonl FIRST_SEED N_PAIRS PARENT_DIR CHANGE_DIR [WORKLOADS]

PARENT_DIR and CHANGE_DIR are checkouts of the two commits; WORKLOADS is a
comma-separated list (default: shared_strings,inline_scan). Pair k runs the
parent first when k is even and the change first when k is odd.
"""
import json, subprocess, sys

out, seed0, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
sides = {"parent": sys.argv[4], "change": sys.argv[5]}
workloads = sys.argv[6].split(",") if len(sys.argv) > 6 else ["shared_strings", "inline_scan"]
with open(out, "a") as fh:
    for k in range(n):
        seed = seed0 + k
        for wl in workloads:
            order = ["parent", "change"] if k % 2 == 0 else ["change", "parent"]
            for side in order:
                p = subprocess.run(["python3", "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                                    "--seconds", "20", "--trace", "0"], cwd=sides[side],
                                   stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = [l for l in p.stdout.splitlines() if l.strip()]
                res = json.loads(lines[-1]) if p.returncode == 0 and lines else {"error": p.returncode}
                fh.write(json.dumps({"side": side, "workload": wl, "seed": seed, "trace": 0,
                                     "first": order[0], "result": res}) + "\n")
                fh.flush()
