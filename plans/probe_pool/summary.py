#!/usr/bin/env python3
"""Summarize alternating pairs: medians, quartiles, wins. Usage: summary.py RUNS.jsonl"""
import json, statistics, sys

runs = [json.loads(l) for l in open(sys.argv[1])]
metrics = ["setup_s", "scan_rows_per_s", "project_rows_per_s", "count_rows_per_s", "infer_s",
           "split_scan_rows_per_s", "write_merged_rows_per_s", "write_sharded_rows_per_s",
           "written_bytes_per_row"]
lower = {"setup_s", "infer_s", "written_bytes_per_row"}


def q(xs):
    xs = sorted(xs)
    qs = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return qs[0], statistics.median(xs), qs[2]


for wl in ["shared_strings", "inline_scan"]:
    rs = [r for r in runs if r["workload"] == wl]
    bad = [(r["side"], r["seed"]) for r in rs if "metrics" not in r["result"] or r["result"]["failed"]]
    pairs = {}
    for r in rs:
        if "metrics" in r["result"]:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
    pairs = {s: p for s, p in pairs.items() if len(p) == 2}
    if not pairs:
        continue
    print(f"== {wl}  pairs={len(pairs)}  failed/errored runs: {bad}")
    for m in metrics:
        par = [p["parent"][m]["value"] for p in pairs.values()]
        chg = [p["change"][m]["value"] for p in pairs.values()]
        pq, cq = q(par), q(chg)
        better = sum(1 for p in pairs.values()
                     if (p["change"][m]["value"] < p["parent"][m]["value"]) == (m in lower)
                     and p["change"][m]["value"] != p["parent"][m]["value"])
        ratio = cq[1] / pq[1]
        gap = abs(cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        print(f"{m:26s} parent {pq[1]:10.4g} [{pq[0]:.4g},{pq[2]:.4g}]  change {cq[1]:10.4g} "
              f"[{cq[0]:.4g},{cq[2]:.4g}]  ratio {ratio:.3f}  change better {better}/{len(pairs)}  "
              f"{'resolved' if gap > iqr else 'unresolved'} (gap {gap:.4g} vs parent IQR {iqr:.4g})")
