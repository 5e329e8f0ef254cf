#!/usr/bin/env python3
"""Interleaved A/B pairs of the repo benchmark between two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload curate \\
        --seeds 101-110 [--seconds 4] [--log pairs.jsonl]

For every seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, alternating which side runs
first (even seeds start with the parent). It prints each pair as it
finishes, then one row per end-to-end metric of BENCHMARK.json: each
side's median and quartiles, how many pairs the change won (ties count
for neither side), the change of the median against the metric's bound,
and whether a gain claim holds by the rule of choosing-metrics section 8
(wins in at least nine tenths of all pairs, and a median gap larger than
the distance between the parent's quartiles). A run that fails its check
or exits non-zero counts as a lost pair for that side's metrics.
perfbench/ itself is only invoked, never changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        return {"ok": False, "exit": p.returncode, "metrics": {}}
    res = json.loads(lines[-1])
    return {"ok": p.returncode == 0 and res.get("correct", False), "exit": p.returncode,
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, required=True, help="e.g. 101-110 or 1,4,7-9")
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--log", help="append every run as one JSON line to this file")
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    pairs = []
    for seed in a.seeds:
        order = ["parent", "change"] if seed % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = run(getattr(a, side), a.workload, seed, a.seconds)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps(dict(pair[side], side=side, seed=seed,
                                            workload=a.workload)) + "\n")
        pairs.append(pair)
        print("seed %d (%s first): %s" % (seed, order[0], "  ".join(
            "%s %s/%s" % (m["name"], pair["parent"]["metrics"].get(m["name"]),
                          pair["change"]["metrics"].get(m["name"])) for m in e2e)), flush=True)

    print("\n%s, %d pairs, parent/change" % (a.workload, len(pairs)))
    for m in e2e:
        name, higher = m["name"], m["better"] == "higher"
        vals = {side: [p[side]["metrics"][name] for p in pairs
                       if p[side]["ok"] and name in p[side]["metrics"]]
                for side in ("parent", "change")}
        if not vals["parent"] or not vals["change"]:
            print("%-15s no successful runs on one side" % name)
            continue
        wins = 0
        for p in pairs:
            x, y = p["parent"]["metrics"].get(name), p["change"]["metrics"].get(name)
            if p["change"]["ok"] and y is not None and (
                    not p["parent"]["ok"] or x is None or (y > x if higher else y < x)):
                wins += 1
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(vals["parent"]), quartiles(vals["change"])
        gain = (cmed - pmed) if higher else (pmed - cmed)
        rel = gain / pmed if pmed else 0.0
        claim = wins >= 0.9 * len(pairs) and gain > (pq3 - pq1)
        print("%-15s parent %.4g [%.4g-%.4g]  change %.4g [%.4g-%.4g]  wins %d/%d  "
              "median %+.1f%% (bound %.0f%%%s)  gain claim %s" % (
                  name, pmed, pq1, pq3, cmed, cq1, cq3, wins, len(pairs), 100 * rel,
                  100 * m["bound"], ", WORSE beyond bound" if -rel > m["bound"] else "",
                  "holds" if claim else "does not hold"))
    failed = sum(not p[s]["ok"] for p in pairs for s in ("parent", "change"))
    if failed:
        print("failed runs: %d" % failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
