#!/usr/bin/env python3
"""Compare the benchmark on two checkouts (choosing-metrics section 8).

  python3 perfbench/compare.py run --parent DIR --change DIR --out pairs.jsonl [--pairs 10] [--workloads a,b]
  python3 perfbench/compare.py report pairs.jsonl [--benchmark BENCHMARK.json]

`run` makes --pairs alternating parent/change runs of every workload, one
seed per pair (the same on both sides), with the run length BENCHMARK.json
sets. `report` prints one row per workload and end-to-end metric:

  gain        the change wins >= 9 of 10 pairs and the medians differ by
              more than the parent's interquartile range
  regression  the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  a side's spread (IQR / median) exceeds the bound, unless every
              change run beats (or loses to) every parent run
  same        none of the above

Two sets of runs of the same code agree when `run` is given the same
checkout twice and `report --agree` finds every row `same`. `report` exits 1
when a row is a regression or unresolved (with --agree: anything but same).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_spec(path):
    with open(path) as f:
        return json.load(f)


def run(a):
    spec = bench_spec(os.path.join(a.change, "BENCHMARK.json"))
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sides = {"parent": a.parent, "change": a.change}
    with open(a.out, "a") as out:
        for pair in range(a.pairs):
            seed = a.first_seed + pair
            order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
            for w in workloads:
                for side in order:
                    cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
                    r = subprocess.run(cmd, cwd=sides[side], capture_output=True, text=True, timeout=900)
                    lines = r.stdout.strip().splitlines()
                    result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
                    rec = {"pair": pair, "side": side, "workload": w, "seed": seed, "rc": r.returncode,
                           "result": result}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {pair} {w:14s} {side:6s} rc={r.returncode}", file=sys.stderr)


def iqr_share(vals):
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / q2 if q2 else math.inf, q1, q2, q3


def verdict(par, chg, lower_better, bound):
    """par/chg: values paired by index."""
    sign = 1 if lower_better else -1
    better = lambda c, p: sign * (c - p) < 0
    wins = sum(1 for p, c in zip(par, chg) if better(c, p))
    sp, pq1, pmed, pq3 = iqr_share(par)
    sc, _, cmed, _ = iqr_share(chg)
    worse_by = sign * (cmed - pmed) / pmed
    if worse_by > bound:
        v = "regression"
    elif wins >= math.ceil(0.9 * len(par)) and better(cmed, pmed) and abs(cmed - pmed) > (pq3 - pq1):
        v = "gain"
    elif sp > bound or sc > bound:
        if all(better(c, p) for c in chg for p in par):
            v = "gain"
        elif all(better(p, c) for c in chg for p in par):
            v = "regression"
        else:
            v = "unresolved"
    else:
        v = "same"
    return v, wins, sp, sc, pmed, cmed, worse_by


def report(a):
    spec = bench_spec(a.benchmark)
    recs = [json.loads(l) for l in open(a.pairs_file) if l.strip()]
    bad = 0
    print(f"{'workload':14s} {'metric':18s} {'parent':>10s} {'change':>10s} {'worse':>7s} "
          f"{'spreadP':>7s} {'spreadC':>7s} {'bound':>5s} {'wins':>5s}  verdict")
    for w in [w["name"] for w in spec["workloads"]]:
        by_pair = {}
        for r in recs:
            if r["workload"] == w:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r
        pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
        if len(pairs) < 4:
            print(f"{w:14s} fewer than 4 complete pairs")
            continue
        failed = {s: sum(1 for p in pairs if by_pair[p][s]["result"] is None
                         or by_pair[p][s]["result"]["failed"] or not by_pair[p][s]["result"]["correct"])
                  for s in ("parent", "change")}
        if failed["change"] > failed["parent"]:
            print(f"{w:14s} change has more failed or incorrect runs: {failed}")
            bad += 1
        ok = [p for p in pairs if all(by_pair[p][s]["result"] for s in ("parent", "change"))]
        for m in spec["end_to_end"]:
            par = [by_pair[p]["parent"]["result"]["metrics"][m["name"]]["value"] for p in ok]
            chg = [by_pair[p]["change"]["result"]["metrics"][m["name"]]["value"] for p in ok]
            v, wins, sp, sc, pm, cm, worse = verdict(par, chg, m["better"] == "lower", m["bound"])
            bad += v != "same" if a.agree else v in ("regression", "unresolved")
            print(f"{w:14s} {m['name']:18s} {pm:10.4f} {cm:10.4f} {worse:+7.3f} {sp:7.3f} {sc:7.3f} "
                  f"{m['bound']:5.2f} {wins:2d}/{len(ok):<2d}  {v}")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--workloads")
    p = sub.add_parser("report")
    p.add_argument("pairs_file")
    p.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    p.add_argument("--agree", action="store_true", help="two sets of the same code: any verdict but same fails")
    a = ap.parse_args()
    run(a) if a.cmd == "run" else report(a)


if __name__ == "__main__":
    main()
