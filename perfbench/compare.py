#!/usr/bin/env python3
"""Compares the benchmark on two checkouts: a parent and a change.

    python3 perfbench/compare.py collect PARENT_DIR CHANGE_DIR --out ab.jsonl
    python3 perfbench/compare.py report ab.jsonl

`collect` runs `python3 perfbench/run.py` on every workload of
BENCHMARK.json inside each checkout (each side builds its own program),
alternating which side runs first in each of ten pairs; both sides of
pair i get seed 1000 + i. After the untraced pairs it makes one traced
run per side and workload for the per-layer numbers.

`report` prints, for every workload and end-to-end metric, each side's
median and quartiles, the share of pairs the change wins (ties count for
neither side), and a verdict against the bound in BENCHMARK.json:

  gain        at least ten pairs, the change wins >= 90 % of them and the
              medians differ by more than the parent's own quartile spread
  regression  the change's median is worse than the parent's by more
              than the bound
  unresolved  the parent's quartile spread is wider than the bound and
              not every change run beats every parent run
  flat        otherwise

Per-layer metrics follow, counts beside times, with the change's delta,
and each side's tracing overhead: its traced wall_s over its median
untraced wall_s.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
SEED_BASE = 1000
PAIRS = 10


def run_once(checkout, workload, seed, trace):
    cmd = [*BENCH["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1000)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(p.stdout.strip().splitlines()[-1])


def collect(a):
    workloads = [w["name"] for w in BENCH["workloads"]]
    sides = {"parent": a.parent, "change": a.change}
    with open(a.out, "a") as out:
        def record(side, workload, pair, seed, trace):
            res = run_once(sides[side], workload, seed, trace)
            out.write(json.dumps({"side": side, "workload": workload, "pair": pair,
                                  "seed": seed, "trace": trace, "result": res}) + "\n")
            out.flush()
        for i in range(PAIRS):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    record(side, w, i, SEED_BASE + i, 0)
        for w in workloads:
            for side in ("parent", "change"):
                record(side, w, -1, SEED_BASE, 1)


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def report(a):
    rows = [json.loads(line) for line in open(a.file)]
    spec = {m["name"]: m for m in BENCH["end_to_end"]}
    for w in dict.fromkeys(r["workload"] for r in rows):
        print(f"== {w}")
        runs = [r for r in rows if r["workload"] == w and r["trace"] == 0]
        fails = {s: sum(1 for r in runs if r["side"] == s and
                        (r["result"] is None or not r["result"]["correct"]))
                 for s in ("parent", "change")}
        print(f"  failed or incorrect runs: parent {fails['parent']}, change {fails['change']}")
        print(f"  {'metric':16} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} "
              f"{'delta':>8} {'wins':>6}  verdict")
        for name, m in spec.items():
            val = {s: {r["pair"]: r["result"]["metrics"][name]["value"] for r in runs
                       if r["side"] == s and r["result"]}
                   for s in ("parent", "change")}
            pv, cv = list(val["parent"].values()), list(val["change"].values())
            if not pv or not cv:
                continue
            sign = 1 if m["better"] == "lower" else -1
            pairs = [(val["parent"][k], val["change"][k]) for k in val["parent"] if k in val["change"]]
            wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
            pq, cq = quartiles(pv), quartiles(cv)
            worse = sign * (cq[1] - pq[1]) / pq[1]
            spread = (pq[2] - pq[0]) / pq[1]
            all_better = all(sign * (c - p) < 0 for c in cv for p in pv)
            if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(cq[1] - pq[1]) > pq[2] - pq[0]:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = f"regression (bound {m['bound']:.0%})"
            elif spread > m["bound"] and not all_better:
                verdict = f"unresolved (parent spread {spread:.0%})"
            else:
                verdict = "flat"
            fmt = lambda q: f"{q[0]:.4g}/{q[1]:.4g}/{q[2]:.4g}"
            print(f"  {name:16} {fmt(pq):>30} {fmt(cq):>30} {(cq[1] / pq[1] - 1):>+8.1%} "
                  f"{wins:>3}/{len(pairs):<2}  {verdict}")
        traced = {r["side"]: r["result"]["metrics"] for r in rows
                  if r["workload"] == w and r["trace"] == 1 and r["result"]}
        if len(traced) == 2:
            print("  per layer (traced run)         parent       change    delta")
            for kind in ("count", "other"):
                for name, pm in sorted(traced["parent"].items()):
                    if (pm["unit"] == "count") != (kind == "count") or name not in traced["change"]:
                        continue
                    p, c = pm["value"], traced["change"][name]["value"]
                    d = f"{c / p - 1:+.1%}" if p else ("=" if c == p else "new")
                    print(f"    {name:26} {p:>12.6g} {c:>12.6g} {d:>8}  {pm['unit']}")
        for side, tm in traced.items():
            walls = [r["result"]["metrics"]["wall_s"]["value"] for r in runs
                     if r["side"] == side and r["result"]]
            if walls and "harness.traced_wall_s" in tm:
                t, u = tm["harness.traced_wall_s"]["value"], statistics.median(walls)
                print(f"  tracing overhead, {side}: traced wall_s {t:.3f} s / untraced "
                      f"median {u:.3f} s = {t / u:.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("parent")
    c.add_argument("change")
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("file")
    a = ap.parse_args()
    collect(a) if a.cmd == "collect" else report(a)


if __name__ == "__main__":
    main()
