#!/usr/bin/env python3
"""Records the output reference and the exact-count report from two traced
runs of every workload (seeds 1 and 2) on the current checkout.

    python3 perfbench/record.py

Writes perfbench/reference.json: per query the row count and the xor of
xxhash64 over all columns of its output. A query whose xor differs between
any two of its executions keeps only the row count and is listed under
`row_count_only`; a query whose row count differs cannot be referenced and
makes the script fail.

Writes perfbench/exact_counts.json: for each per-query counter, whether it
repeated exactly over every timed execution of every query in both runs,
and the queries where it did not. A later change can rest a claim on a
counter listed as exact (it is immune to host drift).
"""
import json
import sys
import time

import run

SEEDS = (1, 2)
# Every per-query counter that is not a time.
COUNTERS = [c for c in run.PER_QUERY if not c.endswith("_s")]


def main():
    workloads = run.load_json("workloads.json")["workloads"]
    fingerprints, counts = {}, {}
    run.build()
    for w, spec in workloads.items():
        for seed in SEEDS:
            recs = run.measure(spec["queries"], seed, 1, True, time.time() * 1e3)
            for q in recs:
                if q["kind"] == "q":
                    if q["error"]:
                        sys.exit(f"{q['name']} threw: {q['error']}")
                    fingerprints.setdefault(q["name"], set()).add((q["rows"], q["xor"]))
            counters, _ = run.query_counters(recs)
            for (p, name), x in counters.items():
                if p >= 1:
                    for c in COUNTERS:
                        counts.setdefault(name, {}).setdefault(c, set()).add(round(x[c], 9))
            print(f"recorded {w} seed {seed}", file=sys.stderr)

    ref, count_only = {}, []
    for name, fps in sorted(fingerprints.items()):
        rows = {r for r, _ in fps}
        if len(rows) != 1:
            sys.exit(f"{name}: row count differs between runs: {sorted(rows)}")
        xor = fps.pop()[1] if len(fps) == 1 else None
        if xor is None:
            count_only.append(name)
        ref[name] = {"rows": rows.pop(), "xor": xor}
    with open(run.HERE / "reference.json", "w") as f:
        json.dump({"row_count_only": count_only, "queries": ref}, f, indent=1)
        f.write("\n")

    report = {}
    for c in COUNTERS:
        varying = sorted(n for n, per in counts.items() if len(per[c]) > 1)
        report[c] = {"exact": not varying, "varying_queries": varying}
    with open(run.HERE / "exact_counts.json", "w") as f:
        json.dump({"runs": [f"seed {s}, every timed pass" for s in SEEDS],
                   "queries": len(counts), "counters": report}, f, indent=1)
        f.write("\n")
    print(json.dumps({c: r["exact"] for c, r in report.items()}))


if __name__ == "__main__":
    main()
