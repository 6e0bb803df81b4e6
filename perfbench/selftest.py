#!/usr/bin/env python3
"""Shows that the output check catches a wrong answer.

    python3 perfbench/selftest.py

Runs every workload once, then checks its outputs twice: against the
recorded reference, which must pass, and against a corrupted copy in which
one query's xor and another query's row count are changed, which must
report exactly those two queries in every timed pass. Exits 0 when both
hold.
"""
import copy
import sys
import time

import run


def selftest(workload, reference):
    """Runs the workload once and checks it against the recorded and a
    corrupted reference; returns whether both checks came out right."""
    queries = run.load_json("workloads.json")["workloads"][workload]["queries"]
    recs = run.measure(queries, 1, 1, False, time.time() * 1e3)

    attempted, failures = run.check(recs, reference)
    ok = attempted > 0 and not failures
    print(f"{workload}, recorded reference: {len(failures)}/{attempted} failures")

    exact = [q for q in queries if reference["queries"][q]["xor"] is not None]
    bad_xor, bad_rows = exact[0], queries[-1] if queries[-1] != exact[0] else queries[0]
    corrupted = copy.deepcopy(reference)
    corrupted["queries"][bad_xor]["xor"] ^= 1
    corrupted["queries"][bad_rows]["rows"] += 1
    _, failures = run.check(recs, corrupted)
    for p, name, reason in failures:
        print(f"{workload}, corrupted reference: pass {p} {name}: {reason}")
    passes = {q["pass"] for q in recs if q["kind"] == "q" and q["pass"] >= 1}
    expected = {(p, n) for p in passes for n in (bad_xor, bad_rows)}
    return ok and {(p, n) for p, n, _ in failures} == expected


def main():
    reference = run.load_json("reference.json")
    run.build()
    ok = all([selftest(w, reference) for w in run.load_json("workloads.json")["workloads"]])
    print("selftest " + ("passed" if ok else "FAILED"))
    sys.exit(0 if ok else 1)

if __name__ == "__main__":
    main()
