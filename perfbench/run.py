#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one workload per run.

Usage, from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0

The run builds the program from source (perfbench/build.sh, cached in
.bench_build/), starts one JVM with `local[nproc]` and
`spark.sql.shuffle.partitions = nproc` (the graft.Bench session settings;
SPARK_GRAFT_CPUS overrides nproc), and runs the workload's queries against
the sf0.1 tables in perfbench/data/sf0.1. The load is a closed loop with one
client: the driver thread submits the queries one after another. The seed
permutes the query order of every pass; the program receives only the fixed
tables. One untimed warm pass is followed by timed passes until --seconds
have elapsed.

Every query's output is checked against the (rows, xor of xxhash64 over all
columns) fingerprint recorded in perfbench/reference.json; queries whose
xor does not repeat between runs are checked by row count only.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics, and the span tree and the
per-query counters are written under .bench_out/. Lines before the last
one print every metric by name and unit, the epoch metrics of streaming
workloads, and fail_frac with the names of failing queries.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
OUT = ROOT / ".bench_out"
DATA = HERE / "data" / "sf0.1"
MB = 1 << 20
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def load_json(name):
    with open(HERE / name) as f:
        return json.load(f)


def cores():
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def build():
    subprocess.run(["bash", str(HERE / "build.sh")], stdout=sys.stderr, check=True,
                   timeout=840)


def measure(queries, seed, seconds, trace, t0_ms):
    """Runs the harness JVM once and returns its records."""
    scratch = BUILD / "run"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    out = scratch / "records.jsonl"
    jars = (BUILD / "spark_jars").read_text().strip()
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xmx4g", "-Xss4m",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.legacy.parquet.nanosAsLong=true",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           "-cp", f"{BUILD / 'classes'}:{jars}/*", "perfbench.Harness",
           "--data", str(DATA), "--queries", ",".join(queries),
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--cores", str(cores()),
           "--t0-ms", repr(t0_ms), "--scratch", str(scratch), "--out", str(out)]
    proc = subprocess.run(cmd, cwd=scratch, stdout=subprocess.DEVNULL,
                          stderr=subprocess.PIPE, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0 or not out.exists():
        sys.stderr.write(proc.stderr.decode(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as f:
        return [json.loads(line) for line in f]


def tail(values):
    """(value, percentile, n): the highest percentile, by nearest rank, with
    at least ten samples beyond it. Below 21 samples that percentile falls
    under the median, so the (upper) median is reported instead."""
    v = sorted(values)
    n = len(v)
    k = max(n - 11, n // 2)
    return v[k], 100.0 * (k + 1) / n, n


def latency_s(q):
    return (q["force_end_ms"] - q["build_start_ms"]) / 1e3


def check(recs, reference):
    """Returns (attempted, failures) over the timed passes, where failures
    lists (pass, query, reason) for every throw or fingerprint mismatch."""
    attempted, failures = 0, []
    for q in recs:
        if q["kind"] != "q" or q["pass"] < 1:
            continue
        attempted += 1
        ref = reference["queries"].get(q["name"])
        if q["error"]:
            reason = "threw " + q["error"].splitlines()[0][:200]
        elif ref is None:
            reason = "no recorded fingerprint"
        elif q["rows"] != ref["rows"]:
            reason = f"rows {q['rows']} != {ref['rows']}"
        elif ref["xor"] is not None and q["xor"] != ref["xor"]:
            reason = f"xor {q['xor']} != {ref['xor']}"
        else:
            continue
        failures.append((q["pass"], q["name"], reason))
    return attempted, failures


def epochs_of(recs):
    return [e for e in recs if e["kind"] == "epoch" and e["pass"] >= 1
            and "triggerExecution" in e["dur"]]


def end_to_end(recs):
    run = next(r for r in recs if r["kind"] == "run")
    walls = [(p["end_ms"] - p["start_ms"]) / 1e3 for p in recs
             if p["kind"] == "pass" and p["pass"] >= 1]
    lats = [latency_s(q) for q in recs if q["kind"] == "q" and q["pass"] >= 1]
    qt, qp, qn = tail(lats)
    m = {
        "setup_s": (run["setup_s"], "s"),
        "wall_s": (statistics.median(walls), "s"),
        "query_p50_s": (statistics.median(lats), "s"),
        "query_tail_s": (qt, "s"),
        "peak_heap_mb": (run["peak_old_gen_bytes"] / MB, "MB"),
    }
    notes = {"wall_s": f"median of {len(walls)} timed passes",
             "query_tail_s": f"p{qp:.1f} of n={qn}"}
    ep = epochs_of(recs)
    if ep:
        trig = [e["dur"]["triggerExecution"] for e in ep]
        et, epct, en = tail(trig)
        m["epoch_p50_ms"] = (float(statistics.median(trig)), "ms")
        m["epoch_tail_ms"] = (float(et), "ms")
        m["stream_rows_per_s"] = (sum(e["rows"] for e in ep) / (sum(trig) / 1e3), "rows/s")
        notes["epoch_tail_ms"] = f"p{epct:.1f} of n={en}"
    return m, notes, run


# ---------------------------------------------------------------- tracing

def union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def spans_of(recs):
    """The span tree: query -> build/force/cleanup -> job -> stage, and
    build/force -> streaming_query -> epoch. Times in epoch ms."""
    spans = []

    def add(kind, name, pss, start, end, parent):
        spans.append({"id": len(spans), "parent": parent, "kind": kind, "name": name,
                      "pass": pss, "start_ms": start, "end_ms": max(end, start)})
        return len(spans) - 1

    children = {}  # (pass, name) -> [(kind, start, end, span id)]
    for q in recs:
        if q["kind"] != "q":
            continue
        key = (q["pass"], q["name"])
        sid = add("query", q["name"], q["pass"], q["start_ms"], q["end_ms"], None)
        children[key] = [
            (k, a, b, add(k, q["name"], q["pass"], a, b, sid))
            for k, a, b in (("build", q["build_start_ms"], q["build_end_ms"]),
                            ("force", q["build_end_ms"], q["force_end_ms"]),
                            ("cleanup", q["cleanup_start_ms"], q["end_ms"]))
        ] + [("query", q["start_ms"], q["end_ms"], sid)]

    def owner_span(key, t):
        for kind, a, b, sid in children.get(key, []):
            if a <= t <= b:
                return sid
        return children[key][-1][3] if key in children else None

    def locate(t):
        for key, ch in children.items():
            if ch[-1][1] <= t <= ch[-1][2]:
                return key
        return None

    jobs = job_table(recs, locate)
    job_span = {}
    for jid, j in jobs.items():
        if j["key"] is None or j["end"] is None:
            continue
        job_span[jid] = add("job", j["key"][1], j["key"][0], j["start"], j["end"],
                            owner_span(j["key"], j["start"]))
    for s in recs:
        if s["kind"] == "stage" and s["job"] in job_span and s["start_ms"] and s["end_ms"]:
            j = jobs[s["job"]]
            add("stage", j["key"][1], j["key"][0], s["start_ms"], s["end_ms"], job_span[s["job"]])
    sq = {}
    for e in recs:
        if e["kind"] == "sq":
            sq.setdefault(e["run"], {"key": (e["pass"], e["q"])})[e["event"]] = e["ms"]
    sq_span = {}
    for run, s in sq.items():
        if "start" in s:
            end = s.get("end", s["start"])
            sq_span[run] = add("streaming_query", s["key"][1], s["key"][0], s["start"], end,
                               owner_span(s["key"], s["start"]))
    for e in recs:
        if e["kind"] == "epoch" and e["run"] in sq_span and "triggerExecution" in e["dur"]:
            add("epoch", e["q"], e["pass"], e["start_ms"],
                e["start_ms"] + e["dur"]["triggerExecution"], sq_span[e["run"]])
    return spans, jobs


def job_table(recs, locate):
    """Jobs by id with their (pass, query), from the local property the
    harness sets, else from the query whose span contains the job start."""
    jobs = {}
    for r in recs:
        if r["kind"] != "job":
            continue
        j = jobs.setdefault(r["id"], {"end": None})
        if r["event"] == "start":
            j.update(start=r["ms"], batch=r["batch"], exec=r["exec"],
                     key=(int(r["pass"]), r["q"]) if r["q"] else locate(r["ms"]))
        else:
            j["end"] = r["ms"]
    return {k: j for k, j in jobs.items() if "start" in j}


def self_times(spans):
    """Seconds per span kind not covered by the span's children."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_s([(max(x, a), min(y, b)) for x, y in kids.get(s["id"], []) if y > a and x < b])
        out[s["kind"]] = out.get(s["kind"], 0.0) + (b - a) / 1e3 - covered
    return out


PER_QUERY = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s", "spark.run_s", "spark.cpu_s",
    "spark.sched_delay_s", "spark.gc_s", "spark.empty_tasks", "spark.input_mb",
    "spark.input_rows", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
    "spark.shuffle_wait_s", "spark.spill_mb", "spark.failed_tasks", "spark.broadcast_mb_max",
    "spark.persisted_mb", "streaming.queries", "streaming.epochs", "streaming.data_epochs",
    "streaming.input_rows", "streaming.add_batch_s", "streaming.planning_s", "streaming.wal_s",
    "streaming.commit_s", "streaming.offset_s", "streaming.jobs", "state.rows",
    "state.rows_updated", "state.mb", "state.commit_s", "state.update_s",
    "harness.cleanup_s", "harness.unpersisted_rdds", "harness.out_rows",
]


def query_counters(recs):
    """Per (pass, query) counters of a traced run."""
    qs = {(q["pass"], q["name"]): q for q in recs if q["kind"] == "q"}
    spans, jobs = spans_of(recs)
    c = {k: dict.fromkeys(PER_QUERY, 0.0) for k in qs}
    for k, q in qs.items():
        c[k].update({"layer": q["layer"], "latency_s": latency_s(q),
                     "build_s": (q["build_end_ms"] - q["build_start_ms"]) / 1e3,
                     "force_s": (q["force_end_ms"] - q["build_end_ms"]) / 1e3,
                     "harness.cleanup_s": (q["end_ms"] - q["cleanup_start_ms"]) / 1e3,
                     "harness.unpersisted_rdds": q["unpersisted"],
                     "harness.out_rows": max(q["rows"], 0),
                     "spark.persisted_mb": q["persisted_bytes"] / MB})
    job_iv = {}
    exec_key = {}
    for jid, j in jobs.items():
        if j["key"] not in c:
            continue
        x = c[j["key"]]
        x["spark.jobs"] += 1
        if j["batch"] is not None:
            x["streaming.jobs"] += 1
        if j["exec"] is not None:
            exec_key[int(j["exec"])] = j["key"]
        if j["end"] is not None:
            q = qs[j["key"]]
            a, b = max(j["start"], q["build_start_ms"]), min(j["end"], q["force_end_ms"])
            if b > a:
                job_iv.setdefault(j["key"], []).append((a, b))
    for k, iv in job_iv.items():
        c[k]["spark.job_s"] = union_s(iv)
    for s in recs:
        if s["kind"] != "stage" or s["job"] not in jobs or jobs[s["job"]]["key"] not in c:
            continue
        x = c[jobs[s["job"]]["key"]]
        x["spark.stages"] += 1
        x["spark.tasks"] += s["tasks"]
        x["spark.run_s"] += s["run_ms"] / 1e3
        x["spark.cpu_s"] += s["cpu_ns"] / 1e9
        x["spark.sched_delay_s"] += s["sched_ms"] / 1e3
        x["spark.gc_s"] += s["gc_ms"] / 1e3
        x["spark.empty_tasks"] += s["empty"]
        x["spark.input_mb"] += s["in_bytes"] / MB
        x["spark.input_rows"] += s["in_rows"]
        x["spark.shuffle_write_mb"] += s["sw_bytes"] / MB
        x["spark.shuffle_read_mb"] += s["sr_bytes"] / MB
        x["spark.shuffle_wait_s"] += s["fetch_ms"] / 1e3
        x["spark.spill_mb"] += s["spill_bytes"] / MB
        x["spark.failed_tasks"] += s["failed"]
    for e in recs:
        if e["kind"] == "exec" and exec_key.get(e["id"]) in c:
            x = c[exec_key[e["id"]]]
            x["spark.broadcast_mb_max"] = max(x["spark.broadcast_mb_max"], e["bcast_bytes"] / MB)
    state_peak = {}
    for e in recs:
        if e["kind"] == "sq" and e["event"] == "start" and (e["pass"], e["q"]) in c:
            c[(e["pass"], e["q"])]["streaming.queries"] += 1
        if e["kind"] != "epoch" or (e["pass"], e["q"]) not in c:
            continue
        x = c[(e["pass"], e["q"])]
        d = e["dur"]
        x["streaming.epochs"] += 1
        x["streaming.data_epochs"] += e["rows"] > 0
        x["streaming.input_rows"] += e["rows"]
        x["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        x["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        x["streaming.wal_s"] += d.get("walCommit", 0) / 1e3
        x["streaming.commit_s"] += d.get("commitOffsets", 0) / 1e3
        x["streaming.offset_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
        x["state.rows_updated"] += e["state_updated"]
        x["state.commit_s"] += e["state_commit_ms"] / 1e3
        x["state.update_s"] += e["state_update_ms"] / 1e3
        peak = state_peak.setdefault(e["run"], [(e["pass"], e["q"]), 0, 0])
        peak[1] = max(peak[1], e["state_rows"])
        peak[2] = max(peak[2], e["state_bytes"])
    for key, rows, nbytes in state_peak.values():
        c[key]["state.rows"] += rows
        c[key]["state.mb"] += nbytes / MB
    return c, spans


def per_layer(recs, cores_n, e2e):
    """Per-layer metrics: per-pass sums over the queries of each timed
    pass, median over the timed passes; ratios are formed from the sums."""
    counters, spans = query_counters(recs)
    passes = sorted({p for p, _ in counters if p >= 1})
    per_pass = []
    for p in passes:
        rows = [x for (pp, _), x in counters.items() if pp == p]
        s = {k: sum(x[k] for x in rows) for k in PER_QUERY}
        for layer in ("relational", "llm", "streaming"):
            s[f"{layer}.build_s"] = sum(x["build_s"] for x in rows if x["layer"] == layer)
            s[f"{layer}.force_s"] = sum(x["force_s"] for x in rows if x["layer"] == layer)
        s["spark.broadcast_mb_max"] = max(x["spark.broadcast_mb_max"] for x in rows)
        s["spark.driver_gap_s"] = sum(x["latency_s"] for x in rows) - s["spark.job_s"]
        s["spark.core_util"] = s["spark.run_s"] / (cores_n * s["spark.job_s"]) if s["spark.job_s"] else 0.0
        s["spark.empty_task_frac"] = s["spark.empty_tasks"] / s["spark.tasks"] if s["spark.tasks"] else 0.0
        s["streaming.data_epoch_frac"] = (s["streaming.data_epochs"] / s["streaming.epochs"]
                                          if s["streaming.epochs"] else 0.0)
        s["streaming.jobs_per_epoch"] = (s["streaming.jobs"] / s["streaming.epochs"]
                                         if s["streaming.epochs"] else 0.0)
        per_pass.append(s)
    out = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
    out["streaming.epoch_p50_ms"] = e2e.get("epoch_p50_ms", (0.0,))[0]
    out["streaming.epoch_tail_ms"] = e2e.get("epoch_tail_ms", (0.0,))[0]
    out["streaming.rows_per_s"] = e2e.get("stream_rows_per_s", (0.0,))[0]
    out["harness.traced_wall_s"] = e2e["wall_s"][0]
    return out, counters, spans


def coverage(recs):
    """(build + force) / (query span - cleanup) for every timed query."""
    return [((q["force_end_ms"] - q["build_start_ms"])
             / (q["cleanup_start_ms"] - q["start_ms"]))
            for q in recs if q["kind"] == "q" and q["pass"] >= 1
            and q["cleanup_start_ms"] > q["start_ms"]]


def write_trace(workload, seed, counters, spans, layer_metrics):
    OUT.mkdir(exist_ok=True)
    stem = OUT / f"{workload}-seed{seed}"
    with open(f"{stem}.spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    with open(f"{stem}.queries.jsonl", "w") as f:
        for (p, name), x in sorted(counters.items()):
            f.write(json.dumps({"pass": p, "query": name, **x}) + "\n")
    with open(f"{stem}.summary.json", "w") as f:
        json.dump(layer_metrics, f, indent=1, sort_keys=True)
    return stem


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "src" / "main" / "scala").is_dir() or not DATA.is_dir():
        sys.exit("perfbench: run from a checkout that holds src/main/scala and perfbench/data")
    workloads = load_json("workloads.json")["workloads"]
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload}; have {', '.join(workloads)}")
    build()
    t0_ms = time.time() * 1e3
    reference = load_json("reference.json")
    bench = load_json("../BENCHMARK.json")
    recs = measure(workloads[a.workload]["queries"], a.seed, a.seconds, a.trace == 1, t0_ms)

    attempted, failures = check(recs, reference)
    e2e, notes, run = end_to_end(recs)
    print(f"perfbench workload={a.workload} seed={a.seed} cores={run['cores']} "
          f"timed_passes={run['timed_passes']} trace={a.trace}")
    for name, (value, unit) in e2e.items():
        extra = f"  ({notes[name]})" if name in notes else ""
        print(f"  {name} = {value:.6g} {unit}{extra}")
    print(f"  fail_frac = {len(failures) / attempted:.6g} ratio  ({len(failures)}/{attempted})")
    for p, name, reason in failures:
        print(f"  FAILED pass {p} {name}: {reason}")
    warm = next((p["end_ms"] - p["start_ms"]) / 1e3 for p in recs if p["kind"] == "pass" and p["pass"] == 0)
    print(f"  setup_s parts: jvm {run['jvm_start_s']:.3f} s, session {run['session_s']:.3f} s, "
          f"warm pass {warm:.3f} s")

    if a.trace:
        metrics, counters, spans = per_layer(recs, run["cores"], e2e)
        stem = write_trace(a.workload, a.seed, counters, spans, metrics)
        cov = coverage(recs)
        st = self_times([s for s in spans if s["pass"] >= 1])
        print(f"  build+force / query latency: min {min(cov):.4f}, median "
              f"{statistics.median(cov):.4f} over {len(cov)} queries")
        print("  self time by span, s: " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(st.items())))
        print(f"  trace written to {stem.relative_to(ROOT)}.*")
        print(f"perfbench summary {a.workload} " + json.dumps(metrics, sort_keys=True))
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in bench["per_layer"]}
    else:
        out = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
               for m in bench["end_to_end"]}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out}))


if __name__ == "__main__":
    main()
