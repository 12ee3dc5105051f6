#!/usr/bin/env python3
"""Builds perfbench/query_pool.json, the candidate pool the analyst_queries
workload samples from.

    python3 perfbench/calibrate.py [seed ...]

For each seed it generates the warehouse tables, runs every query of
SparkEntry.queries once to warm up and once timed (full result
collected), dumps the results in Verify's layout and checks them with
tools/check_oracle.py, one query at a time when the oracle crashes. A
query enters the pool when, on every seed, it ran, matched its warm-up
result, took at most MAX_QUERY_S, and passed the DuckDB oracle within
MAX_ORACLE_S. Its family comes from the module that defines it; its
calibrated cost (timed seconds on the calibrating host) only stratifies the
sample, so every seed draws the same mix of cheap and expensive queries.
"""
import json
import statistics
import sys
import time

import run as bench

MAX_QUERY_S = 3.0  # one run must stay within the benchmark's time budget
MAX_ORACLE_S = 3.0  # the oracle check of a run's sample must stay cheap


def engine_pass(seed):
    classes, _ = bench.build.build(bench.ROOT, bench.STATE)
    data, _, _ = bench.gen.cached("warehouse", bench.STATE / "data", seed)
    run_dir = bench.STATE / "runs" / f"calibrate-seed{seed}"
    if (run_dir / "result.json").exists():
        return data, run_dir, json.loads((run_dir / "result.json").read_text())
    bench.shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    args = {"workload": "analyst_queries", "seconds": 1, "trace": 0, "cores": bench.cores(),
            "data": data, "expect": "", "tmp": run_dir / "tmp", "out": run_dir / "result.json",
            "spans": run_dir / "spans.json", "queries": "ALL", "dump": run_dir / "dump", "calibrate": 1}
    return data, run_dir, bench.run_engine(classes, args, run_dir, time.monotonic() + 3600)


def oracle_pass(data, run_dir, names):
    """Per-query oracle verdict and seconds."""
    verdict = {}
    last = [time.monotonic()]

    def on_line(line):
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "UNCHECKED"):
            now = time.monotonic()
            verdict[parts[1].rstrip(":")] = (parts[0], now - last[0])
            last[0] = now

    bench.check_oracle(data, run_dir / "dump", names, on_line)
    return verdict


def main():
    seeds = [int(s) for s in sys.argv[1:]] or [101]
    per_seed = []
    for seed in seeds:
        data, run_dir, res = engine_pass(seed)
        times = {t["query"]: t for t in res["notes"]["op_times"]}
        bad = {f.split(":")[0] for f in res["notes"]["failures"] + res["notes"]["warmup_failed"]}
        cached = run_dir / "oracle_verdict.json"
        if cached.exists():
            verdict = json.loads(cached.read_text())
        else:
            verdict = oracle_pass(data, run_dir, set(times) - bad)
            cached.write_text(json.dumps(verdict, indent=1))
        per_seed.append((times, bad, verdict))
    names = sorted(per_seed[0][0])
    reasons = {}
    for q in names:
        for times, bad, verdict in per_seed:
            v = verdict.get(q)
            if q in bad:
                reasons[q] = "engine run failed or unstable"
            elif v is None:
                reasons[q] = "no DuckDB twin"
            elif v[0] != "PASS":
                reasons[q] = f"DuckDB oracle {v[0]}"  # UNCHECKED: it passed 3 GB or 240 s
            elif v[1] > MAX_ORACLE_S:
                reasons[q] = f"oracle check {v[1]:.1f} s"
            elif times[q]["s"] > MAX_QUERY_S:
                reasons[q] = f"query {times[q]['s']:.1f} s"
    ok = [q for q in names if q not in reasons]
    pool = {q: {"family": per_seed[0][0][q]["family"],
                "cost_s": round(statistics.median(t[q]["s"] for t, _, _ in per_seed), 3)} for q in ok}
    doc = {"seeds": seeds, "max_query_s": MAX_QUERY_S, "max_oracle_s": MAX_ORACLE_S,
           "excluded": reasons, "queries": pool}
    (bench.HERE / "query_pool.json").write_text(json.dumps(doc, indent=1) + "\n")
    print(f"{len(pool)} queries in the pool, {len(reasons)} excluded")


if __name__ == "__main__":
    main()
