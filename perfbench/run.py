#!/usr/bin/env python3
"""Benchmark of the graft engine: the nightly pipeline, the analyst read
path and the streaming twin, each checked for correctness.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (perfbench/README.md has the details):
  daily_pipeline   Pipeline.run over seeded Alpaca payload files
  analyst_queries  a seeded, stratified sample of SparkEntry.queries
  tick_stream      BarBuilder + IncrementalAggStream over seeded tick files

Run from the root of a source tree. The first run builds the engine and
the harness (perfbench/build.py); inputs are generated from the seed and
cached (perfbench/gen.py). Everything is written under .perfbench/.
The last line of stdout is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The line before it is the run record
(host, workload-specific metrics, sampled queries), also saved under
.perfbench/results/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output

import build  # noqa: E402
import gen  # noqa: E402

INPUTS = {"daily_pipeline": "alpaca", "analyst_queries": "warehouse", "tick_stream": "ticks"}
SAMPLE_SIZE = 6
HEAP = "3g"
DEADLINE_S = 170  # engine and oracle together, build excluded
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def load_pool():
    with open(HERE / "query_pool.json") as f:
        return json.load(f)["queries"]


def sample_queries(seed, n=SAMPLE_SIZE):
    """Seeded sample stratified by cost and by module: the pool, ordered
    by calibrated cost, is cut into `n` equal tiles; tile i contributes
    one query of family i mod 3 (Core, Market, Llm), drawn from the
    seed. Every seed so gets the same cost profile and n/3 queries of
    each family; the run order is shuffled from the seed too."""
    rng = random.Random(f"queries-{seed}")
    pool = load_pool()
    names = sorted(pool, key=lambda q: (pool[q]["cost_s"], q))
    families = ("core", "market", "llm")
    picked = []
    for i in range(n):
        tile = names[i * len(names) // n:(i + 1) * len(names) // n]
        pick = [q for q in tile if pool[q]["family"] == families[i % 3]] or tile
        picked.append(rng.choice(pick))
    rng.shuffle(picked)
    return picked


def write_expect(workload, ledger, path):
    lines = []
    if workload == "daily_pipeline":
        for k in ("rows_written", "paired_rows", "raw_bars", "clean_bars", "rth_bars", "corrupt_files",
                  "input_bytes", "dq_ok", "dq_warn", "dq_fail", "dq_max_missing", "dq_symbol_days",
                  "dq_actual_bars_total"):
            lines.append(f"{k} {ledger[k]}")
        lines.append("pairs " + ",".join(f"{a}:{b}" for a, b in ledger["pairs"]))
    elif workload == "tick_stream":
        files = ledger["files"]
        lines.append(f"files {len(files)}")
        for k, f in enumerate(files):
            lines.append(f"file.{k} {f['name']} {f['ticks']}")
            lines.append(f"bar.{k} " + " ".join(f"{key}:{n}" for key, n in sorted(f["bars"].items())))
            lines.append(f"cnt.{k} " + " ".join(f"{key}:{n}" for key, n in sorted(f["counts"].items())))
    path.write_text("\n".join(lines) + "\n")


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(t0, t1):
    """Share of CPU time the hypervisor took from this host between two
    cpu_ticks() readings: host drift that reads like a slower program."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else None


def git_commit():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


ORACLE_MEMORY = 3 << 30  # resident-memory cap of the DuckDB oracle process
ORACLE_TIMEOUT_S = 240


def _watch(proc, limit_bytes, timeout_s):
    """Kill `proc` when its resident memory passes `limit_bytes` or it
    runs longer than `timeout_s`."""
    deadline = time.monotonic() + timeout_s
    status = Path(f"/proc/{proc.pid}/status")
    while proc.poll() is None:
        try:
            rss_kb = int(re.search(r"VmRSS:\s+(\d+)", status.read_text()).group(1))
        except (OSError, AttributeError):
            rss_kb = 0
        if rss_kb * 1024 > limit_bytes or time.monotonic() > deadline:
            proc.kill()
            return
        time.sleep(0.1)


def _oracle_once(warehouse, dump, on_line, timeout_s):
    cmd = [sys.executable, "-u", str(ROOT / "tools" / "check_oracle.py"), str(warehouse), str(dump)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                            cwd=str(Path(dump).parent))  # DuckDB spills into ./.tmp
    watchdog = threading.Thread(target=_watch, args=(proc, ORACLE_MEMORY, timeout_s), daemon=True)
    watchdog.start()
    out = []
    try:
        for line in proc.stdout:
            out.append(line)
            on_line(line)
    finally:
        proc.kill()
        proc.wait()
        watchdog.join()
    return "".join(out)


def check_oracle(warehouse, dump, names, on_line=lambda line: None, deadline=None):
    """Run the project's DuckDB oracle (tools/check_oracle.py) on a
    Verify-layout dump, its memory and time capped. When the oracle dies
    on a query, that query is recorded as unchecked and the oracle is
    started again on the rest; past `deadline` (a time.monotonic() value)
    everything left is unchecked. Returns {name: "PASS" | "FAIL" |
    "UNCHECKED"} and the oracle's output."""
    dump = Path(dump)
    oracle = json.loads((dump / "oracle_sql.json").read_text())
    verdict = {}
    texts = []
    todo = sorted(n for n in names if n in oracle)
    while todo:
        view = dump.parent / (dump.name + "_view")
        shutil.rmtree(view, ignore_errors=True)
        view.mkdir()
        for n in todo:
            if (dump / n).exists():
                os.symlink((dump / n).resolve(), view / n)
        (view / "oracle_sql.json").write_text(json.dumps({n: oracle[n] for n in todo}))
        (view / "attempted.json").write_text(json.dumps(todo))

        def seen(line):
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
                verdict[parts[1].rstrip(":")] = parts[0]
            on_line(line)

        left = ORACLE_TIMEOUT_S if deadline is None else min(ORACLE_TIMEOUT_S, deadline - time.monotonic())
        texts.append(_oracle_once(warehouse, view, seen, max(1.0, left)))
        shutil.rmtree(view, ignore_errors=True)
        rest = [n for n in todo if n not in verdict]
        # the oracle died (memory or time cap) on rest[0], or time is up
        stop = rest[:1] if deadline is None or time.monotonic() < deadline else rest
        for n in stop:
            verdict[n] = "UNCHECKED"
            on_line(f"UNCHECKED {n}\n")
        todo = rest[len(stop):]
    return verdict, "".join(texts)


def run_engine(classes, args, run_dir, deadline):
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf file to the system temp dir
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dderby.system.home=" + str(tmp)]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()])
    with open(run_dir / "engine.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=str(tmp))
        try:
            code = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("engine run exceeded its deadline")
    if code != 0:
        tail = (run_dir / "engine.log").read_text()[-3000:]
        raise RuntimeError(f"engine exited with {code}:\n{tail}")
    return json.loads((run_dir / "result.json").read_text())


# Workload-specific names of the engine's raw (unscaled) figures, for the record.
NAMED = {
    "daily_pipeline": {"raw_op_p50_s": ("pipeline_s", "s"), "op_p90_s": ("pipeline_p90_s", "s"),
                       "raw_items_per_s": ("bars_per_s", "1/s")},
    "analyst_queries": {"raw_op_p50_s": ("query_p50_s", "s"), "op_p90_s": ("query_p90_s", "s"),
                        "raw_items_per_s": ("queries_per_s", "1/s")},
    "tick_stream": {"raw_op_p50_s": ("batch_p50_s", "s"), "op_p90_s": ("batch_p90_s", "s"),
                    "raw_items_per_s": ("ticks_per_s", "1/s")},
}


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    load_start = os.getloadavg()
    ticks_start = cpu_ticks()
    classes, build_s = build.build(ROOT, STATE)
    t_ready = time.monotonic()
    data, ledger, gen_s = gen.cached(INPUTS[a.workload], STATE / "data", a.seed)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    run_dir = STATE / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    expect = run_dir / "expect.txt"
    write_expect(a.workload, ledger, expect)
    args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace, "cores": cores(),
            "data": data, "expect": expect, "tmp": run_dir / "tmp", "out": run_dir / "result.json",
            "spans": run_dir / "spans.json"}
    sample = []
    oracle_mark = None
    if a.workload == "analyst_queries":
        sample = sample_queries(a.seed)
        args["queries"] = ",".join(sample)
        digest = hashlib.sha256(",".join(sorted(sample)).encode()).hexdigest()[:12]
        oracle_mark = Path(data).parent / f"oracle-{classes.parent.name}-{digest}.json"
        if not oracle_mark.exists():
            args["dump"] = run_dir / "dump"
    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    try:
        res = run_engine(classes, args, run_dir, t_ready + DEADLINE_S)
    finally:
        shutil.rmtree(run_dir / "tmp", ignore_errors=True)
        if (run_dir / "engine.log").exists():
            shutil.copy(run_dir / "engine.log", results / f"{run_id}.log")

    attempted, failed = int(res["attempted"]), int(res["failed"])
    notes = res["notes"]
    if oracle_mark is not None:
        if "dump" in args:
            verdict, out = check_oracle(data, args["dump"], set(sample), deadline=t_ready + DEADLINE_S)
            (results / f"{run_id}.oracle.txt").write_text(out)
            oracle_mark.write_text(json.dumps(verdict))
            shutil.rmtree(args["dump"], ignore_errors=True)
        verdict = json.loads(oracle_mark.read_text())
        notes["oracle"] = {v: sorted(q for q in verdict if verdict[q] == v) for v in set(verdict.values())}
        failed += sum(v == "FAIL" for v in verdict.values())

    m = res["metrics"]
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for d in wanted:
        v = m.get(d["name"], 0.0 if a.trace else None)
        if v is None:
            raise RuntimeError(f"engine did not report {d['name']}")
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
    named = {}
    if not a.trace:
        for generic, (name, unit) in NAMED[a.workload].items():
            named[name] = {"value": m[generic], "unit": unit}
        named["raw_setup_s"] = {"value": m["raw_setup_s"], "unit": "s"}
        named["host_factor"] = {"value": m["host_factor"], "unit": "ratio"}
        named["peak_heap_mb"] = {"value": m["peak_heap_mb"], "unit": "MB"}
        if "lake_bytes_per_bar" in m:
            named["lake_bytes_per_bar"] = {"value": m["lake_bytes_per_bar"], "unit": "B"}
        # a p90 is a tail estimate only with at least 10 samples above it
        named["op_samples"] = {"value": m["op_samples"], "unit": "count"}
        named["p90_samples_above"] = {"value": int(m["op_samples"] * 0.1), "unit": "count"}
    named["fail_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "metrics": named,
        "host": dict(res["host"], nproc=os.cpu_count(), cores_used=cores(), git_commit=git_commit(),
                     source_hash=classes.parent.name, load_avg_start=load_start,
                     load_avg_end=os.getloadavg(), cpu_steal_share=steal_share(ticks_start, cpu_ticks())),
        "build_s": build_s, "input_gen_s": gen_s, "wall_s": time.monotonic() - t_start,
        "sampled_queries": sample, "notes": notes,
    }
    (results / f"{run_id}.json").write_text(json.dumps(dict(record, engine_metrics=m), indent=1))
    if a.trace and (run_dir / "spans.json").exists():
        shutil.copy(run_dir / "spans.json", results / f"{run_id}.spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line: the run did not complete
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(1)
