"""Run-to-run steadiness of the benchmark.

    python3 perfbench/steady.py --runs 10 [--workloads sed_bin,stream_ingest]
                                [--seconds 30] [--seed0 100] [--log runs.jsonl]

Runs every chosen workload `--runs` times (seed = seed0 + run index), in
alternating order (forward on even runs, backward on odd ones), then prints
per workload and end-to-end metric the median, the quartiles, the spread
(Q3 - Q1) / median and that spread as a share of the metric's bound in
BENCHMARK.json. For every run it also records what can explain a noisy one:
CPU time stolen by the hypervisor during the run (from /proc/stat), the
1-minute load average, nproc, and the time of a fixed CPU probe taken just
before the run.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_s():
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def cpu_probe_s():
    t = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t


def one_run(workload, seed, seconds):
    probe, load, s0 = cpu_probe_s(), os.getloadavg()[0], steal_s()
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    rec = {"workload": workload, "seed": seed, "exit": p.returncode,
           "wall_s": time.time() - t, "steal_s": steal_s() - s0, "load1": load,
           "nproc": os.cpu_count(), "probe_s": probe}
    lines = p.stdout.strip().splitlines()
    try:
        rec["result"] = json.loads(lines[-1])
    except (IndexError, ValueError):
        rec["stderr"] = p.stderr[-2000:]
    return rec


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], statistics.median(v), q[2]


def summarize(recs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    for w in dict.fromkeys(r["workload"] for r in recs):
        rs = [r for r in recs if r["workload"] == w and "result" in r]
        bad = [r for r in recs if r["workload"] == w and "result" not in r]
        wrong = sum(1 for r in rs if not r["result"]["correct"])
        fail = {(r["result"]["failed"], r["result"]["attempted"]) for r in rs}
        print(f"\n{w}: {len(rs)} runs, {len(bad)} without a result, {wrong} incorrect, "
              f"failed/attempted {sorted(fail)[:3]}")
        print(f"  {'metric':14s} {'q1':>11s} {'median':>11s} {'q3':>11s} {'spread':>7s} "
              f"{'/bound':>7s}")
        for m, b in bounds.items():
            v = [r["result"]["metrics"][m]["value"] for r in rs]
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            sp = (q3 - q1) / med if med else float("inf")
            print(f"  {m:14s} {q1:11.4g} {med:11.4g} {q3:11.4g} {sp:7.3f} {sp / b:7.2f}")
        for k in ("wall_s", "steal_s", "load1", "probe_s"):
            v = [r[k] for r in recs if r["workload"] == w]
            q1, med, q3 = quartiles(v)
            print(f"  {'run.' + k:14s} {q1:11.4g} {med:11.4g} {q3:11.4g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="sed_bin,stream_ingest")
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--log", help="append one JSON line per run to this file")
    opt = ap.parse_args()
    ws = opt.workloads.split(",")
    recs = []
    for i in range(opt.runs):
        for w in (ws if i % 2 == 0 else ws[::-1]):
            r = one_run(w, opt.seed0 + i, opt.seconds)
            recs.append(r)
            res = r.get("result", {})
            print(f"run {i} {w} seed={r['seed']} exit={r['exit']} wall={r['wall_s']:.1f}s "
                  f"steal={r['steal_s']:.1f}s load={r['load1']:.2f} probe={r['probe_s']:.3f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
                  flush=True)
            if opt.log:
                with open(opt.log, "a") as f:
                    f.write(json.dumps(r) + "\n")
    summarize(recs)


if __name__ == "__main__":
    main()
