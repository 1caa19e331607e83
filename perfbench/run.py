"""graft benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload sed_bin --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds the program and the harness once
(perfbench/build.py, untimed), generates the workload's inputs from the
seed (perfbench/gen.py, cached per seed and size), runs the harness JVM
for `--seconds` of measured operations, checks the outputs independently
(perfbench/checks.py) and prints one JSON object as the last line of
standard output. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones (see README.md). PERFBENCH_CORES=n sets the number of
Spark task threads (default: nproc, at most 4).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing but the cache dirs behind

import build  # noqa: E402  (perfbench/ is sys.path[0] when run as a script)
import checks  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
RUNS = os.path.join(ROOT, ".bench_runs")
WORKLOADS = ("sed_bin", "stream_ingest")
HEAP = "3g"
YOUNG = "1g"
JVM_TIMEOUT_S = 150
STREAM_COMPACT_EVERY = 3
# per-layer metric prefixes that name one workload's modules: their figures
# read 0 on the other workloads, whatever the harness measured there
OWNER = {"sed": "sed_bin", "binning": "sed_bin", "dedup": "stream_ingest",
         "streaming": "stream_ingest", "index": "stream_ingest"}
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def missing_tree():
    """What a checkout must hold besides the benchmark's own files."""
    need = [os.path.join("src", "main", "scala"), "build.sbt"]
    return [p for p in need if not os.path.exists(os.path.join(ROOT, p))]


def cores():
    """Spark task threads: nproc, at most 4 (one client, closed loop)."""
    n = os.environ.get("PERFBENCH_CORES")
    return int(n) if n else max(1, min(4, len(os.sched_getaffinity(0))))


def harness_args(workload, params, input_dir, work):
    a = {"workload": workload, "input": input_dir, "work": work,
         "rows": params["rows"], "cores": cores()}
    if workload == "sed_bin":
        a.update(det=gen.DET, jitter_amp=gen.JITTER_AMP, shear=gen.SHEAR,
                 k_scale=gen.K_SCALE, tof_distance=gen.TOF_DISTANCE,
                 time_offset=gen.TIME_OFFSET, tof_binwidth=gen.TOF_BINWIDTH,
                 tof_binning=gen.TOF_BINNING,
                 sector_delays=",".join(repr(d) for d in gen.SECTOR_DELAYS),
                 axes=";".join(f"{x['col']}:{x['bins']}:{x['lo']!r}:{x['hi']!r}"
                               for x in params["axes"]))
    elif workload == "stream_ingest":
        a.update(compact_every=STREAM_COMPACT_EVERY,
                 batch_rows=params["rows"] // params["batches"])
    return a


def run_jvm(jars, classpath, args, work):
    # fixed heap and young-generation sizes, not pre-touched: eden's pages
    # are all touched by the first collections, so peak RSS moves with the
    # old generation's peak (what the program retains) and with what it
    # holds outside the heap, not with G1's adaptive young sizing; and no
    # perf-data file: HotSpot would write it to the system temp directory,
    # outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([os.path.join(jars, "*")] + classpath),
              "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"))
    log = open(os.path.join(work, "jvm.log"), "w")
    started = time.time()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                         cwd=work, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"harness did not finish within {JVM_TIMEOUT_S} s")
    finally:
        log.close()
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    line = next((l for l in out.splitlines() if l.startswith("PERFBENCH ")), None)
    if p.returncode != 0 or line is None:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed with exit code {p.returncode}")
    with open(os.path.join(work, "jvm.log")) as f:
        sys.stderr.writelines(l for l in f if l.startswith("perfbench: operation failed"))
    return started, json.loads(line[len("PERFBENCH "):])


def disk_mb(*paths):
    """Bytes on disk under `paths`, each file (inode) counted once."""
    seen, total = set(), 0
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if (st.st_dev, st.st_ino) not in seen:
                    seen.add((st.st_dev, st.st_ino))
                    total += st.st_size
    return total / 1e6, len(seen)


def check(workload, input_dir, params, work):
    """Runs the independent checks; returns (failures, stored paths, extra
    per-layer figures measured on the outputs)."""
    if workload == "sed_bin":
        cube = os.path.join(work, "cube")
        data = checks.read_dir(os.path.join(cube, "data"))
        fails = checks.check_sed(data, checks.sed_truth(input_dir, params))
        return fails, [cube], {"binning.bins_out": len(data["cnt"]) if data else 0}
    with open(os.path.join(work, "stream", "last-pass")) as f:
        last = os.path.join(work, "stream", f.read().strip())
    out, index = os.path.join(last, "out"), os.path.join(last, "index")
    fails = checks.check_stream(checks.read_stream_out(out),
                                checks.stream_truth(input_dir, params))
    mb, files = disk_mb(index)
    return fails, [index, out], {"index.mb_end": mb, "index.files_end": files}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    opt = ap.parse_args()
    gone = missing_tree()
    if gone:
        sys.stderr.write("perfbench: this checkout lacks the program to benchmark: "
                         + ", ".join(gone) + " not found under " + ROOT + "\n")
        return 2
    # a terminated run still stops and reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jars, classpath = build.ensure()
    os.makedirs(CACHE, exist_ok=True)
    input_dir, params = gen.ensure(opt.workload, opt.seed, CACHE)
    work = os.path.join(RUNS, f"{opt.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        args = harness_args(opt.workload, params, input_dir, work)
        args.update(seconds=opt.seconds, trace=opt.trace)
        started, res = run_jvm(jars, classpath, args, work)
        fails, stored, extra = check(opt.workload, input_dir, params, work)
        if not res["ops"]:
            raise SystemExit(f"all {res['attempted']} measured operations failed "
                             "(see the failures above)")
        secs = [s for s, _ in res["ops"]]
        rows = sum(n for _, n in res["ops"])
        e2e = {
            "setup_s": (res["first_op_epoch_us"] / 1e6 - started, "s"),
            "op_p50_s": (statistics.median(secs), "s"),
            "rows_per_s": (rows / sum(secs), "rows/s"),
            "stored_mb": (disk_mb(*stored)[0], "MB"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        for f in fails:
            print(f"perfbench: check failed: {f}")
        print(f"perfbench: {opt.workload} seed={opt.seed} cores={cores()} "
              f"warmup_s={','.join(f'{w:.2f}' for w in res['warmup_s'])} "
              f"op_s={','.join(f'{x:.2f}' for x in secs)} "
              + " ".join(f"{k}={v:.4g}" for k, (v, _) in e2e.items()))
        if opt.trace:
            layers = dict(res["layers"], **extra)
            units = per_layer_units()
            for k in units:
                if OWNER.get(k.split(".")[0], opt.workload) != opt.workload:
                    layers[k] = 0.0
            metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
            print("perfbench: spark jobs per operation: " + " ".join(map(str, res["op_jobs"])))
            for k, m in metrics.items():
                print(f"perfbench: layer {k} = {m['value']:.4g} {m['unit']}")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"correct": not fails, "attempted": res["attempted"],
                          "failed": res["attempted"] - len(secs),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
