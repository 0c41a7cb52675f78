"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload dropbox_ingest --seed 1 \
        --seconds 20 --trace 0

Builds the engine and the harness (see build.py), starts one JVM with the
session fixed in session.properties, runs setup, warmup and the timed
closed loop, checks every operation against the workload's model, and
prints one line per metric followed by the result as one JSON object on
the last line. With --trace 1 the untraced timed phase is followed by a
traced one and a short untraced one, and the result holds the per-layer
metrics instead.

--plant-wrong corrupts one checked result; the run must then fail. Exit
code 0 means every operation matched its model.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
DEADLINE_S = 170

# Which class of operations each latency metric reads, per workload.
# Every workload reports every end-to-end metric; where a workload has no
# operation of a class, the metric reads the workload's unit of work
# (README.md, "End-to-end metrics"). curate_corpus runs here but is not
# one of BENCHMARK.json's workloads (README.md, "Run length and steadiness").
CLASSES = {
    "dropbox_ingest": {"latency": "drop", "lookup_latency": "lookup",
                       "walk_latency": "drop"},
    "catalog_report": {"latency": "lookup", "lookup_latency": "lookup",
                       "walk_latency": "walk"},
    "curate_corpus": {"latency": "pass", "lookup_latency": "pass",
                      "walk_latency": "pass"},
}


def fail(msg, code=1):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(code)


def finite(x):
    return x if x is not None and math.isfinite(x) else None


def end_to_end(raw, workload):
    """The end-to-end metrics of an untraced run: name -> (value, unit, note)."""
    samples = raw["samples"]
    out = {"setup_s": (raw["setup_s"], "s", "session %.2f s, data %.2f s, warmup %.2f s"
                       % (raw["session_s"], raw["data_s"], raw["warm_s"]))}
    for metric, cls in CLASSES[workload].items():
        xs = samples.get(cls, [])
        if not xs:
            fail("no %s operations completed in the timed phase" % cls)
        s = stats.summary(xs)
        out[metric + "_p50_s"] = (s["p50"], "s", "p50 of %d %s ops" % (s["n"], cls))
        if s["tail"] is None:
            out[metric + "_tail_s"] = (s["p50"], "s", "NO TAIL: %d %s ops support no "
                                       "percentile above p50; reads p50" % (s["n"], cls))
        else:
            out[metric + "_tail_s"] = (s["tail"], "s", "p%d of %d %s ops"
                                       % (s["tail_pct"], s["n"], cls))
    out["throughput_per_s"] = (raw["units"] / raw["timed_s"], "1/s",
                               "%d units in %.2f s" % (raw["units"], raw["timed_s"]))
    out["success_rate"] = ((raw["attempted"] - raw["failed"]) / raw["attempted"],
                           "ratio", "%d of %d ops matched the model"
                           % (raw["attempted"] - raw["failed"], raw["attempted"]))
    out["live_heap_mb"] = (raw["live_heap_mb"], "MB", "after full GC")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true")
    a = ap.parse_args()
    started = time.time()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
    except (OSError, ValueError) as e:
        fail("cannot read BENCHMARK.json: %s" % e, 2)
    if a.workload not in CLASSES:
        fail("unknown workload %r" % a.workload, 2)
    try:
        out_dir = build.build()
    except build.BuildError as e:
        fail("build failed: %s" % e, 2)
    if time.time() - started > 10:
        started = time.time()  # a fresh build: the run's own deadline starts now

    workdir = os.path.join(build.BUILD_DIR, "run-%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    cmd = build.jvm_command(out_dir, workdir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--plant", "1" if a.plant_wrong else "0"],
        build.archive_option(out_dir))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=workdir,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
        fail("timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(workdir, ignore_errors=True)

    lines = out.decode(errors="replace").splitlines()
    raw_line = [l for l in lines if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not raw_line:
        fail("JVM exited with code %d and no result" % proc.returncode)
    raw = json.loads(raw_line[-1][len("PERFBENCH "):])

    print("phases: session %.2f s, data %.2f s, warmup %.2f s%s, timed %.2f s "
          "(JIT compiling %.1f s of it)"
          % (raw["session_s"], raw["data_s"], raw["warm_s"],
             " (hit its cap before levelling off)" if raw["warm_capped"] else "",
             raw["timed_s"], raw["jit_s"]))
    correct = raw["failed"] == 0 and raw["warm_failures"] == 0 and not raw["problems"]
    for p in raw["problems"]:
        print("mismatch: %s" % p)
    if a.trace:
        layers = raw["layers"]
        metrics = {}
        for m in bench["per_layer"]:
            v = layers.get(m["name"], [0.0])[0]
            metrics[m["name"]] = {"value": finite(v), "unit": m["unit"]}
            print("%-44s %14.6g %s" % (m["name"], v, m["unit"]))
    else:
        e2e = end_to_end(raw, a.workload)
        metrics = {}
        for m in bench["end_to_end"]:
            v, unit, note = e2e[m["name"]]
            metrics[m["name"]] = {"value": finite(v), "unit": m["unit"]}
            print("%-24s %12.6g %-6s %s" % (m["name"], v, m["unit"], note))
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
