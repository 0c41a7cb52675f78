"""Run-to-run spread of the end-to-end metrics, as the acceptance check
computes it: run one workload once per seed, then report per metric the
median and the distance between the first and third quartile as a share
of the median, next to the metric's bound. Each run's share of CPU time
stolen by the hypervisor (from /proc/stat, where there is one) is printed
and logged with it: on a shared virtual machine it explains runs that are
slower on every metric at once.

    python3 perfbench/steadiness.py --workload catalog_report --seeds 1-10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def cpu_ticks():
    """(steal, total) CPU ticks since boot, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (xs[7] if len(xs) > 7 else 0), sum(xs)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", help="append every run's result line to this file")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seeds(a.seeds):
        t0, c0 = time.time(), cpu_ticks()
        p = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        c1 = cpu_ticks()
        steal = (c1[0] - c0[0]) / max(c1[1] - c0[1], 1) if c0 and c1 else None
        last = p.stdout.decode().strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0:
            sys.exit("seed %d failed (code %d): %s" % (s, p.returncode, last[:300]))
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, "wall_s": time.time() - t0,
                                    "cpu_steal": steal, "result": json.loads(last)}) + "\n")
        for k, v in json.loads(last)["metrics"].items():
            values[k].append(v["value"])
        print("seed %d done%s" % (s, "" if steal is None else ", cpu steal %.1f%%" % (100 * steal)),
              file=sys.stderr)
    print("%-24s %12s %8s %8s" % ("metric", "median", "spread", "bound"))
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
        spread = (q[2] - q[0]) / med if med else 0.0
        flag = "" if spread < m["bound"] / 3 or m["name"] == "setup_s" else "  > bound/3"
        print("%-24s %12.6g %8.3f %8.2f%s" % (m["name"], med, spread, m["bound"], flag))


if __name__ == "__main__":
    main()
