#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, from the checkout root.

    python3 perfbench/spread.py --workload search --seeds 1-10 [--run] [--out FILE]

With --run, first runs the workload once per seed (untraced, `run_seconds`
from BENCHMARK.json). Then reads each run's record under the build
directory and prints, per metric, the median, the quartiles
(statistics.quantiles, n=4), the spread (q3 - q1) / median and the metric's
bound, with the host stamps of every run. --out also writes it as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    seeds = seeds_of(a.seeds)
    if a.run:
        for s in seeds:
            subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                            "--trace", "0"], stdout=subprocess.DEVNULL, check=True)
    runs = []
    for s in seeds:
        with open(os.path.join(build_dir, "runs", f"{a.workload}-seed{s}-trace0.json")) as fh:
            r = json.load(fh)
        runs.append({"seed": s, "correct": r["result"]["correct"],
                     "attempted": r["result"]["attempted"], "failed": r["result"]["failed"],
                     "host": r["host"],
                     "metrics": {k: v["value"] for k, v in r["result"]["metrics"].items()}})
    summary = {}
    for m in bench["end_to_end"]:
        xs = [r["metrics"][m["name"]] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"], "values": xs}
        print(f"{m['name']:22s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}  "
              f"bound {m['bound']:.2f}")
    for r in runs:
        h = r["host"]
        print(f"seed {r['seed']}: correct {r['correct']} attempted {r['attempted']} "
              f"failed {r['failed']} load1 {h['load1_start']}->{h['load1_end']} "
              f"cpu/wall {h['cpu_per_wall']:.2f} steal {h.get('host_steal_s', -1):.1f}s")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "metrics": summary, "runs": runs}, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
