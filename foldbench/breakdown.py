#!/usr/bin/env python3
"""Write the per-layer breakdown table (BREAKDOWN.md's tables).

    python3 foldbench/breakdown.py --seed 1 --cores 4 > b4.md
    python3 foldbench/breakdown.py --seed 1 --cores 1 --no-untraced > b1.md

For each workload it runs the benchmark once traced (`--trace 1`) and, unless
told not to, once untraced, for BENCHMARK.json's `run_seconds`, then prints
markdown: every per-layer metric, each module's self time per trigger, and
the tracing overhead (the traced end-to-end trigger latency minus the
untraced one).
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# module -> per-layer metrics whose sum is its self time in one trigger
SELF_TIME = {
    "streaming": ["streaming.engine_overhead_s", "streaming.partial_read_s",
                  "streaming.store_write_s"],
    "ingest": ["ingest.strict_scan_s", "ingest.driver_gap_s"],
    "temporal": ["temporal.epoch_label_s", "temporal.epoch_scan_s"],
    "state": ["state.merge_s", "state.changes_checkpoint_s"],
    "graph": ["graph.cascade_s"],
}


def bench(workload, seed, seconds, trace, cores):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                        "--cores", str(cores)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit("run failed:\n" + p.stderr[-3000:])
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    ap.add_argument("--no-untraced", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    runs = {}
    for w in gen.WORKLOADS:
        traced = bench(w, args.seed, seconds, 1, args.cores)
        plain = None if args.no_untraced else bench(w, args.seed, seconds, 0, args.cores)
        runs[w] = (traced, plain)
    names = list(gen.WORKLOADS)
    print("local[%d], seed %d, --seconds %d\n" % (args.cores, args.seed, seconds))
    print("| metric | unit | " + " | ".join(names) + " |")
    print("| --- | --- | " + " | ".join("---:" for _ in names) + " |")
    for k, v in runs[names[0]][0].items():
        print("| `%s` | %s | %s |" % (k, v["unit"], " | ".join(
            "%.4g" % runs[w][0][k]["value"] for w in names)))
    print("\nSelf time per trigger (s), summed from the layers above:\n")
    print("| module | " + " | ".join(names) + " |")
    print("| --- | " + " | ".join("---:" for _ in names) + " |")
    for mod, keys in SELF_TIME.items():
        print("| %s | %s |" % (mod, " | ".join(
            "%.3f" % sum(runs[w][0][k]["value"] for k in keys) for w in names)))
    if not args.no_untraced:
        print("\nTracing overhead on `trigger_p50_s` (traced minus untraced, same seed):\n")
        for w in names:
            t = runs[w][0]["trace.trigger_p50_s"]["value"]
            u = runs[w][1]["trigger_p50_s"]["value"]
            print("- %s: %.3f s traced, %.3f s untraced, overhead %+.3f s (%+.1f%%)"
                  % (w, t, u, t - u, 100 * (t - u) / u))


if __name__ == "__main__":
    main()
