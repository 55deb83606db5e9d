#!/usr/bin/env python3
"""Run the benchmark over several seeds and collect the run records.

    python3 perfbench/sweep.py --workloads catalog,live \\
        --seeds 1-10 --out DIR [--against OTHER_CHECKOUT --other-out DIR2] [--trace]

Each run goes through run.py exactly as a single run would. With
--against, every seed runs in both checkouts, alternating which goes
first, so that `compare.py compare DIR2 DIR` sees interleaved pairs.
"""

import argparse
import glob
import os
import shutil
import subprocess
import sys


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, trace, out_dir):
    results = os.path.join(checkout, "perfbench", ".work", "results")
    before = set(glob.glob(os.path.join(results, "*.json")))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    print(f"{os.path.basename(os.path.abspath(checkout))} {workload} seed {seed} "
          f"trace {trace}: exit {r.returncode} {last}", flush=True)
    os.makedirs(out_dir, exist_ok=True)
    for f in sorted(set(glob.glob(os.path.join(results, "*.json"))) - before):
        shutil.copy(f, out_dir)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default="catalog,live")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--against")
    ap.add_argument("--other-out")
    ap.add_argument("--trace", action="store_true", help="traced runs instead of untraced")
    a = ap.parse_args()
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    trace = 1 if a.trace else 0
    for w in a.workloads.split(","):
        for i, s in enumerate(seeds(a.seeds)):
            sides = [(here, a.out)]
            if a.against:
                sides.append((a.against, a.other_out or a.out + "-other"))
                if i % 2:
                    sides.reverse()
            for checkout, out in sides:
                run_one(checkout, w, s, trace, out)


if __name__ == "__main__":
    main()
