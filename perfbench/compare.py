#!/usr/bin/env python3
"""Compare sets of benchmark runs.

    python3 perfbench/compare.py spread SET
    python3 perfbench/compare.py compare PARENT_SET CHANGE_SET [--json]

A set is a directory of run records (the files run.py keeps in
perfbench/.work/results, or what sweep.py collects). `spread` reports, per
workload and end-to-end metric, the median, quartiles and quartile spread
against the metric's bound. `compare` reports both sides' medians and
quartiles, the share of run pairs (i-th parent run vs i-th change run, in
run order) the change won, and a verdict against the bound: improved, no
worse, worse, or unresolved when a side's spread exceeds the bound. Traced
runs add per-layer medians, with deterministic counters kept apart from
times.
"""

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spec  # noqa: E402
import stats  # noqa: E402

E2E = {n: (u, b, bound) for n, u, b, bound in spec.END_TO_END + spec.WALL}
GATED = {n for n, _, _, _ in spec.END_TO_END}
LAYERS = {n: (u, b) for n, u, b in spec.PER_LAYER}


def load(path):
    """Run records of a set, grouped by (workload, trace), in run order."""
    files = sorted(glob.glob(os.path.join(path, "*.json")) if os.path.isdir(path) else [path])
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "result" not in r:
            continue
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    for xs in runs.values():
        xs.sort(key=lambda r: r.get("finished_at", 0))
    return runs


def values(runs, name):
    """A metric's values over runs: untraced runs keep every end-to-end
    figure, gated or not, under "e2e"; traced ones report the per-layer set."""
    out = []
    for r in runs:
        m = r["e2e"] if not r["trace"] else {
            k: v["value"] for k, v in r["result"]["metrics"].items()}
        if name in m:
            out.append(m[name])
    return out


def verdict(a, b, better, bound):
    """Verdict of change values b against parent values a (section 8 rule:
    a gain needs >= 90% of pairs won and a median gap wider than the
    parent's own quartile spread)."""
    if not a or not b:
        return "missing", 0.0
    sign = 1 if better == "lower" else -1
    pairs = list(zip(a, b))
    won = sum(1 for x, y in pairs if sign * (y - x) < 0)
    frac = won / len(pairs) if pairs else 0.0
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    worse_by = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if frac >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]) and worse_by < 0:
        return "improved", frac
    if (stats.spread(a) > bound or stats.spread(b) > bound) and not all_better:
        return "unresolved", frac
    return ("worse" if worse_by > bound else "no worse"), frac


def spread_report(path):
    ok = True
    for (workload, trace), runs in sorted(load(path).items()):
        if trace:
            continue
        print(f"{workload}: {len(runs)} runs")
        for name, (unit, _, bound) in E2E.items():
            xs = values(runs, name)
            if not xs:
                continue
            q1, q2, q3 = stats.quartiles(xs)
            s = stats.spread(xs)
            flag = ("ok" if s <= bound / 3 else "within bound" if s <= bound else "TOO WIDE")
            if name in GATED and s > bound:
                ok = False
            print(f"  {name:<18} median {q2:12.3f} {unit:<4} q1 {q1:12.3f} q3 {q3:12.3f} "
                  f"spread {s:6.3f} bound {bound:.2f} {flag if name in GATED else '(not gated)'}")
    return ok


def compare_report(parent, change, as_json):
    pa, ch = load(parent), load(change)
    out = {"e2e": [], "layers": []}
    for key in sorted(set(pa) | set(ch)):
        workload, trace = key
        a_runs, b_runs = pa.get(key, []), ch.get(key, [])
        if not trace:
            for name, (unit, better, bound) in E2E.items():
                a, b = values(a_runs, name), values(b_runs, name)
                v, frac = verdict(a, b, better, bound)
                out["e2e"].append({
                    "workload": workload, "metric": name, "unit": unit, "bound": bound,
                    "parent": stats.quartiles(a) if a else None,
                    "change": stats.quartiles(b) if b else None,
                    "pairs": min(len(a), len(b)), "won_frac": frac, "verdict": v})
        else:
            for name, (unit, _) in LAYERS.items():
                a, b = values(a_runs, name), values(b_runs, name)
                if not a or not b:
                    continue
                ma, mb = stats.quartiles(a)[1], stats.quartiles(b)[1]
                out["layers"].append({
                    "workload": workload, "metric": name, "unit": unit,
                    "kind": "counter" if spec.is_counter(name) else "time",
                    "parent": ma, "change": mb, "diff": mb - ma})
    if as_json:
        print(json.dumps(out, indent=1))
        return
    print("end to end (median [q1, q3]; pairs won by the change)")
    for r in out["e2e"]:
        fmt = (lambda q: f"{q[1]:.3f} [{q[0]:.3f}, {q[2]:.3f}]" if q else "-")
        print(f"  {r['workload']:<10} {r['metric']:<18} parent {fmt(r['parent']):<34} "
              f"change {fmt(r['change']):<34} won {r['won_frac']:.2f} of {r['pairs']}  "
              f"{r['verdict']} (bound {r['bound']:.2f}"
              f"{'' if r['metric'] in GATED else ', not gated'})")
    for kind in ("counter", "time"):
        rows = [r for r in out["layers"] if r["kind"] == kind and r["diff"] != 0]
        if rows:
            print(f"per layer, {kind}s that moved (traced medians)")
            for r in rows:
                print(f"  {r['workload']:<10} {r['metric']:<30} {r['parent']:14.3f} -> "
                      f"{r['change']:14.3f} {r['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("set")
    c = sub.add_parser("compare")
    c.add_argument("parent")
    c.add_argument("change")
    c.add_argument("--json", action="store_true")
    a = ap.parse_args()
    if a.cmd == "spread":
        sys.exit(0 if spread_report(a.set) else 1)
    compare_report(a.parent, a.change, a.json)


if __name__ == "__main__":
    main()
