#!/usr/bin/env python3
"""graft performance benchmark: one workload, one fresh JVM.

    python3 perfbench/run.py --workload catalog|live \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark harness from source and generates the input tables (build.py,
cached under perfbench/.work). Each run then starts one plain `java` process on local[cpus],
measures the workload for --seconds, checks every output against the
committed digests, prints a readable summary and, as its last stdout line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The full record of each run is kept in perfbench/.work/results.

Other modes:
    --selftest          the harness's own JVM-side checks
    --write-digests     recompute perfbench/digests.json (all entries, routes)
    --digests-of DIR    compare a graft.Verify dump's digests with digests.json
    --write-spec        write BENCHMARK.json from spec.py
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import spec  # noqa: E402
import stats  # noqa: E402
from build import ROOT, SPARK_JARS, WORK, fail, log  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# ---- preflight -------------------------------------------------------------

def other_jvms():
    """Pids of java processes other than this one's children."""
    found = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                argv0 = f.read().split(b"\0")[0].decode(errors="replace")
        except OSError:
            continue
        if os.path.basename(argv0) == "java":
            found.append(int(os.path.basename(d)))
    return found


def preflight():
    deadline = time.time() + 60
    while other_jvms():
        if time.time() > deadline:
            fail(f"another JVM is running (pids {other_jvms()}); refusing to measure", 3)
        time.sleep(1)


def busy_cpu_s():
    """CPU seconds all processes on the box have used (from /proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (sum(v[:8]) - v[3] - v[4]) / os.sysconf("SC_CLK_TCK")


def children_cpu_s():
    t = os.times()
    return t.children_user + t.children_system


def box():
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": list(os.getloadavg()),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "xmx": spec.XMX,
    }


# ---- one JVM ---------------------------------------------------------------

def run_jvm(build_dir, args, tag, timeout_s=JVM_TIMEOUT_S):
    """Run graftbench.Main in a fresh JVM; returns its record."""
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", f"-Xmx{spec.XMX}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", os.path.join(build_dir, "classes") + ":" + os.path.join(SPARK_JARS, "*"),
              "graftbench.Main", "--work", run_dir, "--out", out] + args)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["SPARK_LOCAL_DIRS"] = tmp
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish within {timeout_s} s (log: {run_dir}/jvm.log)", 4)
    shutil.rmtree(tmp, ignore_errors=True)
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"JVM exited with {p.returncode} (log: {run_dir}/jvm.log)", 4)
    with open(out) as f:
        return json.load(f), run_dir


# ---- metrics and checks ----------------------------------------------------

def committed_digests():
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)


def check(rec, ops):
    """Mark ops whose outputs disagree with the committed digests; returns
    the list of problems (empty when every check passes) and the digest
    checks of entries that are not ops, as (attempted, failed)."""
    want = committed_digests()
    problems = list(rec.get("errors", []))
    bad_names = set()
    for name, got in rec.get("digests", {}).items():
        if want["entries"].get(name) != got:
            problems.append(f"digest {name}: {got} != {want['entries'].get(name)}")
            bad_names.add(name)
    for route, got in rec.get("route_digests", {}).items():
        if got != [want["routes"].get(route)]:
            problems.append(f"route body {route}: {got} != {want['routes'].get(route)}")
            bad_names.add(route)
    for op in ops:
        if op["name"] in bad_names:
            op["ok"] = False
    op_names = {op["name"] for op in ops}
    extra = [n for n in rec.get("digests", {}) if n not in op_names]
    extra_failed = sum(1 for n in extra if n in bad_names)
    if "sse" in rec and not rec["sse"]["ok"]:
        problems.append(f"sse: {rec['sse']}")
    for k in ("ingest_saturated", "ingest_paced"):
        if k in rec and not rec[k]["exact"]:
            problems.append(f"{k} accounting: {rec[k]}")
    if rec.get("codegen_fallbacks", 0):
        problems.append(f"codegen fallbacks: {rec['codegen_fallbacks']}")
    if rec.get("resident_rdds", 0):
        problems.append(f"resident RDDs at exit: {rec['resident_rdds']}")
    if not ops:
        problems.append("no operation completed")
    return problems, (len(extra), extra_failed)


def end_to_end(rec, ops):
    lat = stats.latencies(ops)
    return {
        "setup_s": rec["setup_s"],
        "setup_wall_s": rec["setup_wall_s"],
        "lat_p50_ms": stats.percentile(lat, 50),
        "throughput_per_s": rec.get("throughput_per_s", 0.0),
        "cpu_ms_per_op": rec.get("cpu_ms_per_op", 0.0),
    }


def per_layer(rec):
    layers = dict(rec.get("layers", {}))
    for k, v in rec.get("setup", {}).items():
        layers[f"setup.{k}"] = v
    return {n: float(layers.get(n) or 0.0) for n, _, _ in spec.PER_LAYER}


def finite(x):
    """JSON has no infinity or NaN: a percentile that lands on a failed op
    reads 1e9, and a figure an aborted run never measured reads 0."""
    if x is None or x != x:
        return 0.0
    return 1e9 if x == stats.INF else x


def summary(workload, rec, ops, e2e, fail_frac):
    """The workload's headline figures by name and unit, for people reading the log."""
    lat = stats.latencies(ops)
    n = len(lat)
    tail = stats.highest_supported(n)
    lines = [f"workload {workload}: {n} ops, tail percentile with >=10 samples beyond: "
             f"{'p%d' % tail if tail else 'none'}"]
    show = {n: (e2e[n], u) for n, u, _, _ in spec.END_TO_END + spec.WALL}
    show.update({"peak_rss_mb": (rec["peak_rss_mb"], "MB"),
                 "fail_frac": (fail_frac, "ratio")})
    if workload == "catalog":
        show.update(catalog_s=(rec["catalog_s"], "s"),
                    entry_p50_ms=(stats.percentile(lat, 50), "ms"),
                    entry_p90_ms=(stats.percentile(lat, 90), "ms"))
    elif workload == "live":
        fresh = rec.get("fresh_ms", [])
        opened = rec.get("open_loop", [])
        live = stats.latencies([op for op in opened if op["name"].startswith("/api/live/")])
        show.update(serial_req_p50_ms=(stats.percentile(lat, 50), "ms"),
                    req_p50_ms=(stats.percentile(stats.latencies(opened), 50), "ms"),
                    req_p95_ms=(stats.percentile(stats.latencies(opened), 95), "ms"),
                    req_limit_2000ms_misses=(stats.limit_misses(opened, 2000), "count"),
                    ingest_max_eps=(rec["ingest_max_eps"], "ev/s"),
                    fresh_p50_ms=(stats.percentile(fresh, 50), "ms"),
                    fresh_p90_ms=(stats.percentile(fresh, 90), "ms"),
                    live_req_p90_ms=(stats.percentile(live, 90), "ms"))
    for k, (v, u) in show.items():
        lines.append(f"  {k:<26} {v:>14.3f} {u}")
    return "\n".join(lines)


def measure(a):
    preflight()
    b = build.classes()
    d = build.data()
    info = box()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", d,
            "--entries", ",".join(spec.CATALOG_PANEL),
            "--check-slices", str(spec.CHECK_SLICES),
            "--rate", str(spec.LIVE_RATE),
            "--paced-rows", str(spec.LIVE_PACED_ROWS)]
    busy0, own0 = busy_cpu_s(), children_cpu_s()
    rec, run_dir = run_jvm(b, args, f"{a.workload}-s{a.seed}-t{a.trace}")
    info["loadavg_end"] = list(os.getloadavg())
    # CPU time other processes took while the JVM ran: contention from outside
    info["other_cpu_s"] = busy_cpu_s() - busy0 - (children_cpu_s() - own0)
    info["jvm"] = rec.get("jvm")
    ops = rec["ops"]
    problems, (checked, check_failed) = check(rec, ops)
    e2e = end_to_end(rec, ops)
    failed = sum(1 for op in ops if not op["ok"]) + check_failed
    correct = not problems and failed == 0
    build_id = os.path.basename(b)
    metrics = (per_layer(rec) if a.trace
               else {n: e2e[n] for n, _, _, _ in spec.END_TO_END})
    units = ({n: u for n, u, _ in spec.PER_LAYER} if a.trace
             else {n: u for n, u, _, _ in spec.END_TO_END})
    result = {"correct": correct, "attempted": max(1, len(ops) + checked), "failed": failed,
              "metrics": {k: {"value": finite(v), "unit": units[k]} for k, v in metrics.items()}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "finished_at": time.time(), "build": build_id, "box": info,
              "e2e": {k: finite(v) for k, v in e2e.items()},
              "problems": problems, "result": result, "record": rec}
    with open(os.path.join(WORK, "results",
                           f"{a.workload}-s{a.seed}-{int(time.time())}-trace{a.trace}.json"),
              "w") as f:
        json.dump(detail, f)
    print(summary(a.workload, rec, ops, e2e, failed / result["attempted"]))
    if checked:
        print(f"  untimed digest checks of other entries: {checked - check_failed} of "
              f"{checked} match ({', '.join(rec.get('checked', []))})")
    for p in problems:
        print(f"  CHECK FAILED: {p}")
    print(json.dumps(result))


def write_digests():
    preflight()
    rec, _ = run_jvm(build.classes(), ["--workload", "digests", "--data", build.data()],
                     "digests", 1200)
    if rec["errors"]:
        fail("digest run had errors: " + "; ".join(rec["errors"]))
    body = {"data": {"sf": spec.SF, "data_seed": spec.DATA_SEED},
            "entries": rec["digests"],
            "routes": {r: v[0] for r, v in rec["route_digests"].items()},
            "entry_ms": rec["entry_ms"]}
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(body, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(body['entries'])} entry digests, {len(body['routes'])} route digests")


def digests_of(verify_dir):
    """Compare the digests of a correctness dump (graft.Verify's output: one
    parquet directory per entry) with the committed ones."""
    preflight()
    rec, _ = run_jvm(build.classes(), ["--workload", "digests-of", "--from",
                                       os.path.abspath(verify_dir), "--data", build.data()],
                     "digests-of", 1200)
    want = committed_digests()["entries"]
    bad = [n for n, d in rec["digests"].items() if want.get(n) != d]
    missing = sorted(set(want) - set(rec["digests"]))
    for n in bad:
        print(f"MISMATCH {n}: dump {rec['digests'][n]} committed {want.get(n)}")
    for n in missing:
        print(f"MISSING {n}")
    print(f"{len(rec['digests']) - len(bad)} of {len(want)} committed digests match the dump")
    sys.exit(1 if bad or missing or rec["errors"] else 0)


def selftest():
    preflight()
    b = build.classes()
    os.makedirs(os.path.join(WORK, "selftest"), exist_ok=True)
    cmd = (["java", "-Xmx1g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.path.join(b, "classes") + ":" + os.path.join(SPARK_JARS, "*"),
              "graftbench.Main", "--workload", "selftest",
              "--entries", ",".join(spec.CATALOG_PANEL),
              "--check-slices", str(spec.CHECK_SLICES),
              "--work", os.path.join(WORK, "selftest")])
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=JVM_TIMEOUT_S, cwd=os.path.join(WORK, "selftest"))
    out = json.loads(r.stdout.strip().splitlines()[-1])
    for f in out["failures"]:
        print(f"FAIL {f}")
    print("selftest ok" if not out["failures"] else "selftest failed")
    sys.exit(1 if out["failures"] else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=[n for n, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-digests", action="store_true")
    ap.add_argument("--write-spec", action="store_true")
    ap.add_argument("--digests-of", metavar="VERIFY_DIR")
    a = ap.parse_args()
    if a.write_spec:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        return
    if a.selftest:
        return selftest()
    if a.write_digests:
        return write_digests()
    if a.digests_of:
        return digests_of(a.digests_of)
    if not a.workload:
        ap.error("--workload is required")
    measure(a)


if __name__ == "__main__":
    main()
