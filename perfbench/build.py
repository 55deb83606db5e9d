#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) together with the Scala compiler that ships in the
Spark jars, and generates the input tables. Both are cached under
perfbench/.work, the classes by a hash of the sources.

    python3 perfbench/build.py      # prints the classes and data directories

The Spark jars are those the sbt build uses (build.sbt's `unmanagedBase`),
or the directory SPARK_JARS_DIR names.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def _spark_jars_dir():
    if os.environ.get("SPARK_JARS_DIR"):
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars_dir()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no engine sources under src/main/scala; run from the repository root")
    return main + bench


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        fail(f"no Spark jars in '{SPARK_JARS}' (set SPARK_JARS_DIR)")
    return jars


def classes():
    """Compile engine + harness into a directory keyed by the source hash;
    returns the build directory (its classes are in `classes/`)."""
    srcs = sources()
    jars = spark_classpath()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(WORK, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(WORK, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    log(f"building {len(srcs)} sources")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(out, "classes"),
           "-classpath", ":".join(jars)] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(out, ".ok"), "w").close()
    log(f"built in {time.time() - t0:.1f} s")
    return out


def data():
    """The generated input tables (gen_data.py at spec.SF, spec.DATA_SEED)."""
    d = os.path.join(WORK, f"data-sf{spec.SF}-seed{spec.DATA_SEED}")
    if not os.path.exists(os.path.join(d, ".ok")):
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, spec.SF, spec.DATA_SEED)
        open(os.path.join(d, ".ok"), "w").close()
    return d


if __name__ == "__main__":
    print(os.path.join(classes(), "classes"))
    print(data())
