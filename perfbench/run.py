#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload vcf2db_load --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. It builds the program from source
(the repository's src/main together with the benchmark program under
perfbench/src, as the sbt project in perfbench/), generates the seeded
inputs (cached under .bench_build/inputs by seed and size), runs the
workload in one JVM at local[N] with N = the usable cores, checks every
operation's outputs against the generator's truth, and prints two JSON
lines: the machine-window record, then the result

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (perfbench/layers.json lists both, with the layer each
belongs to and the workloads it is measured on). The exit code is 0 only
when every operation's outputs were correct.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes (records x trio families for the cohorts, documents for
# the corpora). Part of the benchmark's definition: change them and the
# baseline must be measured again.
SIZES = {
    "load_cohort": (2000, 16),
    "load_warm": (1000, 16),
    "corpus": 1000,
    "corpus_warm": 200,
}
SETUPS = 3
HEAP = "3g"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def spark_jars():
    """The jar directory the program's own build.sbt compiles against."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    with open(build_sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail("no Spark jar directory (build.sbt unmanagedBase or $SPARK_HOME/jars)")
    return jars


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # dependencies come from the local caches only: the build never
    # reaches for a network repository
    env = dict(os.environ, GRAFT_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


def inputs(kind, seed, size):
    """Generated input directory for (kind, seed, size), made once."""
    tag = "x".join(map(str, size)) if isinstance(size, tuple) else str(size)
    out = os.path.join(BUILD, "inputs", "%s-s%d-%s" % (kind, seed, tag))
    if os.path.exists(os.path.join(out, ".done")):
        return out, 0.0
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    if kind == "cohort":
        gen.make_cohort(out, seed, *size)
    else:
        gen.make_corpus(out, seed, size)
    open(os.path.join(out, ".done"), "w").close()
    return out, time.time() - t0


def workload_inputs(workload, seed):
    # warm-up inputs use a derived seed, so they never equal the main input
    warm_seed = seed + 1000003
    if workload == "vcf2db_load":
        main, g1 = inputs("cohort", seed, SIZES["load_cohort"])
        warm, g2 = inputs("cohort", warm_seed, SIZES["load_warm"])
    else:
        main, g1 = inputs("corpus", seed, SIZES["corpus"])
        warm, g2 = inputs("corpus", warm_seed, SIZES["corpus_warm"])
    return main, warm, g1 + g2


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()

    with open(os.path.join(HERE, "layers.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        fail("unknown workload %r" % a.workload)
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("no program sources here (%s missing): run from a checkout" % p)

    cp = build()
    main_in, warm_in, gen_s = workload_inputs(a.workload, a.seed)
    log("inputs ready (generation %.1f s, not measured)" % gen_s)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d))
    cores = len(os.sched_getaffinity(0))
    result = os.path.join(work, "result.json")
    cmd = ["java"] + ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS] + [
        "-Xmx" + HEAP,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby", "derby.log"),
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--main", main_in, "--work", work, "--cores", str(cores),
        "--setups", str(SETUPS), "--result", result]
    if warm_in:
        cmd += ["--warm", warm_in]
    budget = RUN_TIMEOUT_S - (time.time() - t_start)
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, budget))
    except subprocess.TimeoutExpired:
        fail("workload did not finish in time")
    finally:
        # on a timeout, an interrupt or a SIGTERM the JVM goes too
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0 or not os.path.exists(result):
        fail("benchmark JVM exited with %d" % rc)
    with open(result) as f:
        out = json.load(f)

    wanted = spec["per_layer" if a.trace else "end_to_end"]
    names = [m["name"] for m in wanted]
    for m in wanted:
        if "on" in m and a.workload not in m["on"]:
            # this workload bypasses the layer: no work was done there
            out["metrics"].setdefault(m["name"], 0.0)
    missing = [n for n in names if n not in out["metrics"]]
    extra = [n for n in out["metrics"] if n not in names]
    if missing or extra:
        fail("metric set mismatch: missing %s, unexpected %s" % (missing, extra))
    units = {m["name"]: m["unit"] for m in wanted}
    window = dict(out["window"], generation_s=gen_s)
    print(json.dumps({"window": window}))
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {n: {"value": out["metrics"][n], "unit": units[n]} for n in names},
    }))
    sys.stdout.flush()
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
