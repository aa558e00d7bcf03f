"""End-to-end benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload purl_lookup --seed 1 \\
        --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the benchmark driver (perfbench/src) with the Scala compiler that ships in
$SPARK_HOME/jars into .bench_build/; later runs reuse the build while the
sources are unchanged.
Inputs are generated from the seed into .bench_build/ (perfbench/gen.py).
The driver runs the workload in one JVM with Spark as local[<cores>],
and this script checks its outputs against the generator's expected
answers, prints a report line, and prints the result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 records spans and
Spark counters and reports the per-layer metrics instead (see README.md).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout's perfbench/ as it is

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(".bench_build", "perfbench")
JAVA_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 800
# Set-ups per run; set-up time is their median. purl_lookup sets up once:
# its set-up is the advisory ETL, and a repeat in the same JVM would time a
# warm ETL that no operator runs.
SETUPS = {"purl_lookup": 1, "curation_stream": 3}
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Fixed-work host canary, read before and after every run. The reference
# pair is the median of 30 readings on a 4-vCPU Intel Xeon VM; a reading
# more than WINDOW_TOLERANCE away from it, or before and after disagreeing
# by as much, marks the run's window as suspect.
CANARY_REF = {"cpu_ms": 219.0, "io_ms": 34.0}
WINDOW_TOLERANCE = 1.3


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark jars: set SPARK_HOME to a Spark 4.1 installation")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the root "
             "of a checkout")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "**",
                                                  "*.scala"), recursive=True))


def build():
    """Compile engine + driver once per source state; returns classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "classes-" + stamp)
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-",
                                 "scala-reflect-"))]
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(os.path.abspath(p) for p in srcs) + "\n")
    # scalac does not expand a classpath wildcard, so list the jars
    classpath = os.pathsep.join(sorted(glob.glob(os.path.join(jars,
                                                              "*.jar"))))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath,
           "-d", tmp, "@" + args_file]
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                            timeout=COMPILE_TIMEOUT_S).returncode
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("compile failed")
    os.rename(tmp, classes)
    return classes


def inputs(workload, seed):
    """Generate (once per seed and generator version) the workload's
    inputs; returns their directory."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "data", "{}-{}-{}".format(workload, seed, version))
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, d)
    return d


def canary(scratch):
    """Fixed CPU work (hashing) and IO work (write, fsync, read back)."""
    block = hashlib.sha256(b"perfbench").digest() * (1 << 15)  # 1 MiB
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(256):
        h.update(block)
    cpu = (time.perf_counter() - t0) * 1e3
    path = os.path.join(scratch, "canary.bin")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(32):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    with open(path, "rb") as f:
        while f.read(1 << 20):
            pass
    io = (time.perf_counter() - t0) * 1e3
    os.remove(path)
    return {"cpu_ms": round(cpu, 3), "io_ms": round(io, 3)}


def suspect(before, after):
    def off(a, b):
        return a / b > WINDOW_TOLERANCE or b / a > WINDOW_TOLERANCE
    return any(off(before[k], after[k]) or off(before[k], CANARY_REF[k])
               or off(after[k], CANARY_REF[k]) for k in CANARY_REF)


def run_java(classes, args):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xmx" + HEAP,
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS
              for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, "src/main/resources",
                                      os.path.join(spark_jars(), "*")]),
              "graft.perfbench.Main"] + args)
    log = os.path.join(args[args.index("--out") + 1], "driver.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("driver timed out after {} s".format(JAVA_TIMEOUT_S))
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("driver exited with {}".format(rc))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    data = inputs(a.workload, a.seed)
    with open(os.path.join(data, "expected.json")) as f:
        expected = json.load(f)
    out = os.path.abspath(os.path.join(
        BUILD, "run", "{}-{}-{}".format(a.workload, a.seed, a.trace)))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    before = canary(out)
    run_java(classes, ["--workload", a.workload,
                       "--data", os.path.abspath(data), "--out", out,
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--cpus", str(os.cpu_count()),
                       "--setups", str(SETUPS[a.workload])])
    after = canary(out)
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    attempted, failures = checks.check(a.workload, result, expected)
    ops = checks.timed(result)
    ms = [o["ms"] for o in ops]
    tail = stats.tail(ms)
    e2e = {
        "setup_s": (stats.median(result["setup_s"]), "s"),
        "op_p50_ms": (stats.mix_median([o["kind"] for o in ops], ms), "ms"),
        "ops_per_s": (len(ops) / result["loop_s"], "1/s"),
    }
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "ops": len(ops),
        "warm_up_ms": [o["ms"] for o in result["ops"] if o["warm_up"]],
        "op_tail": None if tail is None else
        {"p": tail[0], "ms": tail[1], "n": len(ms)},
        "setup_runs_s": result["setup_s"],
        "cached_mb_left": result["cached_mb_left"],
        "failed_frac": len(failures) / attempted,
        "failures": failures[:20],
        "canary_before": before, "canary_after": after,
        "window_suspect": suspect(before, after),
    }
    report.update(checks.named_metrics(a.workload, result, expected, e2e))
    if a.trace:
        metrics, trace = layers.per_layer(a.workload, result)
        with open(os.path.join(BUILD, "trace-{}-{}.json".format(
                a.workload, a.seed)), "w") as f:
            json.dump(trace, f)
    else:
        metrics = e2e
    print("perfbench report: " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
