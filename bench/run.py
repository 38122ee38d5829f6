#!/usr/bin/env python3
"""Run one graft benchmark workload, or all of them.

    python3 bench/run.py --workload registry_serve --seed 1 --seconds 10 --trace 0
    python3 bench/run.py --all --seed 1 --seconds 10

One run builds the benchmark package (bench/build.sbt: graft's main
sources plus the benchmark code under bench/src) when its sources changed,
starts one JVM with a run-scoped directory for generated data, fold
state, the Spark warehouse and temp files, and removes that directory
when the JVM exits. The JVM prints human tables on stderr; the last
line of stdout is the result object
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).

--all runs every workload untraced and traced with one seed, prints
the 14 named end-to-end metrics for each workload and the
tracing overhead, and exits non-zero if any correctness check failed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
RESULTS = os.path.join(BENCH, "results")
WORKLOADS = ["registry_serve", "corpus_dedup", "corpus_ingest"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home, os.path.join(home, "jars")


def source_stamp():
    h = hashlib.sha256()
    roots = [GRAFT_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(spark_home):
    """Compile the benchmark package unless its sources are unchanged."""
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home)
    r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def run_one(workload, seed, seconds, trace):
    """Run one workload in its own JVM; return the parsed result object."""
    spark_home, jars = spark_jars()
    build(spark_home)
    run_dir = os.path.join(BENCH, ".run", f"{os.getpid()}-{workload}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData",  # no hsperfdata file outside the run dir
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--run-dir", run_dir, "--out-dir", RESULTS]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=sys.stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} did not finish in {RUN_TIMEOUT_S}s", 1)
    finally:
        # also on SIGTERM/SIGINT: stop the JVM's whole process group and
        # wait for it before removing what it wrote
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, ".run"))
        except OSError:
            pass
    lines = [l for l in out.decode().splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{workload} exited with {proc.returncode}", 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"{workload} printed no result", 1)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload} printed a malformed result", 1)
    return result


def run_all(seed, seconds):
    ok = True
    records = {}
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run_one(w, seed, seconds, trace)
            ok = ok and r["correct"]
            path = os.path.join(RESULTS, f"{w}-seed{seed}-trace{trace}.json")
            with open(path) as fh:
                records[(w, trace)] = json.load(fh)
    print(f"\n== end-to-end metrics, seed {seed}, {seconds}s per run")
    print(f"{'metric':<20} {'unit':<17}" + "".join(f"{w:>16}" for w in WORKLOADS))
    for m, spec in records[(WORKLOADS[0], 0)]["named"].items():
        row = f"{m:<20} {spec['unit']:<17}"
        for w in WORKLOADS:
            v = records[(w, 0)]["named"][m]["value"]
            row += f"{v:>16.4g}" if v is not None else f"{'n/a':>16}"
        print(row)
    print("\n== tracing overhead (traced vs untraced work_per_s)")
    for w in WORKLOADS:
        a = records[(w, 0)]["metrics"]["work_per_s"]["value"]
        b = records[(w, 1)]["metrics"]["work_per_s"]["value"]
        print(f"{w:<16} untraced {a:.4g}/s traced {b:.4g}/s "
              f"overhead {100.0 * (a - b) / a:+.1f}%")
    print("\n== per-layer self time (traced runs, ms)")
    for w in WORKLOADS:
        t = records[(w, 1)]["layer_self_ms"]
        print(f"{w:<16} " + ", ".join(
            f"{l}={v['self_ms']:.0f}" for l, v in sorted(
                t.items(), key=lambda kv: -kv[1]["self_ms"])))
    print("\n== per-layer metrics (traced runs)")
    layers = list(records[(WORKLOADS[0], 1)]["per_layer"])
    print(f"{'metric':<40}" + "".join(f"{w:>16}" for w in WORKLOADS))
    for m in layers:
        print(f"{m:<40}" + "".join(
            f"{records[(w, 1)]['per_layer'][m]['value']:>16.4g}" for w in WORKLOADS))
    if not ok:
        print("correctness check FAILED", file=sys.stderr)
        sys.exit(1)


def main():
    # turn SIGTERM into an exception so run_one's cleanup runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {os.path.relpath(GRAFT_SRC, os.getcwd())}")
    if a.all:
        run_all(a.seed, a.seconds)
    elif a.workload:
        print(json.dumps(run_one(a.workload, a.seed, a.seconds, a.trace)))
    else:
        fail("give --workload or --all")


if __name__ == "__main__":
    main()
