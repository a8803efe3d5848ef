#!/usr/bin/env python3
"""Benchmark runner for spark-graft.

Usage (from the repository root):

    python3 perfbench/run.py --workload segment_stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --pin            # re-derive the catalogue digests

Builds the library (src/main/scala) together with the harness
(perfbench/src) with the Scala compiler that ships in the Spark
distribution, then runs one workload in a fresh JVM and prints one JSON
object as the last line of standard output.  Everything the run writes
(classes, scratch tables, trace files) stays under the build directory
($CARGO_TARGET_DIR, default .bench_build) of the checkout.
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


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME: no Spark jar directory found in build.sbt")
    return m.group(1)


SCALA = "2.13.17"
WORKLOADS = ("segment_stream", "query_catalog")
RUN_LIMIT_S = 175  # the whole run, build excluded, must end before this
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:+UseG1GC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_root():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {lib}; run from a full checkout")
    out = []
    for top in (lib, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(srcs, jars):
    """Compile library + harness once per source state; returns classes dir."""
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    root = build_root()
    classes = os.path.join(root, "classes")
    stamp_file = os.path.join(root, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA}.jar")
                               for n in ("compiler", "library", "reflect"))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classpath, main, work, args, deadline, log_path):
    """Runs a JVM whose scratch files all land under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, cwd=ROOT)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def load(path):
    with open(path) as f:
        return json.load(f)


def detail(result_path):
    return result_path[:-len(".json")] + "-detail.json"


def run_workload(classpath, a, name, trace, work, out_dir, started):
    """One JVM run of a workload; returns its result file."""
    tag = f"{name}-seed{a.seed}-trace{trace}"
    result = os.path.join(out_dir, f"{tag}.json")
    log = os.path.join(out_dir, f"{tag}.log")
    if os.path.exists(result):
        os.remove(result)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jargs = ["--workload", name, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(trace),
             "--cores", str(len(os.sched_getaffinity(0))),
             "--work", work, "--result", result,
             "--trace-file", os.path.join(out_dir, f"{tag}-spans.json"),
             "--catalog", os.path.join(HERE, "catalog")]
    rc = run_jvm(classpath, "perfbench.Main", work, jargs, started + RUN_LIMIT_S, log)
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(tail(log))
        fail(f"{name} run failed (exit {rc}); log: {log}")
    return result


def mean_s(ops):
    return sum(o["s"] for o in ops) / len(ops)


def compare(plain, traced):
    """Per-layer metrics that set the traced run against the untraced one:
    the tracing overhead per operation and, for the stream, the n-core over
    1-core speedup."""
    timed = lambda d: [o for o in d["ops"] if o["ok"] and o["name"] != "cycle_1core"]
    p, t = timed(plain), [o for o in timed(traced) if o["traced"]]
    if not p or not t:
        fail("no successful operation to compare traced with untraced")
    over = mean_s(t) - mean_s(p)
    out = {"trace.overhead_s": {"value": over, "unit": "s"},
           "trace.overhead_share": {"value": over / mean_s(p), "unit": "ratio"}}
    one = [o for o in traced["ops"] if o["ok"] and o["name"] == "cycle_1core"]
    n_core = [o for o in p if o["name"] == "cycle"][:len(one)]
    rate = lambda ops: sum(o["events"] for o in ops) / sum(o["s"] for o in ops)
    speedup = rate(n_core) / rate(one) if one else 0.0
    out["spark.parallel_speedup"] = {"value": speedup, "unit": "ratio"}
    return out


def check_names(res, trace):
    """The metrics printed must be exactly the ones BENCHMARK.json lists."""
    spec = load(os.path.join(ROOT, "BENCHMARK.json"))
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    got = list(res["metrics"])
    if sorted(got) != sorted(want):
        fail(f"metrics {sorted(set(got) ^ set(want))} differ from BENCHMARK.json")
    res["metrics"] = {k: res["metrics"][k] for k in want}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.pin or a.workload):
        fail("one of --workload, --selftest, --pin is required")

    srcs = sources()  # fails outside a full checkout
    jars = spark_jars()
    classpath = os.pathsep.join([build(srcs, jars), os.path.join(jars, "*")])
    started = time.time()
    root = build_root()
    out_dir = os.path.join(root, "out")
    work = os.path.join(root, "work", str(os.getpid()))
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            log = os.path.join(out_dir, "selftest.log")
            rc = run_jvm(classpath, "perfbench.SelfTest", work,
                         [work, os.path.join(HERE, "catalog")],
                         started + RUN_LIMIT_S, log)
            with open(log, errors="replace") as f:
                sys.stdout.write("".join(l for l in f if l.startswith(("PASS", "FAIL", "selftest"))))
            sys.exit(0 if rc == 0 else 1)
        if a.pin:
            res = run_workload(classpath, a, "pin", 0, work, out_dir, started)
            sys.stdout.write(open(res).read())
            return
        if a.trace:
            # The tracing overhead and the parallel speedup compare with an
            # untraced run of the same seed: same batches, same passes.
            plain_res = run_workload(classpath, a, a.workload, 0, work, out_dir, started)
            traced_res = run_workload(classpath, a, a.workload, 1, work, out_dir, started)
            plain, traced = load(plain_res), load(traced_res)
            res = traced
            res["attempted"] += plain["attempted"]
            res["failed"] += plain["failed"]
            res["correct"] = plain["correct"] and traced["correct"]
            res["metrics"].update(compare(load(detail(plain_res)), load(detail(traced_res))))
        else:
            res_path = run_workload(classpath, a, a.workload, 0, work, out_dir, started)
            res = load(res_path)
        check_names(res, a.trace)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
