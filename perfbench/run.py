#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark harness from the checkout's sources with sbt and generates the input
tables with the engine's own generator (graft.GenData); later runs reuse both
while the sources are unchanged. Everything it writes stays under
perfbench/work/ (and sbt's target/ directories). The last line of stdout is
the result object; everything else goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(WORK, "data")
SCALES = ["0.1", "0.001"]  # gql_mixed reads sf0.1, graph_batch sf0.001
DRIVER_MEM = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JAVA_OPTS = [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
] + ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def run(cmd, cwd, timeout, capture=False, env=None):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("timed out after %ds: %s" % (timeout, " ".join(cmd[:3])))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building engine and harness with sbt")
    t0 = time.time()
    code, out = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, capture=True)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed (exit %d)" % code)
    log("built in %.0f s" % (time.time() - t0))
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def java_cmd(classpath, main, args, tmp):
    return (["java", "-Xms" + DRIVER_MEM, "-Xmx" + DRIVER_MEM, "-Djava.io.tmpdir=" + tmp] + JAVA_OPTS
            + ["-cp", classpath, main] + args)


def generate_data(classpath, cpus, env):
    for sf in SCALES:
        out = os.path.join(DATA, "sf" + sf)
        if os.path.exists(os.path.join(out, "_READY")):
            continue
        log("generating sf%s tables" % sf)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
        code, _ = run(java_cmd(classpath, "graft.GenData", [tmp, sf], os.path.join(WORK, "tmp")),
                      WORK, 600, env=dict(env, SPARK_GRAFT_CPUS=str(cpus)))
        if code != 0:
            fail("table generation failed for sf%s" % sf)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        open(os.path.join(out, "_READY"), "w").close()


def check_result(line, trace):
    """The result must carry exactly the metrics BENCHMARK.json names."""
    res = json.loads(line)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    got = list(res["metrics"])
    if sorted(got) != sorted(want):
        fail("metric names differ from BENCHMARK.json: missing %s, extra %s"
             % (sorted(set(want) - set(got)), sorted(set(got) - set(want))), 1)
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("result keys: %s" % sorted(res), 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no engine sources here (%s is missing); run from a full checkout" % need)
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is missing")

    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    classpath = build()
    generate_data(classpath, cpus, env)

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", WORK, "--cpus", str(cpus)]
    code, out = run(java_cmd(classpath, "perfbench.Main", args, tmp), ROOT, RUN_TIMEOUT_S,
                    capture=True, env=env)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("benchmark run failed (exit %d)" % code, 1)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    check_result(lines[-1], a.trace == 1)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
