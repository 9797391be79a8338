#!/usr/bin/env python3
"""graft CDC lakehouse benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
harness from source with sbt (cached under .bench_build/ by a hash of the
sources), then runs one workload in a fresh JVM and prints, as the last
line of standard output, one JSON object with the keys correct, attempted,
failed and metrics. With --trace 0 the metrics are the end-to-end set of
BENCHMARK.json; with --trace 1 they are the per-layer ledger. The line
before it (`report: {...}`) carries the ungated figures: read_p50_s,
tail percentiles and sample counts, compact_s, changes_*, refresh_p50_s,
curate_s and failed_frac.
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

WORKLOADS = ("cow_merge", "mor_serve", "feed_consume", "doc_curate")
BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the root build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# The forked-run flags of the root build: 8g heap with the young generation
# capped at 2g (an uncapped young gen let scan garbage pile up for whole
# query blocks) and a code cache large enough that codegen never stalls JIT.
JVM_FLAGS = ["-Xmx8g", "-XX:MaxNewSize=2g", "-XX:ReservedCodeCacheSize=1g",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads, in a stable order."""
    files = []
    for base in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(d, n) for n in names]
    for f in ("build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"):
        files.append(os.path.join(root, f))
    return sorted(files)


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root):
    """Compile with sbt unless the cached classpath matches the sources."""
    out = os.path.join(root, BUILD_DIR, "perfbench")
    os.makedirs(out, exist_ok=True)
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.override.build.repos=true").strip()
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        rc = run_killable(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                          stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, env=env)
    with open(log) as lf:
        lines = [l.strip() for l in lf if l.strip()]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a TERM must still stop the JVM's process group (run_killable)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("src/main/scala/graft", "build.sbt", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp = build(root)

    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
              "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--out", out])
    t0 = time.time()
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        rc = run_killable(cmd, RUN_TIMEOUT_S, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    with open(log) as lf:
        jvm_lines = lf.read().splitlines()
    for l in jvm_lines:
        if l.startswith(("CHECK FAILED", "OPERATION FAILED")):
            print(l, file=sys.stderr)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(jvm_lines[-60:]) + "\n")
        fail(f"run failed (rc={rc}, {wall:.1f}s)")
    with open(out) as f:
        res = json.load(f)
    ledger = os.path.join(work, "ledger.json")
    if os.path.exists(ledger):
        shutil.copy(ledger, os.path.join(root, WORK_DIR, f"ledger-{a.workload}-{a.seed}.json"))
    # table data is large and per run; keep only the result and the log
    for d in os.listdir(work):
        p = os.path.join(work, d)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)

    report = dict(res["report"], run_wall_s=round(wall, 3))
    print("report: " + json.dumps(report))
    final = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(final))


if __name__ == "__main__":
    main()
