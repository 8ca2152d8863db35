#!/usr/bin/env python3
"""Repository benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: wildweb_ingest, query_mix (see BENCHMARK.json and README.md).
The first run in a checkout builds the program and the harness with sbt
(about a minute); later runs reuse the build while no source file changed.
The harness runs in one JVM on local[<cpus>]. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

Other modes:
    --self-test      run the harness self-tests (sbt test)
    --dump-oracle    rewrite perfbench/expected/oracle_sql.json from the
                     registry; then run perfbench/make_expected.py
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
RUN_LIMIT_S = 170

# heap of the harness JVM, capped through the root build's own knob
# (SPARK_DRIVER_MEM) and fixed in size: a heap that G1 grows as it goes
# ends at a different size in each run, and the latencies follow it
HEAP = "3g"

WORKLOADS = ("wildweb_ingest", "query_mix")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256(HEAP.encode())
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt(*commands, timeout):
    # the toolchain resolves from its pre-warmed offline cache; these are the
    # defaults the repository's own test command uses when SBT_OPTS is unset
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           *commands]
    return subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=timeout)


def build():
    """Build if any source changed since the last build; return the classpath
    and the JVM options (the root build's `javaOptions`, as graft.Bench
    gets them)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found ({need}); run from a checkout root")
    cache = os.path.join(BUILD, "build.json")
    now = stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            built = json.load(f)
        if built["stamp"] == now:
            return built["classpath"], built["java_options"]
    try:
        proc = sbt("compile", "show javaOptions", "export Runtime/fullClasspath", timeout=840)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    options = [l[len("[info] * "):].strip() for l in lines if l.startswith("[info] * ")]
    if proc.returncode != 0 or not cps or "--add-opens" not in options:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    built = {"stamp": now, "classpath": cps[-1].strip(), "java_options": options}
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as f:
        json.dump(built, f)
    return built["classpath"], built["java_options"]


def java(jvm, args, work, timeout):
    cp, options = jvm
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *options, f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "last-run.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("run timed out", 1)
    with open(log) as f:
        for line in f:
            if line.startswith("[perfbench]") or "Exception" in line:
                sys.stderr.write(line)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--dump-oracle", action="store_true")
    a = ap.parse_args()

    if a.self_test:
        build()
        proc = sbt("test", timeout=900)
        sys.stdout.write(proc.stdout[-6000:])
        sys.exit(proc.returncode)

    jvm = build()
    t0 = time.monotonic()  # the build is outside the per-run limit
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.dump_oracle:
            rc, _ = java(jvm, ["--dump-oracle", os.path.join(HERE, "expected", "oracle_sql.json")],
                         work, RUN_LIMIT_S)
            sys.exit(rc)
        if a.workload is None:
            fail("--workload is required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--root", ROOT,
                "--data", os.path.join(HERE, "data", "sf0.1"), "--work", work,
                "--expected", os.path.join(HERE, "expected", "digests.json")]
        if a.trace:
            args += ["--spans", os.path.join(OUT, f"spans-{a.workload}-{a.seed}.jsonl")]
        rc, out = java(jvm, args, work, max(10, RUN_LIMIT_S - (time.monotonic() - t0)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not results:
        fail(f"harness exited with {rc} and {len(results)} result lines", 1)
    result = json.loads(results[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
