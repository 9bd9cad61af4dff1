#!/usr/bin/env python3
"""Benchmark entry point for graft (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the program and
the harness from source with sbt (perfbench/build.sbt) into the build
directory ($CARGO_TARGET_DIR, default .bench_build) and writes the input
tables there with the program's own generators; later calls reuse both
while the sources are unchanged. Each run starts one JVM, prints its
progress on stderr and, as the last line of stdout, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The exit code is nonzero
when any operation or output check failed, or when the run could not be
made at all (then no result line is printed).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 3600  # PERFBENCH_RECORD runs every suite query (see README)
BUILD_TIMEOUT_S = 840
JAVA_OPTS = [
    # fixed heap and young generation, so peak RSS tracks what the
    # program retains rather than the collector's sizing decisions
    "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stdin=subprocess.DEVNULL, start_new_session=True, text=True)

    def stop(signum, _frame):  # terminated from outside: take the child down too
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        return 124, out
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # leftovers of the group, if any
        except ProcessLookupError:
            pass
    return p.returncode, out


def classpath(build_dir):
    """Builds program + harness if the sources changed; returns the
    runtime classpath and the source stamp."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no program sources under {ROOT}/src/main/scala; run from a full checkout")
        sys.exit(2)
    stamp = source_stamp()
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip(), stamp
    log("building program and harness with sbt ...")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    target = os.path.join(build_dir, "sbt-target")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.target={target}",
         # sbt's own state goes into the build directory too
         f"-Dsbt.global.base={build_dir}/sbt-global", f"-Dsbt.ivy.home={build_dir}/ivy",
         "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {code})")
        sys.exit(2)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.0f}s")
    return cp, stamp


def tables(build_dir, cp, stamp):
    """Writes the input tables once per build: the program's own
    generators, graft.tools.TpchGen and graft.tools.ScaleGen, at factor 1
    (the row counts of TPC-H scale 0.1 and a 5000-doc corpus). Each
    generator stops its SparkSession, so each gets its own JVM. Returns
    the table directory."""
    out = os.path.join(build_dir, "tables")
    stamp_file = os.path.join(out, "stamp.txt")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    shutil.rmtree(out, ignore_errors=True)
    scratch = os.path.join(build_dir, "gen-tmp")
    os.makedirs(scratch, exist_ok=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    for main in ("graft.tools.TpchGen", "graft.tools.ScaleGen"):
        code, out_text = run_child(
            ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={scratch}",
             f"-Dspark.local.dir={scratch}", "-cp", cp, main, out, "1"],
            scratch, env, RUN_TIMEOUT_S)
        if code != 0:
            sys.stderr.write(out_text[-4000:])
            log(f"{main} failed (exit {code})")
            sys.exit(2)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"generated input tables in {time.time() - t0:.0f}s")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--fault-at", type=int, default=0,
                    help="make the n-th operation throw (self-test only)")
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp, stamp = classpath(build_dir)
    table_dir = tables(build_dir, cp, stamp)
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    out_dir = os.path.join(build_dir, "traces")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--root", ROOT,
        "--tables", table_dir, "--work", work, "--out", out_dir, "--fault-at", str(a.fault_at)]
    try:
        code, out = run_child(cmd, work, dict(os.environ), RECORD_TIMEOUT_S
                              if "PERFBENCH_RECORD" in os.environ else RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    sys.stderr.write("".join(l + "\n" for l in (lines[:-1] if result else lines)))
    if result is None:
        log(f"run produced no result (exit {code})")
        sys.exit(code or 1)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
