#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the runner from source with sbt (graftbench/build.sbt) and caches the
runtime classpath under .bench_build/graftbench; later runs rebuild only
when a source or build file changed. Each run then starts one JVM,
whose last stdout line is the JSON result. `--workload all` runs every
workload in turn and prints each one's metric lines.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "graftbench")
WORKLOADS = ["crawl_pipeline", "dedup_incremental", "terasort"]
RUN_LIMIT_S = 175  # a run ends within 180 s; one that builds, 175 s after its build
BUILD_LIMIT_S = 850
HEAP = "4g"

# Spark 4 on JDK 17 needs these outside spark-submit (the engine's
# build.sbt passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every file the build reads, so a changed engine rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, dns, fns in os.walk(r):
            dns.sort()
            files += [os.path.join(dp, f) for f in fns]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the cached classpath matches the sources."""
    stamp = sources_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    log("building engine and runner with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=max(60, min(BUILD_LIMIT_S, deadline - time.time())))
    lines = p.stdout.splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise RuntimeError(f"sbt build failed with code {p.returncode}")
    cps = [l for l in lines if l.startswith("/") and "graftbench" in l and ":" in l]
    if not cps:
        raise RuntimeError("sbt printed no runtime classpath")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], True


def run_one(cp, workload, seed, seconds, trace, deadline):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", WORK]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError(f"{workload} did not finish in time")
    if p.returncode != 0:
        raise RuntimeError(f"{workload} runner exited with code {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources next to {os.path.relpath(HERE, ROOT)}/ "
            "(build.sbt and src/main/scala); run from a full checkout")
        return 2
    try:
        cp, built = build(start + BUILD_LIMIT_S)
        if a.workload != "all":
            # a run that had to build gets its full time after the build
            deadline = (time.time() if built else start) + RUN_LIMIT_S
            out = run_one(cp, a.workload, a.seed, a.seconds, a.trace, deadline)
            sys.stdout.write(out)
            return 0
        for w in WORKLOADS:
            out = run_one(cp, w, a.seed, a.seconds, a.trace, time.time() + RUN_LIMIT_S)
            print("\n".join(l for l in out.splitlines() if l.startswith("[graftbench]")))
        return 0
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
