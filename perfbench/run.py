#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload snapshot_cdc --seed 1 --seconds 5 --trace 0

The first run builds the engine (`sbt compile` and its resources at the
root) and the benchmark (`sbt compile` in perfbench/) and keeps the class
path in .perfbench_work/; later runs rebuild only when a source file
changed. A run measures whole snapshot_cdc cycles or query_mix passes
until at least --seconds have passed. The run itself is one JVM (graft.perfbench.Main) on local[nproc]. It prints
every end-to-end metric by name and unit, then, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. The exit code is 0 only when every output was correct.

The input is the read-only testdata at sf0.1: the directory named by
SPARK_GRAFT_SF_DIR, as for graft.Bench, by default testdata/sf0.1 under
the home directory.
"""
import argparse
import fcntl
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench_work"
DATA = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata/sf0.1"))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ["snapshot_cdc", "query_mix"]
JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the two builds read, relative to the root."""
    out = []
    for base in (ROOT, BENCH):
        for name in ("build.sbt", "project/build.properties"):
            if (base / name).is_file():
                out.append(base / name)
        out += sorted(p for p in (base / "src/main").rglob("*") if p.is_file())
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def sbt(cwd, *tasks):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt/repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                       cwd=cwd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed in {cwd}", 3)
    return r.stdout


def classpath():
    """Builds when the sources changed; returns the run class path. A lock
    makes a second run in the same checkout wait for a build in progress."""
    cp_file, stamp_file = WORK / "classpath.txt", WORK / "build.stamp"
    with open(WORK / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
            return cp_file.read_text().strip()
        return build(cp_file, stamp_file, want)


def build(cp_file, stamp_file, want):
    t0 = time.time()
    sbt(ROOT, "compile", "Compile/copyResources")  # the data source's service file
    out = sbt(BENCH, "compile", "export Compile/fullClasspath")
    cp = [l for l in out.splitlines() if "perfbench" in l and "classes" in l
          and not l.startswith("[")][-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def jvm(cp, args):
    """Runs graft.perfbench.Main; returns its standard output lines."""
    tmp = WORK / "tmp"
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", cp, "graft.perfbench.Main", *args]
    p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s", 4)
    if p.returncode != 0:
        fail(f"benchmark JVM exited with {p.returncode}", 5)
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        fail(f"no engine sources under {ROOT}: run from the root of a checkout")
    missing = [t for t in TABLES if not (DATA / f"{t}.parquet").exists()]
    if missing:
        fail(f"testdata missing under {DATA}: {', '.join(missing)}")
    WORK.mkdir(exist_ok=True)
    cp = classpath()
    out = WORK / f"result_{a.workload}_{a.seed}_t{a.trace}.json"
    out.unlink(missing_ok=True)
    lines = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", str(DATA), "--work", str(WORK),
                     "--expected", str(BENCH / "expected/hashes.json"),
                     "--out", str(out)])
    if not out.is_file():
        fail("the run wrote no result", 5)
    for line in lines:
        print(line)
    result = out.read_text().strip()
    print(result)
    sys.exit(0 if result.startswith('{"correct": true') else 1)


if __name__ == "__main__":
    main()
