#!/usr/bin/env python3
"""Run one perfbench workload against graft, built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first call in a checkout compiles graft's sources and the
benchmark's own with the Scala compiler that ships with Spark (no
dependency resolution, no sbt) into the build directory
($CARGO_TARGET_DIR, default .bench_build). Each run then gets a fresh
scratch root for data, stores, checkpoints and artifacts, removed when
the run ends; its full record (host block, samples, checks, spans)
stays under the build directory. The last line printed is the result:
{"correct", "attempted", "failed", "metrics"}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recs_refresh", "store_ticks", "corpus_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 500
DRIVER_XMX = "2g"


def jvm_flags():
    """The shared JVM flags, one a line in jvm.flags (also read by the specs' build)."""
    with open(os.path.join(HERE, "jvm.flags")) as f:
        return [l.strip() for l in f if l.strip() and not l.lstrip().startswith("#")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def scala_sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(build_dir, jars, graft_src):
    """Compile graft + the benchmark into one jar, unless the sources
    are unchanged. A rebuild drops the class archive, which the next
    run then writes anew."""
    sources = scala_sources(graft_src, os.path.join(HERE, "src", "main", "scala"))
    digest = tree_hash(sources + [os.path.join(HERE, "jvm.flags")])
    jar = os.path.join(build_dir, "classes.jar")
    archive = os.path.join(build_dir, "classes.jsa")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, archive, digest
    for p in (stamp, jar, archive):
        if os.path.exists(p):
            os.remove(p)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", jar, "-classpath", cp, f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail("compile failed")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar, archive, digest


def dir_bytes(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def source_revision(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    graft_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft_src, "graft")):
        fail(f"graft sources not found under {graft_src}")
    jars = spark_jars()
    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    jar, archive, digest = build(build_dir, jars, graft_src)

    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    run_root = os.path.join(build_dir, "runs", tag)
    os.makedirs(os.path.join(run_root, "tmp"))
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, tag + ".json")

    load_start = os.getloadavg()
    # JDK class data sharing: the first run after a build archives every
    # class its JVM loaded, at exit, after its result is taken; every
    # later run maps that archive, which halves JVM and session start-up
    shared = os.path.exists(archive)
    cds = f"-XX:SharedArchiveFile={archive}" if shared else f"-XX:ArchiveClassesAtExit={archive}.tmp"
    # JVM warnings go to stderr so stdout stays the result's
    cmd = (["java", f"-Xms{DRIVER_XMX}", f"-Xmx{DRIVER_XMX}", f"-Djava.io.tmpdir={run_root}/tmp",
            "-Xlog:disable", "-Xlog:all=warning:stderr", cds,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + jvm_flags()
           + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--root", run_root, "--record", record])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its
    # shuffle and block files inside the run's scratch root either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    load_end = os.getloadavg()
    if not shared and os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)

    scratch_bytes = dir_bytes(run_root)
    shutil.rmtree(run_root, ignore_errors=True)
    left = dir_bytes(run_root) if os.path.exists(run_root) else 0

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out)
        fail(f"workload exited {proc.returncode} without a result line")

    try:
        with open(record) as f:
            rec = json.load(f)
        rec["host"].update({
            "nproc": os.cpu_count(), "loadavg_start": load_start, "loadavg_end": load_end,
            "revision": source_revision(digest), "class_archive": "mapped" if shared else "written at exit"})
        rec["disk"] = {"scratch_bytes_at_end": scratch_bytes, "bytes_left": left}
        with open(record, "w") as f:
            json.dump(rec, f)
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: record not updated: {e}", file=sys.stderr)

    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
