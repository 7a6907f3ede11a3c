#!/usr/bin/env python3
"""Epoch benchmark for graft: insert -> FLUSH -> cursor, one closed-loop client.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mv_fanout --seed 1 --seconds 20 --trace 0

Builds the engine together with the benchmark (perfbench/build.sbt, outputs
under .bench_build/) when the sources changed since the last build, then runs
one workload in a fresh JVM. Untimed {"info": ...} lines come first; the last
stdout line is the result: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench.jar")
# Class-data archive of the benchmark's JVM: written at the exit of the first
# run after a build, mapped by every later run. It cuts JVM and Spark start-up
# (class loading) by several seconds per run; timed epochs are unaffected.
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
WORKLOADS = ("mv_fanout", "append_firehose")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout, or when
    this script is told to stop, kills the whole group before returning or
    exiting. Returns (exit code or None on timeout, captured stdout)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True, **kw)

    def kill():
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    def on_signal(signum, _frame):
        kill()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None, None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.isfile(JAR) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.offline=true"),
        "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
    ])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                          stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    for f in (CDS_ARCHIVE, CDS_ARCHIVE + ".failed"):
        if os.path.exists(f):
            os.remove(f)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    if not isinstance(r, dict) or set(r) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return r


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "engine", "GraftEngine.scala")):
        fail(f"no engine sources under {ENGINE_SRC}: run from a graft checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark installation")
    build()

    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cds_failed = CDS_ARCHIVE + ".failed"
    dumping = not os.path.isfile(CDS_ARCHIVE) and not os.path.isfile(cds_failed)
    cds = ([] if os.path.isfile(cds_failed) else
           [f"-XX:{'ArchiveClassesAtExit' if dumping else 'SharedArchiveFile'}={CDS_ARCHIVE}"])
    # JVM log lines (the archive dump's among them) go to stderr, keeping
    # stdout to the benchmark's JSON lines
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # The heap is touched in full at JVM start, on transparent huge pages
    # where the kernel offers them: page faults of a growing heap otherwise
    # land in the timed epochs, by as much as the machine's load dictates.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
            "-XX:-UsePerfData", "-Xlog:all=warning:stderr"]
           + cds + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "graftbench.EpochBench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    err_path = os.path.join(BUILD, "last_run.stderr")
    with open(err_path, "w") as err:
        rc, out = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {err_path}")
    # the JVM may append its own lines at exit (the archive dump does)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    result = valid_result(lines[-1]) if lines else None
    if dumping and rc != 0 and result is not None:
        # the run completed; only writing the archive at exit failed, so
        # later runs of this build go without one
        if os.path.exists(CDS_ARCHIVE):
            os.remove(CDS_ARCHIVE)
        open(cds_failed, "w").close()
        rc = 0
    if rc != 0 or result is None:
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"run failed (exit {rc}); stderr in {err_path}")
    for ln in lines[:-1]:
        print(ln)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
