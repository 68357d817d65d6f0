#!/usr/bin/env python3
"""Store benchmark runner: builds the harness and the engine from the
checkout's sources (once per source state), then runs one workload in a
fresh JVM and relays its output. The last stdout line is the result JSON.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Build outputs, stores and traces live under .bench_build/ at the root of
the checkout. Exits non-zero, printing no result, when the engine's
sources are missing or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "perfbench", "sources.sha256")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(HERE, "src", "main"), ENGINE_SRC):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(env):
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += (f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
                 " -Dsbt.offline=true")
    env = dict(env, SBT_OPTS=(opts + " -Xmx2g").strip())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", "compile"]
    print("perfbench: building harness and engine", file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "memo", "MemoEngine.scala")):
        fail("engine sources not found beside the benchmark")
    env = dict(os.environ, SPARK_HOME=spark_home())
    os.makedirs(BUILD, exist_ok=True)
    build(env)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    try:
        lines = run_jvm(a, env, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write("\n".join(lines))
        fail("run printed no result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


def run_jvm(a, env, work):
    """Run the harness in its own JVM with `work` as its scratch space.
    Returns its non-empty stdout lines; a traced run's spans move to
    .bench_build/traces/."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = os.pathsep.join([CLASSES, os.path.join(env["SPARK_HOME"], "jars", "*")])
    cmd = (["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.StoreBench",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (JVM log: {log})")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {proc.returncode} (JVM log: {log})")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    for f in os.listdir(work):
        if f.startswith("spans-"):
            shutil.move(os.path.join(work, f), os.path.join(traces, f))
    return lines

if __name__ == "__main__":
    main()
