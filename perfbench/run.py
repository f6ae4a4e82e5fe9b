#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out beside this
directory.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark with sbt (offline) and
caches the resulting classpath under perfbench/target/; later runs start
the JVM directly. Every store, checkpoint and temp file of a run lives
under one temp root, .perfbench_tmp/run-<pid>/ at the checkout root, which
is deleted (and checked gone) before exit. The last line of stdout is the
result JSON. See perfbench/README.md.
"""
import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
TMP_BASE = os.path.join(ROOT, ".perfbench_tmp")
BUDGET_S = 175.0  # a run must end within 180 s, build excluded
BUILD_BUDGET_S = 840.0

# Spark on JDK 17 outside spark-submit needs these (same list as the
# engine's own build, org.apache.spark.launcher.JavaModuleOptions)
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


def sources():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s != "target"]
            files += [os.path.join(d, n) for n in names]
    return files


def build(deadline):
    """Compile with sbt when the cached classpath is missing or stale."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=sys.stderr, text=True,
                       timeout=max(1.0, deadline - time.time()))
    sys.stderr.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def check_metrics(result_line, trace):
    """The result must carry exactly the metrics, with the units, that
    BENCHMARK.json declares for this mode (Layers.scala lists them)."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace == "1" else "end_to_end"]}
    got = {k: v["unit"] for k, v in json.loads(result_line)["metrics"].items()}
    if got != want:
        diff = sorted(set(want.items()) ^ set(got.items()))
        fail(f"metrics disagree with BENCHMARK.json: {diff}")


def remove_tree(path):
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        fail(f"could not delete temp root {path}")
    try:
        os.rmdir(TMP_BASE)  # only when no other run is using it
    except OSError:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--spans", help="write the traced run's spans here (JSON lines)")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="perturb every expected answer: all checks must fail")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"engine sources not found next to {HERE}")
    start = time.time()
    classpath = build(start + BUILD_BUDGET_S)
    deadline = time.time() + BUDGET_S

    tmp = os.path.join(TMP_BASE, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = [
        "java", "-Xms1g", "-Xmx2g", "-XX:+UseG1GC",
        *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--tmp", tmp,
    ]
    if a.spans:
        java += ["--spans", os.path.abspath(a.spans)]
    if a.wrong_answer:
        java.append("--wrong-answer")
    # the JVM dies with this process, however this process ends
    die_with_parent = lambda: ctypes.CDLL("libc.so.6").prctl(1, signal.SIGKILL)
    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            preexec_fn=die_with_parent)

    def stop(why):
        proc.kill()
        proc.wait()
        remove_tree(tmp)
        fail(why)

    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(f"{a.workload} did not finish within {BUDGET_S:.0f} s")
    remove_tree(tmp)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out)
        fail(f"{a.workload} failed (exit {proc.returncode})")
    check_metrics(lines[-1], a.trace)
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
