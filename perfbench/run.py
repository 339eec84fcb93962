#!/usr/bin/env python3
"""Build (when the sources changed) and run the DedupeEngine benchmark.

    python3 perfbench/run.py --workload gear --seed 1 --seconds 15 --trace 0

Run it from the repository root. The first run compiles the repository's
main sources together with the benchmark, with the Scala compiler among the
jars of the Spark install (SPARK_HOME, or the one spark-submit on the PATH
belongs to), into .bench_build/perfbench; later runs start the JVM directly.
Everything the benchmark writes stays under .bench_build/.
The last line of standard output is the JSON result.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(OUT, "build.json")
CLASSES = os.path.join(OUT, "classes")
REPO_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
# A whole run, build excluded, must end well inside three minutes.
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
HEAP = "3g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_digest(jars):
    """Digest of every source the build reads and of the jars it compiles against."""
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for f in scala_sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scala_sources():
    files = []
    for r in (REPO_SRC, BENCH_SRC):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_home():
    """SPARK_HOME, else the install of the first spark-submit on PATH that has a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def build(jars_dir):
    """Compile the repository's main sources and the benchmark into one class
    directory with the Scala compiler that ships among Spark's jars, and
    return the runtime classpath. A digest stamp skips unchanged builds."""
    jars = sorted(os.path.join(jars_dir, n) for n in os.listdir(jars_dir) if n.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        log(f"no scala-compiler jar in {jars_dir}")
        sys.exit(3)
    # java expands a trailing * on the class path to every jar in the directory
    cp = os.pathsep.join([CLASSES, os.path.join(jars_dir, "*")])
    digest = source_digest(jars)
    if os.path.isfile(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if json.load(fh).get("digest") == digest:
                return cp
    log("compiling the benchmark and the repository sources (scalac)")
    fresh = CLASSES + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in scala_sources()) + "\n")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-cp", os.path.join(jars_dir, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", fresh, "@" + args]
    code, out = run_child(cmd, BUILD_TIMEOUT_S, capture=True)
    if code != 0:
        sys.stderr.write(out[-6000:])
        log(f"build failed (scalac exit {code})")
        sys.exit(3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest}, fh)
    return cp


def run_child(cmd, timeout, capture=False):
    """Run cmd in its own process group and return (exit code, output).
    The whole group is killed on timeout, SIGTERM or Ctrl-C, and waited for."""
    child = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True, text=True,
                             stdout=subprocess.PIPE if capture else None,
                             stderr=subprocess.STDOUT if capture else None)

    def stop():
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.communicate()

    def on_term(*_):
        stop()
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out or ""
    except subprocess.TimeoutExpired:
        log(f"stopped after {timeout} s")
        stop()
        return 124, ""
    except KeyboardInterrupt:
        stop()
        return 130, ""
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)


def main(argv):
    if not os.path.isdir(os.path.join(REPO_SRC, "graft")):
        log(f"no repository sources at {os.path.relpath(REPO_SRC, os.getcwd())}: "
            "run from a full checkout of the repository")
        return 2
    home = spark_home()
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark install found: set SPARK_HOME or put spark-submit on the PATH")
        return 3
    cp = build(os.path.join(home, "jars"))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"] + argv
    try:
        return run_child(cmd, RUN_TIMEOUT_S)[0]
    finally:
        # native libraries Spark unpacks on every start
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
