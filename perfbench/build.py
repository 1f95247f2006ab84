#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the harness (perfbench/src) from source with the Scala compiler that
ships among Spark's jars.

    python3 perfbench/build.py        # from the repository root

Output goes to .perfbench/build/<source hash>/classes, so a build is
reused until a source file changes. Prints the build directory.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 600
HEAP = "3g"
ADD_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the unmanagedBase the
    repository's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources not found under src/main/scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files, os.path.join(root, "src", "main", "resources")


def java_cmd(build_dir, jars, work, args):
    """The harness JVM: fixed heap, private tmpdir, warn-level logging."""
    return ["java"] + ["--add-opens=" + p for p in ADD_OPENS] + [
        "-Xms" + HEAP, "-Xmx" + HEAP,
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.path.join(build_dir, "classes") + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main", "--work", work,
        "--cores", str(len(os.sched_getaffinity(0)))] + args


def run_jvm(cmd, work, timeout):
    """Run one harness JVM in `work`; return (exit code, stdout). The work
    directory is deleted afterwards, whatever happened."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None, ""
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(root):
    """Compile if needed; return (build dir, Spark jar dir)."""
    jars = spark_jars(root)
    files, resources = sources(root)
    h = hashlib.sha256()
    for p in [os.path.abspath(__file__)] + files + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(root, ".perfbench", "build")
    out = os.path.join(base, h.hexdigest()[:20])
    if os.path.isfile(os.path.join(out, "ok")):
        return out, jars
    shutil.rmtree(base, ignore_errors=True)  # older or unfinished builds
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + argfile]
    print("perfbench: compiling %d Scala files" % len(files), file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        raise SystemExit("perfbench: build failed: %s" % e)
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    open(os.path.join(out, "ok"), "w").close()
    return out, jars


if __name__ == "__main__":
    print(build(os.getcwd())[0])
