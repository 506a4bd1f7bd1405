"""Build graft and the perfbench harness from source, with the Scala
compiler that ships in Spark's jars directory (no sbt, no downloads).

The classes land in perfbench/.build/<source id>/ and are reused while no
source file changes. Run from the repository root:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

# the program under test, then the harness
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"
BUILD_DIR = "perfbench/.build"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    files = []
    for d in SOURCE_DIRS + [RESOURCES]:
        for base, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_id(root):
    """Hash of every source and resource file: names the build, and is
    reported with each run in place of a commit id."""
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; return the run-time classpath."""
    sid = source_id(root)
    out = os.path.join(root, BUILD_DIR, sid)
    classes = os.path.join(out, "classes")
    cp = os.pathsep.join([classes, os.path.join(root, RESOURCES), spark_jars()])
    if os.path.exists(os.path.join(out, "OK")):
        return cp, sid
    shutil.rmtree(os.path.join(root, BUILD_DIR), ignore_errors=True)
    os.makedirs(classes)
    scala = [f for f in sources(root) if f.endswith(".scala")]
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes] + scala
    print(f"perfbench: compiling {len(scala)} Scala files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(out, "OK"), "w").close()
    return cp, sid


if __name__ == "__main__":
    print(build(os.getcwd())[0])
