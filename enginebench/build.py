"""Build file of the engine benchmark.

Compiles the program (src/main/scala) and the benchmark (enginebench/src)
in one scalac pass against the project's Spark jars, into
.bench_build/enginebench/<source-hash>/classes under the repository root.
A build whose sources are unchanged is reused.

    python3 enginebench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jar_dir(root):
    """The directory the project takes its jars from: build.sbt's
    unmanagedBase."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("build.sbt names no unmanagedBase jar directory")


def sources(root):
    out = []
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {os.path.relpath(top, root)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Returns (classes_dir, jar_dir), compiling when the sources changed."""
    jars = jar_dir(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", "enginebench")
    classes = os.path.join(base, key, "classes")
    if os.path.isdir(classes):
        return classes, jars
    os.makedirs(base, exist_ok=True)
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w", encoding="utf-8") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(args_file)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    for old in os.listdir(base):
        if old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    os.makedirs(os.path.join(base, key))
    os.rename(tmp, classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
