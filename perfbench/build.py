"""Build file of the benchmark: compiles graft (src/main) together with the
benchmark's harness (perfbench/src) with the Scala compiler that ships in
the Spark distribution graft builds against, into .bench_build/perfbench.

The Spark jars are found from $SPARK_HOME/jars or, failing that, from the
`unmanagedBase` that build.sbt declares. A stamp of every source file's
hash makes a second build of unchanged sources a no-op.

Usage (from the repository root): python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(".bench_build", "perfbench")

# The JDK 17 module openings Spark needs outside spark-submit; the same
# list build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jars_dir(repo="."):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(repo, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources(repo="."):
    main = sorted(glob.glob(os.path.join(repo, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no graft sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def java_opts():
    return [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def classpath(repo="."):
    return os.path.join(repo, OUT, "classes") + os.pathsep + os.path.join(jars_dir(repo), "*")


def build(repo=".", log=sys.stderr):
    """Compile if any source changed; return the classes directory."""
    srcs = sources(repo)
    resources = os.path.join(repo, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, repo).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(repo, OUT)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars_dir(repo), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
