"""Build file of the benchmark.

Compiles the graft library sources (src/main/scala) together with the
benchmark harness (perfbench/scala) with the Scala compiler that ships
among the Spark jars the repository builds against (build.sbt's
`unmanagedBase`, or $SPARK_HOME/jars), and packs them with
src/main/resources into one jar. No sbt, no dependency resolution, no
network.

The output directory is keyed by a hash of every source and resource and
of this file, so a checkout builds once and later runs reuse it.

    python3 perfbench/build.py        # prints the build directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def jars_dir():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("perfbench: cannot locate the Spark jars (set SPARK_HOME)")
    return m.group(1)


def java_cmd(build_dir, work, main):
    """The JVM command line of every benchmark JVM."""
    cp = os.path.join(build_dir, "graft-bench.jar") + os.pathsep + os.path.join(jars_dir(), "*")
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS,
            "-cp", cp, main]


def sources():
    scala = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    res_root = os.path.join(ROOT, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**/*"), recursive=True)
                 if os.path.isfile(p))
    return scala + bench, res, res_root


def compile_jar(dest, srcs, res, res_root):
    classes = os.path.join(dest, "classes")
    os.makedirs(classes)
    args = os.path.join(dest, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.path.join(jars_dir(), "*"), "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", classes, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    with zipfile.ZipFile(os.path.join(dest, "graft-bench.jar"), "w") as jar:
        for d, _, files in sorted(os.walk(classes)):
            for name in sorted(files):
                p = os.path.join(d, name)
                jar.write(p, os.path.relpath(p, classes))
        for p in res:
            jar.write(p, os.path.relpath(p, res_root))
    shutil.rmtree(classes)


def build():
    """Returns the build directory, building it first if needed."""
    srcs, res, res_root = sources()
    if not any(os.sep + os.path.join("src", "main", "scala", "graft") + os.sep in s
               for s in srcs):
        sys.exit("perfbench: no graft sources under src/main/scala")
    digest = hashlib.sha256()
    for p in srcs + res + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    dest = os.path.join(OUT, "build-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".done")):
        return dest
    for old in glob.glob(os.path.join(OUT, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(dest)
    compile_jar(dest, srcs, res, res_root)
    open(os.path.join(dest, ".done"), "w").close()
    return dest


if __name__ == "__main__":
    print(build())
