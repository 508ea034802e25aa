"""Builds the program and the benchmark harness into one jar.

The program's main sources (``src/main/scala``) and resources are
compiled together with ``perfbench/scala`` by the Scala compiler that
ships among the Spark jars the program itself builds against
(``build.sbt``'s ``unmanagedBase``), against those same jars. No sbt, no
dependency resolution. The output directory holds ``app.jar`` and a
class-data-sharing archive (``app.jsa``) dumped from a harness JVM that
starts a Spark session and stops it: every benchmark JVM maps the
classes it would otherwise load and verify one by one at start. The
output is keyed by a hash of every source, so an unchanged checkout
builds once.

    python3 perfbench/build.py        # prints the output directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ["src/main/scala", "perfbench/scala"]
RESOURCES = "src/main/resources"
HEAP = "3g"
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _sources():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def _resources():
    return sorted(p for p in glob.glob(os.path.join(ROOT, RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def spark_jars():
    """The jar directory ``build.sbt`` names as its ``unmanagedBase``."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no Spark jar directory that exists")
    return m.group(1)


def classpath(out):
    return f"{os.path.join(out, 'app.jar')}:{spark_jars()}/*"


def java(out, dump=False):
    """The benchmark JVM's command up to its main class arguments: fixed
    heap, G1, and the class-data archive (``dump`` writes it)."""
    jsa = os.path.join(out, "app.jsa")
    share = f"-XX:ArchiveClassesAtExit={jsa}" if dump else f"-XX:SharedArchiveFile={jsa}"
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", share,
             "-Dspark.ui.enabled=false"] + OPENS + ["-cp", classpath(out)])


def build():
    """Returns the output directory, compiling first when sources changed."""
    srcs = _sources()
    if not any(p.startswith(os.path.join(ROOT, "src")) for p in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + _resources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "app-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", f"{jars}/*"] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    for p in _resources():
        dst = os.path.join(classes, os.path.relpath(p, os.path.join(ROOT, RESOURCES)))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    # class-data sharing maps classes from jars only
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    work = os.path.join(out, "cds-work")
    os.makedirs(work)
    r = subprocess.run(java(out, dump=True) + ["graft.perfbench.Harness", "startup", work,
                                                work, "0", "0", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(os.path.join(out, "app.jsa")):
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: class-data archive dump failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())
