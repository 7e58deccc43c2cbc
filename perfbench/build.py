#!/usr/bin/env python3
"""The benchmark's build: compiles the program's src/main/scala beside
perfbench/src with the Scala compiler that ships in the Spark distribution's
jars, and packs the classes into one jar.

It needs only `java` and the Spark jars the program's own build.sbt
compiles against (its `unmanagedBase`, else $SPARK_HOME/jars): no sbt, no
dependency cache and nothing under $HOME, and it writes only under the work
directory it is given. Run from the root of a checkout:

    python3 perfbench/build.py [work-dir]

prints the runtime classpath of the build (building it if needed).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
PROGRAM = ROOT / "src" / "main" / "scala"
COMPILE_TIMEOUT_S = 450


class BuildError(Exception):
    pass


def sources():
    return sorted(p for d in (PROGRAM, BENCH / "src") for p in d.rglob("*.scala") if p.is_file())


def spark_jars_dir():
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is not set")


def spark_jars():
    jars = sorted(spark_jars_dir().glob("*.jar"))
    if not jars:
        raise BuildError(f"no jars under {spark_jars_dir()}")
    return jars


def source_digest():
    """sha256 over every source the build compiles, the benchmark's scripts
    (run.py sets the JVM flags the class-data archive is made with) and the
    names of the jars it compiles against."""
    h = hashlib.sha256()
    for p in [BENCH / "build.py", BENCH / "run.py"] + sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in spark_jars():
        h.update(j.name.encode())
    return h.hexdigest()[:16]


def compiler_classpath():
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    found = [j for j in spark_jars() if j.name.startswith(want)]
    if len(found) != len(want):
        raise BuildError(f"no Scala compiler among the jars under {spark_jars_dir()}")
    return os.pathsep.join(map(str, found))


def classpath(work, digest):
    """The runtime classpath of a build of this digest, building if needed.
    Classes go into a jar, not a directory: a JVM class-data archive can
    only cover classes loaded from jars."""
    build = work / "build"
    jar = build / f"perfbench-{digest}.jar"
    runtime = os.pathsep.join([str(jar)] + [str(j) for j in spark_jars()])
    if jar.exists():
        return runtime
    if build.exists():  # another digest's jar and class-data archive
        shutil.rmtree(build)
    classes = work / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    args = work / "scalac.args"
    args.write_text("\n".join(["-d", str(classes), "-classpath", str(spark_jars_dir() / "*")]
                              + [str(p) for p in sources()]) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", compiler_classpath(), "scala.tools.nsc.Main", f"@{args}"]
    try:
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compiling took over {COMPILE_TIMEOUT_S} s")
    sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
    if out.returncode != 0:
        raise BuildError(f"scalac exited with {out.returncode}")
    build.mkdir(parents=True)
    part = jar.with_suffix(".part")
    with zipfile.ZipFile(part, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    part.rename(jar)
    shutil.rmtree(classes)
    return runtime


if __name__ == "__main__":
    work = ROOT / (sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench")
    try:
        print(classpath(work, source_digest()))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
