#!/usr/bin/env python3
"""Benchmark entry point.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

Builds the benchmark (perfbench/build.py compiles the program's
src/main/scala beside perfbench/src) once per source digest, together with a
JVM class-data archive trained on one pass over every workload, then runs
one workload in a single JVM and relays its stdout. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics, with --trace 1 its
per_layer metrics; a per-layer metric the workload does not exercise reads 0.

Everything the run writes goes under $CARGO_TARGET_DIR (default
.bench_build) in the checkout.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True  # importing build.py leaves nothing behind
import build  # noqa: E402

ROOT = build.ROOT
PROGRAM = build.PROGRAM
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
JVM_YOUNG = "1g"
# what Spark needs on JDK 17 outside spark-submit, as in the program's build.sbt
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


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def java(work, cp, args, archive_flag):
    # a fixed heap and young generation: with adaptive sizing the collector
    # sized the heap differently from run to run, and peak RSS followed
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
             "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", archive_flag,
             f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main", "--work", str(work)] + args)


def class_archive(work, digest, cp, workloads):
    """A class-data archive of one untimed pass over every workload, made
    once per build. Loading Spark's classes from it instead of from the jars
    halves a cold session start on a 4-core box (6.2 s -> 2.4 s), which is
    most of what a short run would otherwise spend before its first op."""
    archive = work / "build" / f"{digest}.jsa"
    tried = work / "build" / f"{digest}.jsa.tried"
    if not tried.exists():
        tried.touch()
        train = java(work, cp, ["--workload", ",".join(workloads), "--seed", "0",
                                "--seconds", "0", "--trace", "0", "--train", "1"],
                     f"-XX:ArchiveClassesAtExit={archive}")
        try:
            out = subprocess.run(train, cwd=ROOT, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.PIPE, text=True, timeout=450)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-4000:])
        except subprocess.TimeoutExpired:
            sys.stderr.write("perfbench: class-data training timed out\n")
    return f"-XX:SharedArchiveFile={archive}" if archive.exists() else "-Xshare:auto"


def complete(result, spec, trace):
    """Checks the result's metrics against BENCHMARK.json and fills the
    per-layer metrics a workload does not exercise with 0."""
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    known = {m["name"]: m["unit"] for m in wanted}
    for name, m in metrics.items():
        if known.get(name) != m["unit"]:
            fail(f"metric {name} [{m['unit']}] is not in BENCHMARK.json as such")
    if not trace and result["correct"]:
        missing = [n for n in known if n not in metrics]
        if missing:
            fail(f"end-to-end metrics missing: {missing}")
    if trace:
        result["metrics"] = {n: metrics.get(n, {"value": 0.0, "unit": u})
                             for n, u in known.items()}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not PROGRAM.is_dir() or not spec_file.is_file():
        fail(f"run from the root of a checkout: {PROGRAM} or {spec_file} is missing")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    work = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        digest = build.source_digest()
        cp = build.classpath(work, digest)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    archive_flag = class_archive(work, digest, cp, [w["name"] for w in spec["workloads"]])
    cmd = java(work, cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--commit", git_commit(), "--source-digest", digest],
               archive_flag)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {proc.returncode}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(complete(json.loads(lines[-1]), spec, a.trace == 1)))


if __name__ == "__main__":
    main()
