#!/usr/bin/env python3
"""Serving benchmark for the HTTP facade.

Run from the root of a checkout:

    python3 perfbench/run.py --workload browse|analyze|all \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

The first run builds the program with the repository's own sbt build,
compiles the benchmark against it and writes the sf0.1 tables; all of it
lands in .bench_build/ and is reused while the sources are unchanged.
Build output goes to stderr; the last line of stdout is the result object.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["browse", "analyze"]
RUN_TIMEOUT_S = 170

# The JVM flags the repository's build gives a forked `sbt run`, heap size
# included (SPARK_DRIVER_MEM, 8g when unset).
JVM_FLAGS = [
    flag
    for pkg in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ]
    for flag in ("--add-opens", pkg + "=ALL-UNNAMED")
] + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
     "-Duser.timezone=UTC", "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def program_sources():
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.sbt"))
    files += [p for p in (ROOT / "project").glob("build.properties")]
    files += [p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()]
    return files


def bench_sources():
    return sorted((BENCH / "src").rglob("*.scala"))


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program (sbt, untouched build) and the benchmark (scalac)."""
    stamp_file = BUILD / "build.json"
    stamp = digest(program_sources()) + "-" + digest(bench_sources())
    classes = BUILD / "classes"
    if stamp_file.exists():
        info = json.loads(stamp_file.read_text())
        if info.get("stamp") == stamp and (classes / "perfbench" / "Main.class").exists():
            return info["classpath"]
    log("building the program with sbt")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "show scalaInstance"],
        cwd=ROOT, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    sys.stderr.write("".join(l + "\n" for l in out.stdout.splitlines() if len(l) < 400))
    if out.returncode != 0:
        raise SystemExit("sbt build failed")
    lines = out.stdout.splitlines()
    cp = next(l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l)
    inst = next(l for l in lines if "Scala instance" in l)
    compiler = re.findall(r"(/[^,\s]+\.jar)", inst.split("compiler jars:")[1].split("other jars:")[0])
    library = re.findall(r"(/[^,\s]+\.jar)", inst.split("library jars:")[1].split("compiler jars:")[0])
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    log("compiling the benchmark")
    scalac = subprocess.run(
        ["java", "-Xmx2g", "-cp", os.pathsep.join(compiler + library),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", str(classes)]
        + [str(p) for p in bench_sources()],
        stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=600)
    if scalac.returncode != 0:
        raise SystemExit("compiling the benchmark failed")
    classpath = os.pathsep.join([str(classes), cp])
    stamp_file.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    return classpath


def java(classpath, args, work, capture):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              "-cp", classpath, "perfbench.Main"] + args)
    return subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S,
                          stdout=subprocess.PIPE if capture else None, text=True)


def prepare_data(classpath):
    data = BUILD / ("data-" + digest([BENCH / "src" / "perfbench" / "DataGen.scala"]))
    if not (data / "READY").exists():
        log(f"writing the sf0.1 tables to {data}")
        if data.exists():
            shutil.rmtree(data)
        data.mkdir(parents=True)
        work = BUILD / "work" / f"prepare-{os.getpid()}"
        try:
            if java(classpath, ["--prepare", "--data", str(data)], work, False).returncode != 0:
                raise SystemExit("data generation failed")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return data


def run_one(classpath, data, workload, seed, seconds, trace):
    work = BUILD / "work" / f"{workload}-{seed}-{trace}-{os.getpid()}"
    out_dir = BUILD / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    try:
        p = java(classpath, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                             "--trace", str(trace), "--data", str(data), "--work", str(work)],
                 work, True)
        for f in work.glob("*.json*"):
            shutil.copy(f, out_dir / f.name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        sys.stdout.write(p.stdout)
        raise SystemExit(f"{workload} run failed (exit {p.returncode})")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main" / "scala").is_dir()):
        log("run this from the root of a checkout of the program (build.sbt and src/main/scala)")
        return 2
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    classpath = build()
    data = prepare_data(classpath)
    if a.self_test:
        work = BUILD / "work" / f"selftest-{os.getpid()}"
        try:
            return java(classpath, ["--selftest", "--data", str(data), "--work", str(work)],
                        work, False).returncode
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if a.workload != "all":
        for line in run_one(classpath, data, a.workload, a.seed, a.seconds, a.trace):
            print(line)
        return 0
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        lines = run_one(classpath, data, w, a.seed, a.seconds, a.trace)
        print("\n".join(lines[:-1]))
        r = json.loads(lines[-1])
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(combined))
    return 0


if __name__ == "__main__":
    sys.exit(main())
