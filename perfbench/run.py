#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload catalog_rw --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.sbt compiles graft's sources with the harness) and keeps
the build under .bench_build/ until a source file changes. Each run starts
one JVM, which prints a run record line (host facts, input digest, failed
ops) and then, as the last line of stdout, the result object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones from the traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SOURCES = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("catalog_rw", "graph_analytics", "index_serve_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file the build reads: graft's sources and the harness."""
    files = [p for p in GRAFT_SOURCES.rglob("*") if p.is_file()]
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    files += [p for p in (HERE / "src").rglob("*") if p.is_file()]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def tool_env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark installation: set SPARK_HOME")
        env["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    return env


def ensure_build(env):
    """Returns the harness classpath, building it when sources changed."""
    stamp, cp_file = BUILD / "stamp", BUILD / "classpath.txt"
    fp = fingerprint()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                [sbt, "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed (log: {log})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(fp)
    return cp


def manifest_units(workload, trace):
    """Metric name -> unit that BENCHMARK.json asks of this run, or None
    when the manifest is absent or does not list the workload."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        return None
    m = json.loads(f.read_text())
    if workload not in {w["name"] for w in m["workloads"]}:
        return None
    return {x["name"]: x["unit"] for x in m["per_layer" if trace == "1" else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description="Run one graft benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not GRAFT_SOURCES.is_dir():
        fail(f"graft sources not found at {GRAFT_SOURCES.relative_to(ROOT)}; "
             "run from the root of a graft checkout")
    if shutil.which("java") is None:
        fail("java not found on PATH")
    env = tool_env()
    cp = ensure_build(env)

    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'local'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(work / "data"),
            "--out", str(BUILD)]
    log = BUILD / f"run-{args.workload}-{args.seed}-t{args.trace}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run timed out after {RUN_TIMEOUT_S}s (log: {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        fail(f"run failed with exit code {proc.returncode} (log: {log})")
    want = manifest_units(args.workload, args.trace)
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if want is not None and got != want:
        fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json's {sorted(want.items())}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
