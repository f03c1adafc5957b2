#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

The first run in a checkout compiles the library together with the
benchmark (sbt, outputs under .bench_build/) and records a class-data-sharing
archive of the classes a run loads (see train()). Each run starts one JVM with
Spark at local[<cores>], measures the workload for S seconds, checks its
outputs and prints as its last stdout line one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
traced run also writes its spans to .bench_build/traces/. The exit code is
non-zero when a check failed or the run could not produce a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_LIMIT_S = 170
sys.path.insert(0, HERE)
import tables  # noqa: E402

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source tree and record its class archive; returns
    the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(ARCHIVE):
        with open(stamp) as fh:
            saved = fh.read().split("\n", 1)
        if saved[0] == digest and len(saved) == 2:
            return saved[1].strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=fh, text=True, timeout=450)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}", 3)
    cp = lines[-1].strip()
    train(cp)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def train(cp):
    """Run both workloads once at tiny size (perfbench.Train) in a JVM that
    dumps every class it loaded into ARCHIVE (JDK class-data sharing). Runs
    map the archive instead of loading and verifying those classes from the
    jars, which takes about ten seconds of JVM start and cold phase off
    every run on 4 cores. The run's timings are discarded."""
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tables.generate(data, 1, 0.02)
    log = os.path.join(BUILD, "train.log")
    code, _ = run_jvm(cp, "perfbench.Train", [work, data], work, log, 400,
                      [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        die(f"class archive run failed (exit {code}); see {log}", 3)


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cp, main, args, work, log_path, limit_s, flags):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + flags + ADD_OPENS + ["-cp", cp, main] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {limit_s:.0f} s; see {log_path}", 4)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def oracle_check(data, results):
    """Compare the dumped results with SparkEntry.oracleSql run by DuckDB,
    through the repository's comparator; returns its FAIL lines."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "compare.py"), data, results],
                       capture_output=True, text=True, timeout=120)
    fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    if p.returncode != 0 and not fails:
        fails = [f"compare.py exited {p.returncode}: {p.stderr.strip()[-300:]}"]
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no library sources next to the benchmark (src/main/scala/graft)")
    if not os.path.isfile(os.path.join(ROOT, "scripts", "compare.py")):
        die("no oracle comparator next to the benchmark (scripts/compare.py)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build and run the benchmark")
    cp = build()
    started = time.time()  # a run's time limit excludes the one-off build
    want = expected_metrics(a.trace == 1)

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--scale", a.scale,
            "--work", work]
    data = os.path.join(work, "data")
    if a.workload == "pipeline_batch":
        tables.generate(data, a.seed, 0.02 if a.scale == "tiny" else 0.05)
        args += ["--data", data]

    log_path = os.path.join(BUILD, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    code, out = run_jvm(cp, "perfbench.Main", args, work, log_path,
                        RUN_LIMIT_S - (time.time() - started), [f"-XX:SharedArchiveFile={ARCHIVE}"])
    lines = out.splitlines()
    for l in lines:
        if l.startswith("perfbench-run-info "):
            print(l)
    res = [l for l in lines if l.startswith('{"correct"')]
    if code != 0 or not res:
        die(f"JVM exited {code} without a result; see {log_path}", 5)
    result = json.loads(res[-1])

    if a.workload == "pipeline_batch":
        fails = oracle_check(data, os.path.join(work, "results"))
        for f in fails:
            print(f"perfbench: oracle mismatch {f}", file=sys.stderr)
        result["failed"] += len(fails)
        result["correct"] = result["correct"] and not fails

    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        die(f"printed metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}", 6)

    if a.trace:
        dst = os.path.join(BUILD, "traces", tag + ".json")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(os.path.join(work, "trace.json"), dst)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
