#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size, from the root of a checkout:

    python3 perfbench/selftest.py

It shows that
  - a seed fixes the inputs: the staged tick inputs and the pipeline
    tables are byte-identical for the same seed and differ for another;
  - store_mb repeats exactly for the same seed;
  - every run prints exactly the metric names and units of BENCHMARK.json
    (run.py refuses a result that does not) and passes its checks;
  - the traced run writes spans, and every Spark job in it has a parent
    span that exists;
and prints the tracing overhead (trace.op_ms_p50 of a traced run against
op_ms_p50 of the untraced run of the same seed). Exits non-zero on the
first failed expectation.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402
import tables  # noqa: E402

SEED = 7


def expect(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        sys.exit(1)


def bench(workload, trace, seed=SEED):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
                        "--scale", "tiny"], cwd=ROOT, capture_output=True, text=True)
    expect(p.returncode == 0, f"{workload} trace={trace} exits 0 "
           f"(stderr tail: {p.stderr.strip()[-300:]!r})")
    return json.loads(p.stdout.strip().splitlines()[-1])


def digest(cp, seed):
    return subprocess.run(["java", "-cp", cp, "perfbench.Digest", str(seed), "10"],
                          capture_output=True, text=True, check=True).stdout.strip()


def tables_digest(seed):
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
        tables.generate(d, seed, 0.02)
        h = hashlib.sha256()
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            with open(f, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()


def main():
    cp = run.build()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}

    a, b, c = digest(cp, SEED), digest(cp, SEED), digest(cp, SEED + 1)
    expect(a == b and a != c, "staged tick inputs: same seed same bytes, other seed differs")
    a, b, c = tables_digest(SEED), tables_digest(SEED), tables_digest(SEED + 1)
    expect(a == b and a != c, "pipeline tables: same seed same bytes, other seed differs")

    plain = {}
    for w in [x["name"] for x in spec["workloads"]]:
        r1 = bench(w, 0)
        expect(r1["correct"] and r1["failed"] == 0, f"{w}: checks pass ({r1['attempted']} attempted)")
        expect({k: v["unit"] for k, v in r1["metrics"].items()} == e2e,
               f"{w}: end-to-end metric names and units match BENCHMARK.json")
        plain[w] = r1
    for w in plain:
        again = bench(w, 0)["metrics"]["store_mb"]["value"]
        expect(again == plain[w]["metrics"]["store_mb"]["value"],
               f"{w}: store_mb repeats exactly ({again} MB)")

    for w in plain:
        t = bench(w, 1)
        expect({k: v["unit"] for k, v in t["metrics"].items()} == layer,
               f"{w}: per-layer metric names and units match BENCHMARK.json")
        with open(os.path.join(run.BUILD, "traces", f"{w}-{SEED}-t1.json")) as fh:
            doc = json.load(fh)
        ids = {s["id"] for s in doc["spans"]}
        parented = [j for j in doc["jobs"] if j["parent"] in ids]
        expect(doc["spans"] and parented and all(j["parent"] in ids or j["parent"] == 0
                                                  for j in doc["jobs"]),
               f"{w}: {len(doc['spans'])} spans, {len(parented)} of {len(doc['jobs'])} "
               f"Spark jobs carry the id of their parent span")
        base = plain[w]["metrics"]["op_ms_p50"]["value"]
        traced = t["metrics"]["trace.op_ms_p50"]["value"]
        print(f"     {w}: tracing overhead {traced / base - 1:+.1%} "
              f"(op_ms_p50 {base:.0f} ms untraced, {traced:.0f} ms traced)")


if __name__ == "__main__":
    main()
