#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload registry|tail --seed N \\
        --seconds S --trace 0|1

Builds the harness (and through it the program) from source when the
sources changed, generates the workload's inputs from the seed, runs one
JVM, checks the outputs, and prints one JSON object as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (and the spans go to perfbench/.out/).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
RUN_LIMIT_S = 170

# Corpus scale of the registry workload.
REGISTRY_SF = 0.01
# The tail workload's payloads: the events rows of this scale.
SOURCE_SF = 0.1


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program; export classpath and JVM options."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={tmp}", "exportRuntime"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        die(f"build failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def jvm_command(args, work, data):
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(BUILD, "jvm_options.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    return (["java"] + opts +
            ["-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, "graftbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--work", work,
             "--out", os.path.join(work, "result.json"),
             "--spans", os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")])


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=["registry", "tail"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if os.environ.get("SPARK_GRAFT_NO_FREEZE") == "1":
        die("SPARK_GRAFT_NO_FREEZE=1 disables correctness-bearing freezes; unset it")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not here")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as e:
        die(f"cannot read BENCHMARK.json: {e}")

    build()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    try:
        data = os.path.join(work, "data")
        if args.workload == "registry":
            gen.write_corpus(data, REGISTRY_SF, args.seed)
        else:
            os.makedirs(data)
            gen.write_payloads(os.path.join(data, "payloads.tsv"), SOURCE_SF, args.seed)
        proc = subprocess.Popen(jvm_command(args, work, data), cwd=work,
                                stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("run exceeded its time limit")
        if rc != 0:
            die(f"harness exited with {rc}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        checks = list(res["checks"])
        if args.workload == "registry":
            checks += oracle.compare(data, res["extra"]["oracle"])
        for c in checks:
            if not c["ok"]:
                print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "extra": {
            k: v for k, v in res["extra"].items() if k != "oracle"},
            "end_to_end": res["end_to_end"], "checks": len(checks)}), file=sys.stderr)
        kind = "per_layer" if args.trace else "end_to_end"
        metrics = {}
        for m in spec[kind]:
            # a layer the workload does not touch reads 0; end-to-end ones are always there
            v = res[kind].get(m["name"], 0.0) if args.trace else res[kind][m["name"]]
            metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(json.dumps({"correct": all(c["ok"] for c in checks),
                          "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
