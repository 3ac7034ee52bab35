#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine from the
repository's sources with the harness in this directory (sbt, offline);
a later run builds again when any of those sources has changed.
Each run generates its inputs from the seed, runs the workload in one
JVM, checks the outputs, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and
the span file is written next to the run's raw result.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# What the build reads: the engine's sources and the harness with its
# build definition. A change to any of them makes the next run rebuild.
BUILD_INPUTS = [os.path.join("src", "main", "scala"),
                os.path.join("perfbench", "src"),
                os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project", "build.properties")]
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd():
    return (["java", "-Xmx2g"] +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-cp", open(CLASSPATH).read().strip(), "graft.perfbench.Main"])


def sources_digest(root):
    """SHA-256 over the path and content of every file the build reads."""
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_harness(build_dir):
    """Compile engine + harness with sbt and write the runtime classpath."""
    export = os.path.join(build_dir, "export.txt")
    with open(os.path.join(build_dir, "build.log"), "w") as log, \
            open(export, "w") as out:
        subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=log,
            check=True, timeout=840)
    lines = [l.strip() for l in open(export) if "perfbench" in l and ".jar" in l]
    if not lines:
        raise RuntimeError("sbt did not export a classpath")
    with open(os.path.join(build_dir, "classpath.txt"), "w") as f:
        f.write(lines[-1])


def build(root=ROOT, build_dir=BUILD):
    """Build unless the last build was made from the same sources; the
    stamp file holds the digest of the sources it was made from."""
    stamp = os.path.join(build_dir, "built")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(build_dir, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    compile_harness(build_dir)
    with open(stamp, "w") as f:
        f.write(digest)


def run_engine(workload, work, trace, deadline):
    out = os.path.join(work, "out")
    os.makedirs(out)
    cmd = java_cmd() + [
        "--workload", workload, "--data", os.path.join(work, "data"),
        "--plan", os.path.join(work, "plan.json"), "--out", out,
        "--trace", str(trace)]
    with open(os.path.join(work, "engine.log"), "w") as log:
        subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                       check=True, timeout=max(10, deadline - time.time()))
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found "
                 "next to the benchmark; run from a full checkout")
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload}; one of {names}")

    build()
    start = time.time()
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "data"))
    plan, private = workloads.make_inputs(
        a.workload, os.path.join(work, "data"), a.seed, a.seconds)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    result = run_engine(a.workload, work, a.trace,
                        start + RUN_LIMIT_S)
    wrong = oracle.check(a.workload, os.path.join(work, "data"),
                         os.path.join(work, "out"), result)
    e2e, layers, attempted, failed, failures, notes = workloads.metrics(
        a.workload, result, private, wrong)

    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    if a.trace:
        chosen = {m["name"]: layers.get(m["name"], 0.0) for m in s["per_layer"]}
        print(f"spans: {os.path.join(work, 'out', 'spans.jsonl')}")
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in s["end_to_end"]}
    lat = notes["latency"]
    print(f"{a.workload} seed={a.seed}: {lat['n']} latency samples, "
          f"op_tail_ms is p{lat['tail_pct']}"
          f"{'' if lat['tail_supported'] else ' (fewer than 10 samples beyond it)'}; "
          f"fail_ratio={failed / max(1, attempted):.4f}; "
          f"engine {result['run_s']:.1f} s of {time.time() - start:.1f} s")
    for why in failures[:20]:
        print(f"FAIL {why}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))


if __name__ == "__main__":
    main()
