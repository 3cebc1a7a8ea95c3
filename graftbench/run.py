#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed).

    python3 graftbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program from source
(graftbench/build.py), generates the workload's inputs from the seed
(graftbench/gen.py), runs one benchmark process (graftbench.Main) that
measures a cold pass and then --seconds of warm passes, checks the outputs, and prints as its last
stdout line one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1 (BENCHMARK.json lists both). The line before it holds
the host-speed probes (graft.Calibrate) taken at run start and end.

Everything the run writes goes under .bench_build/ and is removed at
the end, except the build and a traced run's spans (.bench_build/traces/).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload: corpus scale factor, and for review_ingest
# the rows per drop.
SIZES = {
    "etl_batch": {"sf": 0.02},
    "review_ingest": {"sf": 0.01, "reviews": 500, "restaurants": 100},
}
JVM_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES) + ["selftest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the corpus scale factor")
    ap.add_argument("--drops", type=int, help="override the review_ingest drop count")
    args = ap.parse_args()

    build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(
        build.BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, cores: int) -> int:
    size = dict(SIZES.get(args.workload, {"sf": 0.001}))
    if args.sf is not None:
        size["sf"] = args.sf
    # enough drops for the run: a cycle takes well over 1/3 s
    size["drops"] = args.drops or int(20 + 3 * args.seconds)
    corpus = os.path.join(work, "corpus")
    gen.corpus(corpus, size["sf"], args.seed)
    drops = os.path.join(work, "drops")
    if args.workload == "review_ingest":
        gen.drops(drops, corpus, args.seed, size["drops"], size["reviews"], size["restaurants"])

    out = os.path.join(work, "result.json")
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={work}", f"-Dderby.system.home={work}",
        "-cp", build.classpath(), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", corpus, "--drops", drops, "--work", os.path.join(work, "jvm"),
        "--out", out, "--cores", str(cores)]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"graftbench: benchmark process exceeded {JVM_TIMEOUT_S} s\n")
        return 1
    if args.workload == "selftest":
        sys.stdout.write(p.stdout)
        return p.returncode
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(p.stderr[-6000:])
        sys.stderr.write(f"graftbench: benchmark process failed (exit {p.returncode})\n")
        return 1
    for line in p.stderr.splitlines():
        if line.startswith("[graftbench]"):
            sys.stderr.write(line + "\n")
    res = json.load(open(out))
    if args.trace:  # keep the spans: the run's scratch dir is removed
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copyfile(os.path.join(work, "jvm", "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))

    attempted, failed = res["attempted"], res["failed"]
    if res["check_ops"]:
        mismatches = oracle.check(corpus, os.path.join(work, "jvm", "check"), res["check_ops"])
        for name, msg in mismatches:
            sys.stderr.write(f"[graftbench] check {name}: {msg}\n")
        failed += len(mismatches)
    if args.trace:
        metrics = res["per_layer"]
        metrics["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    else:
        metrics = res["end_to_end"]
    info = {"calibrate": res["calibrate"], "cold_setup_s": res["cold_setup_s"],
            "wall_s": round(time.time() - t0, 3)}
    if args.trace:  # the traced run's own end-to-end figures, for the tracing overhead
        info["traced_end_to_end"] = {k: v["value"] for k, v in res["end_to_end"].items()}
    print(json.dumps(info))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
