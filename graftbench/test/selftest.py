#!/usr/bin/env python3
"""Measurement self-test of the benchmark. From the repository root:

    python3 graftbench/test/selftest.py

1. Span billing (graftbench.SelfTest): a span around one count() bills
   exactly 1 job, a span around a lazy select bills 0, and a job from a
   thread without the span property bills to the span open at the time.
2. A tiny-corpus smoke (sf 0.001) of each workload, untraced and
   traced: the run exits 0, its outputs check correct, and its last
   line carries exactly the end_to_end (untraced) or per_layer (traced)
   metrics of BENCHMARK.json, each with its unit; end-to-end values are
   never 0.

Exits 1 on the first failure.
"""
import json
import os
import subprocess
import sys


def run(workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "graftbench/run.py", "--workload", workload,
                           "--seed", "7", "--seconds", "1", "--trace", str(trace), *extra],
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def main() -> None:
    bench = json.load(open("BENCHMARK.json"))
    p = run("selftest", 1)
    print(p.stdout, end="")
    if p.returncode != 0 or "FAIL" in p.stdout or "PASS" not in p.stdout:
        fail("span billing\n" + p.stderr[-2000:])

    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(w, trace, "--sf", "0.001", "--drops", "12")
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}\n{p.stderr[-2000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                fail(f"{w} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics differ: missing "
                     f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                     f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
            if trace == 0:
                zero = [k for k, v in res["metrics"].items() if v["value"] == 0]
                if zero:
                    fail(f"{w}: end-to-end metrics read 0: {zero}")
            print(f"PASS {w} trace={trace}: {len(got)} metrics")


if __name__ == "__main__":
    os.chdir(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
    main()
