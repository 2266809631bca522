#!/usr/bin/env python3
"""Self-test of the replication benchmark, run from the repository root:

    python3 perfbench/selftest.py

1. A tiny run of each workload, untraced and traced, prints every metric
   named in BENCHMARK.json with its unit, and passes its checks.
2. The same seed gives an identical WAL digest, another seed a different
   one, and a run prints the digests its seed gives.
3. Negative control: with the oracle perturbed by one row the run must
   report a failed check.

Exits 0 when every step passes.
"""
import json
import os
import subprocess
import sys

RUN = [sys.executable, os.path.join("perfbench", "run.py")]
failures = []


def run(*args):
    p = subprocess.run(RUN + list(args), stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"selftest: run {' '.join(args)} exited {p.returncode}")
    lines = p.stdout.splitlines()
    return lines, json.loads(lines[-1])


def expect(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        failures.append(what)


def fingerprint(lines):
    return next(json.loads(l)["fingerprint"] for l in lines if l.startswith('{"fingerprint"'))


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    tiny = ["--seconds", "3", "--size", "tiny"]
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            lines, res = run("--workload", w, "--seed", "11", "--trace", trace, *tiny)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{w} trace={trace}: prints every {key} metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{w} trace={trace}: correct, {res['failed']} of {res['attempted']} failed")
            if trace == "0":
                fp = fingerprint(lines)
                _, only = run("--workload", w, "--seed", "11", "--trace", "0", *tiny,
                              "--fingerprint-only")
                expect(fp["wal_sha256"] == only["fingerprint"]["wal_sha256"] and
                       fp["collection_sha256"] == only["fingerprint"]["collection_sha256"],
                       f"{w}: the run used the inputs its seed gives")

    args = ["--workload", "backlog", "--trace", "0", "--seconds", "20", "--fingerprint-only"]
    a = run("--seed", "1", *args)[1]["fingerprint"]["wal_sha256"]
    b = run("--seed", "1", *args)[1]["fingerprint"]["wal_sha256"]
    c = run("--seed", "2", *args)[1]["fingerprint"]["wal_sha256"]
    expect(a == b, "same seed, same WAL digest")
    expect(a != c, "different seed, different WAL digest")

    _, res = run("--workload", "backlog", "--seed", "11", "--trace", "0", *tiny, "--perturb-oracle")
    expect(not res["correct"] and res["failed"] >= 1,
           "negative control: an oracle short of one row fails the check")

    print("selftest:", "PASS" if not failures else f"FAIL ({len(failures)})")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
