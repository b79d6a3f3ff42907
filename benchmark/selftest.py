"""Self-test of the benchmark itself.

    python3 benchmark/selftest.py

Run from the root of a checkout. Every check is a real `run.py` run at
the tiny input size (one Spark session each, a few minutes in all):

- smoke: each workload prints every metric BENCHMARK.json names for its
  --trace mode, each with its unit, and its outputs pass their checks;
- tamper: with the expected outputs deliberately skewed (--tamper),
  every timed run registers as failed instead of passing silently;
- bare directory: in a directory holding only BENCHMARK.json and the
  benchmark, run.py exits non-zero without printing a result.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def bench(cwd: str, workload: str, trace: int, *extra: str):
    """(exit code, parsed last stdout line or None) of one tiny run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, os.path.relpath(RUN, ROOT)),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result


def expect(ok: bool, what: str, failures: list) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    named = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
             1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    # tail_increment is runnable but not one of BENCHMARK.json's workloads
    workloads = [w["name"] for w in spec["workloads"]] + ["tail_increment"]
    failures: list[str] = []

    for w in workloads:
        for trace in (0, 1) if w != "tail_increment" else (0,):
            rc, r = bench(ROOT, w, trace)
            tag = f"{w} --trace {trace}"
            expect(rc == 0 and r is not None, f"{tag}: exits 0 with a result", failures)
            if r is None:
                continue
            expect(set(r) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result has exactly the contract's keys", failures)
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{tag}: outputs pass their checks", failures)
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            expect(got == named[trace],
                   f"{tag}: prints every named metric with its unit", failures)

    for w in ("bulk_fresh", "corpus_funnel"):
        rc, r = bench(ROOT, w, 0, "--tamper")
        expect(rc == 0 and r is not None and not r["correct"]
               and r["failed"] == r["attempted"] >= 1,
               f"{w} --tamper: every timed run registers as failed", failures)

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, r = bench(bare, workloads[0], 0)
    shutil.rmtree(bare, ignore_errors=True)
    expect(rc != 0 and r is None,
           "bare directory: exits non-zero without a result", failures)

    print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
