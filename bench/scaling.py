"""Two-cluster-size scaling bench (north rule: efficiency >= 0.8).

Runs the identical pipeline job on the identical input at local[N]
and local[4N] in separate JVMs (the sandbox stand-in for N vs 4N
executors). The two levels are INTERLEAVED pair-by-pair — this host
shows multi-minute hypervisor noise drift (5-30% steal spikes), so
back-to-back pairs cancel drift that sequential blocks don't:

    pair_i = (T_N_i / T_4N_i) / 4;  efficiency = median(pair_i)

Prints one JSON line; pass --write to (re)record BENCH/BASELINE.md.
Usage:
    python bench/scaling.py [--rows 1600000] [--n 2] [--pairs 3] [--write]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_level(cores: int, data: str, scratch: str, reps: int, tag: str,
              warm_data: str | None = None) -> list[float]:
    cmd = [sys.executable, os.path.join(REPO, "bench/scaling_worker.py"),
           "--cores", str(cores), "--data", data, "--scratch", scratch,
           "--reps", str(reps), "--tag", tag]
    if warm_data:
        cmd += ["--warm-data", warm_data]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, cwd=REPO)
    last = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(last)["times"]


def main() -> None:
    # N=2 -> 4N=8 stays inside this host's measured envelope: per-core
    # throughput is flat from 2 to 8 heavy cores and degrades beyond
    # ~8-12 (memory bandwidth + 5-30% hypervisor steal at full width),
    # so larger pairs measure the host, not the engine.
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_600_000)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--write", action="store_true",
                    help="overwrite BENCH/BASELINE.md with this run "
                         "(default: print JSON only, keep the recorded "
                         "canonical evidence)")
    ap.add_argument("--data-dir", default=None,
                    help="reuse a pre-generated fixture dir (as laid out "
                         "by a prior --keep run: <dir>/data[, <dir>/warm]) "
                         "instead of generating+deleting one — lets large "
                         "fixtures amortize over several invocations")
    ap.add_argument("--keep", action="store_true",
                    help="don't delete the generated fixture (prints its "
                         "path for --data-dir reuse)")
    args = ap.parse_args()

    from llogtail_spark.generate import write_fixture

    # input on tmpfs (read-mostly, stable); sink scratch on disk where
    # the page cache absorbs writes asynchronously
    in_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    scratch = tempfile.mkdtemp(prefix="llogtail-scaling-")
    n_files = args.n * 4 * 4  # >=4 waves of splits at the big level
    if args.data_dir:
        data_tmp = args.data_dir
        data = os.path.join(data_tmp, "data")
        if not os.path.isdir(data):
            raise SystemExit(f"--data-dir has no data/ subdir: {data}")
    else:
        data_tmp = tempfile.mkdtemp(prefix="llogtail-scaling-in-", dir=in_base)
        data = os.path.join(data_tmp, "data")
        write_fixture(data, args.rows, seed=42, n_files=n_files)

    # above ~2M rows, full-input warmup passes dominate wall clock
    # without warming anything the small fixture doesn't (identical
    # plans, tmpfs input): warm on a 400k side fixture instead
    warm_data = None
    if args.rows > 2_000_000:
        warm_data = os.path.join(data_tmp, "warm")
        if not os.path.isdir(warm_data):
            write_fixture(warm_data, 400_000, seed=7, n_files=n_files)

    small, big = args.n, args.n * 4
    t_small: list[float] = []
    t_big: list[float] = []
    effs: list[float] = []
    probes: list[float] = []
    for i in range(args.pairs):
        # 1-thread membw probe (fresh subprocess) tags each pair with
        # the host window it ran in: this host shows multi-minute
        # hypervisor steal windows that inflate reps 1.2-2.5x on
        # identical code/input, and the probe is how a pair's
        # efficiency gets adjudicated as engine vs window
        probe = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench/membw.py"),
             "--threads", "1"],
            capture_output=True, text=True, cwd=REPO,
        )
        try:
            gbs = json.loads(probe.stdout.splitlines()[-1])[
                "triad_aggregate_GBps"]["1"]
        except Exception:
            gbs = -1.0
        probes.append(gbs)
        print(f"pair {i} pre-probe: membw_1t={gbs} GB/s",
              file=sys.stderr, flush=True)
        ts = run_level(small, data, scratch, 1, f"s{i}", warm_data)[0]
        tb = run_level(big, data, scratch, 1, f"b{i}", warm_data)[0]
        t_small.append(ts)
        t_big.append(tb)
        effs.append((ts / tb) / (big / small))
        print(f"pair {i}: T_{small}={ts}s T_{big}={tb}s eff={effs[-1]:.3f}",
              file=sys.stderr, flush=True)

    med_s, med_b = statistics.median(t_small), statistics.median(t_big)
    thr_s, thr_b = args.rows / med_s, args.rows / med_b
    # headline = MINIMUM pair efficiency: the conservative bound.
    # Low-core runs absorb the host's background kernel work
    # disproportionately, so later pairs can show efficiency > 1
    # (T_N inflated) — reporting the min keeps the claim honest:
    # every pair, including the least favorable, must clear 0.8.
    eff = min(effs)

    result = {
        "rows": args.rows,
        "cores_small": small, "times_small": t_small, "seq_per_sec_small": round(thr_s, 1),
        "cores_big": big, "times_big": t_big, "seq_per_sec_big": round(thr_b, 1),
        "pair_efficiencies": [round(e, 3) for e in effs],
        "pair_pre_probes_membw_1t_gbs": probes,
        "scaling_efficiency_median": round(statistics.median(effs), 3),
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result))

    if args.data_dir or args.keep:
        print(f"fixture kept at {data_tmp}", file=sys.stderr)
    else:
        shutil.rmtree(data_tmp, ignore_errors=True)  # tmpfs fixture = RAM
    shutil.rmtree(scratch, ignore_errors=True)
    if not args.write:
        return
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH/BASELINE.md"), "w") as f:
        f.write(f"""# BENCH/BASELINE — scaling evidence (north rule)

Identical job (full parse -> enrich -> route -> ship -> checkpoint
pipeline, 3 sinks, {args.rows} synthetic pre-tokenized sequences,
seed=42, {n_files} input files), identical configs, two parallelism
levels in separate JVMs, INTERLEAVED pair-by-pair (cancels the
multi-minute hypervisor noise drift this host exhibits). Each
invocation warms up (Python workers, JIT, page cache) before its
timed rep.

| metric | value |
|---|---|
| routed sequences/sec @ local[{small}] | {thr_s:,.0f} (times: {t_small}) |
| routed sequences/sec @ local[{big}] | {thr_b:,.0f} (times: {t_big}) |
| per-pair efficiency (T_{small} / T_{big}) / 4 | {[round(e, 3) for e in effs]} |
| scaling efficiency (MIN pair — conservative bound) | **{eff:.3f}** (target >= 0.8) |
| scaling efficiency (median of pairs) | {statistics.median(effs):.3f} |

Method notes:
- N={small} vs 4N={big} keeps the big level within the host's 32
  vCPUs; full-width local[32] runs showed 5-30% hypervisor steal
  spikes that measure the host, not the engine.
- What made it scale (profiled, see commit history): one-pass
  exploded staged write (a persist+K-writes shape REGRESSED with
  cores from cache pressure); scalar tok_hash checksums (JVM
  xxhash64 over array<int> was ~30x slower); native Arrow UDF parse
  (zero-copy list access, no pandas materialization); fixed-size
  pre-touched ParallelGC heap (G1 commit/uncommit caused page-fault
  storms); footer-metadata input identity (no identity scan). Scan
  splits follow Spark's rule, min(128 MB, bytes per core), which
  gives at least one split per core on these inputs.

Reproduce: `python bench/scaling.py --rows {args.rows} --n {small} --pairs {args.pairs}`
""")
    print("wrote BENCH/BASELINE.md", file=sys.stderr)


if __name__ == "__main__":
    main()
