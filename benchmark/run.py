"""llogspark benchmark: one workload per invocation.

    python3 benchmark/run.py --workload bulk_fresh --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the workload's inputs from
--seed, sets up (Spark session, input generation, warm-up), then times
whole pipeline runs for --seconds (at least one run; another starts
only while it should end in time), checking every run's outputs. The
last two stdout lines are the wall-clock figures and the result:

    {"workload": ..., "run_s": {...}, "error_rate": {...}, ...}
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of the timed runs; --trace 1
makes untraced and traced runs instead and reports the per-layer
metrics (see benchmark/README.md). Everything the run writes lives
under .bench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
import zlib

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from procfs import tree_cpu_s, tree_peak_rss  # noqa: E402

# the Spark JVM's heap: get_spark makes it fixed-size and pre-touched,
# so all of it is resident from the JVM's start whatever the program does
JVM_HEAP_MB = 2048

# the result line's metrics with --trace 0. Set-up and runs are measured
# in CPU seconds of the whole process tree, scaled to a reference host
# speed (CALIB_REF_S below): on a shared host the wall times of bulk_fresh's
# set-up and run spread 0.32 and 0.33 (quartile distance / median) over
# ten seeds, more than any bound a benchmark may set. A run's CPU
# seconds leave out the JIT compiler threads, over half of a
# corpus_funnel run's CPU this early in the JVM's life. The wall-time
# figures are printed on the line before the result (DETAIL).
END_TO_END = {
    "setup_s": "s",
    "run_cpu_s": "s",
    "input_rows_per_cpu_s": "rows/cpu-s",
    "routed_rows_per_cpu_s": "rows/cpu-s",
    "peak_rss_nonheap_mb": "MB",
}

DETAIL = {
    "setup_wall_s": "s",
    "run_s": "s",
    "input_rows_per_s": "rows/s",
    "routed_rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}

# --trace 1: after set-up, untraced (False) and traced (True) runs in
# this order, so that a steady drift along the JVM's warm-up curve
# cancels out of trace.overhead_s
TRACE_ORDER = (False, True, False)

PER_LAYER = {
    "reader.list_parts_s": "s",
    "reader.files_identity_s": "s",
    "reader.scan_s": "s",
    "reader.input_bytes": "bytes",
    "parse.self_s": "s",
    "parse.match_ratio": "ratio",
    "enrich.self_s": "s",
    "enrich.hit_ratio": "ratio",
    "route.self_s": "s",
    "route.fanout": "ratio",
    "pipeline.stage_write_s": "s",
    "pipeline.readback_s": "s",
    "pipeline.ship_s": "s",
    "pipeline.driver_s": "s",
    "pipeline.files_written": "count",
    "manifest.read_all_calls": "count",
    "manifest.read_all_s": "s",
    "manifest.commit_calls": "count",
    "manifest.commit_s": "s",
    **{f"corpus.{s}_s": "s" for s in (
        "exact_dedup", "near_dedup", "decontaminate", "quality", "sample",
        "pack", "ship")},
    **{f"corpus.{s}_rows": "count" for s in (
        "exact_dedup", "near_dedup", "decontaminate", "quality", "sample",
        "pack")},
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.slot_busy_ratio": "ratio",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
}


# Host-speed calibration. The machine the benchmark was defined on (a
# shared 4-vCPU 2.0 GHz Xeon VM) changes speed by more than 2x within
# minutes, and CPU seconds change with it. CALIB_REF_S is the CPU
# seconds of one zlib compression of CALIB_DATA (level 6) there when it
# was fast. The CPU-second metrics are scaled by
# (CALIB_REF_S / the compression's CPU seconds measured around the
# timed runs) ** CALIB_EXPONENT. Over 43 invocations with the
# compression reading 42-75 ms, a least-squares fit of log CPU seconds
# on log compression time gave exponents of 1.42-1.51 for each of
# bulk_fresh's and corpus_funnel's set-up and run: the pipelines slow
# down more than the compression does.
CALIB_REF_S = 0.044
CALIB_EXPONENT = 1.5
CALIB_DATA = b"".join(
    hashlib.sha256(i.to_bytes(4, "little")).hexdigest().encode()[:16] + b" "
    for i in range(1 << 16))


def calibrate(threads: int, per_thread: int = 4) -> float:
    """CPU seconds per compression of CALIB_DATA, with `threads` threads
    compressing at once (zlib releases the GIL) so that every core is
    measured under the same load."""
    def job():
        for _ in range(per_thread):
            zlib.compress(CALIB_DATA, 6)

    c0 = time.process_time()
    ts = [threading.Thread(target=job) for _ in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return (time.process_time() - c0) / (threads * per_thread)


def log(msg: str) -> None:
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside `work`, and make the
    package importable by Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}")
    os.environ["SPARK_DRIVER_MEM"] = f"{JVM_HEAP_MB}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def start_spark(work: str, event_log: str | None):
    from llogtail_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # data-sized shuffle partitions (bench/corpus_bench.py's conf)
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    return get_spark("llogspark-bench", cores=cores, extra_conf=conf), cores


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=10)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def attempt(w, i: int, runs: list, failures: list):
    try:
        out = w.run_once(i)
        problems = w.check(out)
    except Exception as e:
        traceback.print_exc()
        failures.append(f"run {i}: {type(e).__name__}: {e}"[:500])
        return None
    runs.append(out)
    if problems:
        failures.append(f"run {i}: " + "; ".join(problems)[:500])
    return out


def trace_runs(w, spark, i: int, runs: list, failures: list):
    """--trace 1: the runs of TRACE_ORDER, each checked. Returns
    (untraced outputs, [(traced output, its span)], tracer)."""
    from tracing import Tracer, install_layer_wraps

    tracer = Tracer()
    untraced, traced = [], []
    for k, on in enumerate(TRACE_ORDER, start=i):
        if not on:
            out = attempt(w, k, runs, failures)
            if out is not None:
                untraced.append(out)
            continue
        install_layer_wraps(tracer, spark)
        try:
            with tracer.span("bench.traced_run") as span:
                out = attempt(w, k, runs, failures)
        finally:
            tracer.unwrap_all()
        if out is not None:
            traced.append((out, span))
    if not traced or not untraced:
        raise RuntimeError("every traced or every untraced run failed")
    return untraced, traced, tracer


def run_layer_metrics(tracer, out, run_span: dict) -> tuple[dict, dict]:
    """Per-layer metrics of one traced run from its spans, and the
    span of its pipeline call."""
    m = {}
    inside = lambda name: tracer.named(name, within=run_span)  # noqa: E731
    top = (inside("pipeline.run_pipeline")
           or inside("corpus_pipeline.run_corpus_pipeline"))[0]
    for key, name in (("reader.list_parts_s", "reader.list_parts"),
                      ("reader.files_identity_s", "reader.files_identity"),
                      ("manifest.read_all_s", "manifest.read_all"),
                      ("manifest.commit_s", "manifest.commit"),
                      ("pipeline.stage_write_s", "spark.write"),
                      ("pipeline.readback_s", "spark.collect")):
        m[key] = tracer.total(name, within=top)
    m["manifest.read_all_calls"] = len(tracer.named("manifest.read_all", top))
    m["manifest.commit_calls"] = len(tracer.named("manifest.commit", top))
    m["pipeline.files_written"] = out.files_written
    if out.funnel:  # corpus workload
        # ship = from the pack stage's manifest commit to the return
        last = tracer.named("corpus_pipeline.commit_stage", top)[-1]
        m["corpus.ship_s"] = m["pipeline.ship_s"] = top["end"] - last["end"]
        for s, v in out.stage_timings.items():
            m[f"corpus.{s}_s"] = v
        for s, v in out.funnel.items():
            m[f"corpus.{s}_rows"] = v
    else:
        m["route.fanout"] = out.routed_rows / out.input_rows
        reads = tracer.named("spark.collect", top)
        if reads:  # ship = from the job-3 readback to the return
            m["pipeline.ship_s"] = top["end"] - reads[-1]["end"]
    return m, top


def lazy_layer_metrics(w, spark, tracer, files: list[str]) -> dict:
    """Scan/parse/enrich/route self times from noop-sink prefixes, and
    the parse and enrich ratios (log workloads only)."""
    from tracing import log_prefixes, log_ratios, prefix_times

    prefixes = log_prefixes(spark, files, w.lookup_path, w.sinks())
    t = prefix_times(tracer, prefixes, reps=2)
    rows, parsed, hit = log_ratios(spark, files, w.lookup_path)
    # the tasks' input metrics miss the parquet reader's reads (~30 KB
    # of a 32 MB table); the process tree's rchar over the scan does not
    return {
        "reader.input_bytes": tracer.named("prefix.scan")[-1]["read_bytes"],
        "reader.scan_s": t["scan"],
        "parse.self_s": max(t["parse"] - t["scan"], 0.0),
        "enrich.self_s": max(t["enrich"] - t["parse"], 0.0),
        "route.self_s": max(t["route"] - t["enrich"], 0.0),
        "parse.match_ratio": parsed / rows,
        "enrich.hit_ratio": hit / rows,
    }


def finish_trace(per_run: list[tuple[dict, dict]], event_log: str,
                 cores: int) -> dict:
    """Fold the event log's job spans and task counters into each traced
    run's metrics and take the median over the traced runs (needs the
    session stopped so the log is complete)."""
    from tracing import engine_metrics, in_window, read_event_log, union_seconds
    from workloads import median

    jobs, tasks = read_event_log(event_log)
    for m, top in per_run:
        run_jobs = in_window(jobs, top, lambda j: j[0])
        m["pipeline.driver_s"] = (top["end"] - top["start"]) - union_seconds(
            [(max(s, top["start"]), min(e, top["end"])) for s, e in run_jobs])
        m["reader.input_bytes"] = sum(
            t["input_bytes"] for t in in_window(tasks, top, lambda t: t["launch"]))
        m.update(engine_metrics(tasks, top, cores))
    return {k: median([m[k] for m, _ in per_run]) for k in per_run[0][0]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test's smoke size")
    ap.add_argument("--tamper", action="store_true",
                    help="self-test: skew the expected outputs after set-up, "
                         "so every timed run must fail its check")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "llogtail_spark")):
        log(f"no llogtail_spark package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import SIZES, WORKLOADS, median

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = None
    try:
        spark, cores = start_spark(work, event_log)
        session_s = time.perf_counter() - T_START
        w = WORKLOADS[args.workload](spark, work, args.seed,
                                     SIZES[args.size][args.workload])
        st = w.setup()
        # set-up counts one input generation: the median of its repeats
        gen_wall, gen_cpu = zip(*st["gen"])
        setup_wall_s = (time.perf_counter() - T_START
                        - sum(gen_wall) + median(gen_wall))
        setup_s = tree_cpu_s() - sum(gen_cpu) + median(gen_cpu)
        log(f"setup {setup_s:.2f} CPU-s, {setup_wall_s:.2f}s wall (session "
            f"{session_s:.2f}s, gen {[round(x, 2) for x in gen_wall]}s, "
            f"warm-up {st['warmup_s']:.2f}s)")

        if args.tamper:
            w.tamper()
        calib = [calibrate(cores) for _ in range(3)]
        runs, failures = [], []
        if args.trace:
            timed, traced, tracer = trace_runs(w, spark, 0, runs, failures)
            attempted = len(TRACE_ORDER)
            per_run = [run_layer_metrics(tracer, out, span)
                       for out, span in traced]
            lazy = ({} if traced[0][0].funnel else
                    lazy_layer_metrics(w, spark, tracer, traced[0][0].files))
            tracer.dump(os.path.join(ROOT, ".bench_work", "traces",
                                     f"{w.name}-seed{w.seed}.json"))
        else:
            # whole runs; another starts only while it should end within
            # --seconds, judged by the last one (at least one run)
            t0, i, last_s = time.perf_counter(), 0, 0.0
            while i == 0 or time.perf_counter() - t0 + last_s <= args.seconds:
                t = time.perf_counter()
                attempt(w, i, runs, failures)
                last_s = time.perf_counter() - t
                i += 1
            attempted, timed = i, list(runs)
        log(f"{len(timed)} {'untraced' if args.trace else 'timed'} runs: "
            f"{[round(r.run_s, 3) for r in timed]} s wall, "
            f"{[round(r.cpu_s, 2) for r in timed]} s CPU")
        calib += [calibrate(cores) for _ in range(3)]
        scale = (CALIB_REF_S / median(calib)) ** CALIB_EXPONENT
        log(f"calibration {[round(c * 1e3, 2) for c in calib]} ms: scale {scale:.3f}")
        peak_mb = tree_peak_rss() / 2**20  # before the JVM and its workers exit
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_spark(spark)
            log(f"session stopped in {time.perf_counter() - t:.2f}s")

    if not timed:
        log("every timed run raised; no metrics to report")
        return 1
    run_s = median([r.run_s for r in timed])
    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(finish_trace(per_run, event_log, cores))
        values.update(lazy)
        values["trace.run_s"] = median([out.run_s for out, _ in traced])
        values["trace.overhead_s"] = values["trace.run_s"] - run_s
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
    else:
        values = {
            "setup_s": setup_s * scale,
            "run_cpu_s": median([r.cpu_s for r in timed]) * scale,
            "input_rows_per_cpu_s": median([r.input_rows / r.cpu_s for r in timed]) / scale,
            "routed_rows_per_cpu_s": median([r.routed_rows / r.cpu_s for r in timed]) / scale,
            "peak_rss_nonheap_mb": peak_mb - JVM_HEAP_MB,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        log(f"FAILED {f}")
    detail = {
        "setup_wall_s": setup_wall_s,
        "run_s": run_s,
        "input_rows_per_s": median([r.input_rows / r.run_s for r in timed]),
        "routed_rows_per_s": median([r.routed_rows / r.run_s for r in timed]),
        "peak_rss_mb": peak_mb,
        "error_rate": len(failures) / attempted,
    }
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "samples": len(timed),
        **{k: {"value": v, "unit": DETAIL[k]} for k, v in detail.items()},
        "run_s_all": [r.run_s for r in timed],
        "cpu_s_all": [r.cpu_s for r in timed],
        "jit_s_all": [r.jit_s for r in timed],
        "setup_cpu_s": setup_s,
        "calib_s": calib,
    }), flush=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
