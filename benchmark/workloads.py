"""The benchmark's workloads.

Each workload builds its inputs from the seed (`setup`), runs the
program once per `run_once` call — the only timed region is the call
into `run_pipeline` / `run_corpus_pipeline` — and checks the outputs
(`check`) against an independent reference (log workloads) or against
the first run with the same inputs (corpus workload).
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

# the pipelines are called through their modules so the traced run's
# attribute wraps (tracing.install_layer_wraps) see the calls
from llogtail_spark import corpus_pipeline, pipeline
from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.corpus_pipeline import CORPUS_STAGES, CorpusConf
from llogtail_spark.generate import LEVEL_NUMS, write_fixture
from llogtail_spark.operators.route import SinkRule
from procfs import tree_cpu_s, tree_jit_cpu_s

# the three sinks bench.py has always routed to; `errors` and
# `warnings` are disjoint, `firehose` takes every row
SINK_PREDICATES = {
    "errors": "level_num >= 40",
    "warnings": "level_num >= 30 AND level_num < 40",
    "firehose": "true",
}

# input sizes: "full" is what BENCHMARK.json's workloads run, "tiny"
# is the self-test's smoke size
SIZES = {
    "full": {
        "bulk_fresh": {"rows": 48_000, "files": 32},
        "tail_increment": {"parts": 256, "rows_per_part": 100, "pending": 8},
        "corpus_funnel": {"docs": 3_000},
    },
    "tiny": {
        "bulk_fresh": {"rows": 1_600, "files": 4},
        "tail_increment": {"parts": 12, "rows_per_part": 20, "pending": 3},
        "corpus_funnel": {"docs": 1_500},
    },
}


@dataclass
class Output:
    """What one run produced, read back after the timed region."""

    run_s: float
    # CPU seconds of the process tree during the run, outside the JVM's
    # JIT compiler threads, and those threads' own
    cpu_s: float
    jit_s: float
    input_rows: int
    routed_rows: int
    files: list[str]  # input files the run processed
    files_written: int
    sinks: dict[str, tuple[int, int, int]] = field(default_factory=dict)
    processed: dict[str, list[str]] = field(default_factory=dict)
    per_part: dict[tuple[str, str], int] = field(default_factory=dict)
    funnel: dict[str, int] = field(default_factory=dict)
    stage_timings: dict[str, float] = field(default_factory=dict)
    stages_run: list[str] = field(default_factory=list)


def _count_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


@dataclass
class Reference:
    """Expected outputs of one generated log table, computed with
    pyarrow straight from the files: level = LEVEL_NUMS[tokens[0]]."""

    seq_dir: str
    per_part: dict[str, dict[str, tuple[int, int]]]  # {part: {sink: (rows, toks)}}
    expected: dict[str, tuple[int, int]]  # {sink: (row_count, tok_total)}
    checksums: dict[str, int] | None = None  # set by the first passing run

    @classmethod
    def of(cls, seq_dir: str) -> "Reference":
        levels = np.asarray(LEVEL_NUMS)
        per_part = {}
        for path in sorted(glob.glob(os.path.join(seq_dir, "*.parquet"))):
            t = pq.read_table(path, columns=["tokens", "n_tok"])
            lvl = levels[pc.list_element(t["tokens"], 0).to_numpy()]
            ntok = t["n_tok"].to_numpy().astype(np.int64)
            masks = {"errors": lvl >= 40, "warnings": (lvl >= 30) & (lvl < 40),
                     "firehose": np.ones(len(lvl), dtype=bool)}
            part = os.path.basename(path)[: -len(".parquet")]
            per_part[part] = {s: (int(m.sum()), int(ntok[m].sum()))
                              for s, m in masks.items()}
        expected = {s: tuple(map(sum, zip(*(v[s] for v in per_part.values()))))
                    for s in SINK_PREDICATES}
        return cls(seq_dir, per_part, expected)

    def path(self, part: str) -> str:
        return os.path.join(self.seq_dir, f"{part}.parquet")


def timed_call(fn, *args):
    """(fn(*args), wall seconds, CPU seconds of the process tree)."""
    c0, t0 = tree_cpu_s(), time.perf_counter()
    res = fn(*args)
    wall = time.perf_counter() - t0
    return res, wall, tree_cpu_s() - c0


def timed_run(fn, *args):
    """(fn(*args), wall seconds, CPU seconds of the process tree outside
    the JVM's JIT compiler threads, CPU seconds of those threads)."""
    j0 = tree_jit_cpu_s()
    res, wall, cpu = timed_call(fn, *args)
    jit = tree_jit_cpu_s() - j0
    return res, wall, cpu - jit, jit


def warm_up(w, runs: int) -> float:
    """`runs` full runs before timing (JVM class loading and JIT, Python
    workers, Arrow), checked like timed ones so a broken tree fails
    before timing; returns their wall seconds."""
    t0 = time.perf_counter()
    for i in range(-runs, 0):
        problems = w.check(w.run_once(i))
        if problems:
            raise RuntimeError(f"warm-up run failed its check: {problems[:3]}")
    return time.perf_counter() - t0


def _timed_gen(fn, reps: int) -> list[tuple[float, float]]:
    """(wall, CPU) seconds of each of `reps` identical input
    generations."""
    return [timed_call(fn)[1:] for _ in range(reps)]


class _LogWorkload:
    """Shared parts of the two `run_pipeline` workloads."""

    def __init__(self, spark, work: str, seed: int, size: dict) -> None:
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.data = os.path.join(work, "data")
        self.lookup_path = os.path.join(self.data, "lookup_sources.parquet")

    def conf(self, workdir: str) -> PipelineConf:
        return PipelineConf(
            input_path=self.ref.seq_dir, lookup_path=self.lookup_path,
            workdir=workdir,
            sinks=[SinkRule(n, p, os.path.join(workdir, "out", n))
                   for n, p in SINK_PREDICATES.items()],
        )

    def sinks(self) -> list[SinkRule]:
        return self.conf(self.work).sinks

    def _generate(self, rows: int, files: int) -> list[tuple[float, float]]:
        """Write the `rows` x `files` table and its Reference; returns
        the (wall, CPU) seconds of each generation. pyarrow generation
        is cheap and deterministic, so set-up repeats it to report a
        median."""
        times = _timed_gen(lambda: write_fixture(self.data, rows, seed=self.seed,
                                                 n_files=files), reps=3)
        self.ref = Reference.of(os.path.join(self.data, "sequences"))
        return times

    def _read_run(self, res, conf: PipelineConf, timing: tuple,
                  parts: list[str]) -> Output:
        ref = self.ref
        sinks = {r["sink"]: (int(r["row_count"]), int(r["tok_total"]),
                             int(r["checksum"]))
                 for r in res.metrics.collect()}
        wanted = set(parts)
        per_part = {(e.sink, e.part): e.row_count
                    for e in mf.read_all(conf.manifest_dir) if e.part in wanted}
        written = sum(
            _count_files(os.path.join(r.path, f"part={p}"))
            for r in conf.sinks for p in parts)
        return Output(
            *timing,
            input_rows=sum(ref.per_part[p]["firehose"][0] for p in parts),
            routed_rows=sum(per_part.values()),
            files=[ref.path(p) for p in parts],
            files_written=written, sinks=sinks, processed=res.processed,
            per_part=per_part,
        )

    def check(self, out: Output) -> list[str]:
        """Problems with `out` against the pyarrow reference (empty if
        none): per-sink totals, the parts processed, every pending
        part's routed rows, and checksums equal to the first run's."""
        ref = self.ref
        problems = []
        pending = sorted(p for p in ref.per_part if ref.path(p) in out.files)
        for s in SINK_PREDICATES:
            if sorted(out.processed.get(s, [])) != pending:
                problems.append(f"{s}: processed {out.processed.get(s)} != {pending}")
            got = out.sinks.get(s)
            if got is None or got[:2] != ref.expected[s]:
                problems.append(f"{s}: (row_count, tok_total) {got and got[:2]}"
                                f" != reference {ref.expected[s]}")
            for p in pending:
                want = ref.per_part[p][s][0]
                if out.per_part.get((s, p), 0) != want:
                    problems.append(f"{s}/{p}: routed {out.per_part.get((s, p))}"
                                    f" != reference {want}")
        checksums = {s: v[2] for s, v in out.sinks.items()}
        if ref.checksums is None and not problems:
            ref.checksums = checksums
        elif ref.checksums is not None and checksums != ref.checksums:
            problems.append(f"checksums {checksums} != first run {ref.checksums}")
        return problems

    def tamper(self) -> None:
        """Self-test hook: expect one `errors` row too many."""
        rows, toks = self.ref.expected["errors"]
        self.ref.expected["errors"] = (rows + 1, toks)


class BulkFresh(_LogWorkload):
    """Fresh `run_pipeline` over the whole table, new workdir per run."""

    name = "bulk_fresh"

    def setup(self) -> dict:
        size = self.size
        gen = self._generate(size["rows"], size["files"])
        # from a cold JVM one run takes ~3x a steady run and the next
        # ~1.4x (after a warm-up on a smaller table, ~1.7x); a second
        # warm-up run would not fit the benchmark's time budget
        return {"gen": gen, "warmup_s": warm_up(self, 1)}

    def run_once(self, i: int) -> Output:
        wd = os.path.join(self.work, f"run{i}")
        shutil.rmtree(wd, ignore_errors=True)
        conf = self.conf(wd)
        res, *timing = timed_run(pipeline.run_pipeline, self.spark, conf)
        out = self._read_run(res, conf, timing, sorted(self.ref.per_part))
        shutil.rmtree(wd, ignore_errors=True)
        return out


class TailIncrement(_LogWorkload):
    """A committed table of many small partitions; each run resumes
    after `pending` partitions x every sink were invalidated."""

    name = "tail_increment"

    def setup(self) -> dict:
        size = self.size
        gen = self._generate(size["parts"] * size["rows_per_part"], size["parts"])
        self.parts = sorted(self.ref.per_part)
        self.tail_conf = self.conf(os.path.join(self.work, "tail"))
        t0 = time.perf_counter()
        # warm-up = the initial full commit of every partition
        res, *timing = timed_run(pipeline.run_pipeline, self.spark,
                                 self.tail_conf)
        out = self._read_run(res, self.tail_conf, timing, self.parts)
        problems = self.check(out)
        if problems:
            raise RuntimeError(f"initial commit failed its check: {problems[:3]}")
        return {"gen": gen, "warmup_s": time.perf_counter() - t0}

    def pending(self, i: int) -> list[str]:
        rng = np.random.default_rng([self.seed, i])
        return sorted(rng.choice(self.parts, self.size["pending"], replace=False))

    def run_once(self, i: int) -> Output:
        parts = self.pending(i)
        for s in SINK_PREDICATES:
            for p in parts:
                mf.invalidate(self.tail_conf.manifest_dir, s, p)
        res, *timing = timed_run(pipeline.run_pipeline, self.spark,
                                 self.tail_conf)
        return self._read_run(res, self.tail_conf, timing, parts)


def _synth_corpus():
    """`synth_corpus` from bench/corpus_bench.py (`bench` the module
    shadows `bench` the directory, so load it by path)."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench", "corpus_bench.py")
    spec = importlib.util.spec_from_file_location("corpus_bench", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.synth_corpus


class CorpusFunnel:
    """`run_corpus_pipeline` over a synthetic corpus whose doc_id range
    is shifted by the seed; fresh workdir per run."""

    name = "corpus_funnel"
    n_files = 8

    def __init__(self, spark, work: str, seed: int, size: dict) -> None:
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.input = os.path.join(work, "docs")
        self.reference: tuple | None = None

    def setup(self) -> dict:
        from pyspark.sql import functions as F

        synth = _synth_corpus()
        n = self.size["docs"]
        offset = (self.seed % 1000) * 10_007

        def gen():
            (synth(self.spark, offset + n).filter(F.col("doc_id") > offset)
             .repartition(self.n_files, "doc_id")
             .write.mode("overwrite").parquet(self.input))

        # a Spark job on the cold JVM: one generation, not three
        times = _timed_gen(gen, reps=1)
        return {"gen": times, "warmup_s": warm_up(self, 1)}

    def run_once(self, i: int) -> Output:
        wd = os.path.join(self.work, f"run{i}")
        shutil.rmtree(wd, ignore_errors=True)
        conf = CorpusConf(input_path=self.input, workdir=os.path.join(wd, "wd"),
                          out_path=os.path.join(wd, "out"), benchmark_mod=997,
                          committed_at="bench")
        res, *timing = timed_run(corpus_pipeline.run_corpus_pipeline,
                                 self.spark, conf)
        shards = res.metrics.collect()
        checksum = 0
        for r in shards:
            checksum ^= int(r["checksum"])
        out = Output(
            *timing, input_rows=self.size["docs"],
            routed_rows=sum(int(r["row_count"]) for r in shards),
            files=sorted(glob.glob(os.path.join(self.input, "*.parquet"))),
            files_written=_count_files(conf.out_path),
            sinks={"packed": (sum(int(r["row_count"]) for r in shards),
                              sum(int(r["tok_total"]) for r in shards), checksum)},
            funnel=dict(res.funnel), stage_timings=dict(res.stage_timings),
            stages_run=list(res.stages_run),
        )
        shutil.rmtree(wd, ignore_errors=True)
        return out

    def check(self, out: Output) -> list[str]:
        problems = []
        if out.stages_run != list(CORPUS_STAGES):
            problems.append(f"stages_run {out.stages_run} != {list(CORPUS_STAGES)}")
        counts = [out.funnel.get(s, -1) for s in CORPUS_STAGES]
        if not (self.size["docs"] >= counts[0] and all(
                a >= b > 0 for a, b in zip(counts, counts[1:]))):
            problems.append(f"funnel is not a shrinking chain: {out.funnel}")
        if out.sinks["packed"][0] != out.funnel.get("pack"):
            problems.append(f"shipped {out.sinks['packed'][0]} rows != "
                            f"pack stage {out.funnel.get('pack')}")
        got = (tuple(counts), out.sinks["packed"])
        if self.reference is None and not problems:
            self.reference = got
        elif self.reference is not None and got != self.reference:
            problems.append(f"funnel/packed {got} != first run {self.reference}")
        return problems

    def tamper(self) -> None:
        """Self-test hook: expect one exact_dedup survivor too many."""
        counts, packed = self.reference
        self.reference = ((counts[0] + 1,) + counts[1:], packed)


WORKLOADS = {w.name: w for w in (BulkFresh, TailIncrement, CorpusFunnel)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")
