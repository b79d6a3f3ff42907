"""End-to-end resumable training-corpus pipeline: dedup ->
decontaminate -> quality -> sample -> pack -> ship, with a per-stage
lineage manifest and crash/resume equality (VERDICT r04 #1).

The 148-query surface implements each training-data operator as an
independent query; this module COMPOSES them into the one pipeline a
pretraining-data team actually runs, with the same consistency
contract as the log pipeline (`pipeline.py`):

- the conf resolves every path once, when it is built
  (`config.resolve_path`, as `PipelineConf` does): a 'file:' URI
  behaves as its path, a remote URI is refused naming the field, and
  `stages_dir`, `manifest_dir` and `stage_manifest_dir` are derived
  from the resolved workdir; the whole run holds the workdir lease
  (`manifest.lease`);
- before the lease, an out_path that equals or nests with the input,
  the benchmark or a workdir dir is refused (`pipeline.check_disjoint`,
  the check the log sinks get); the input is listed once on the driver
  (`reader.list_parts`), and its footer identity and its scan cover
  exactly the listed files;
- the run walks ONE ordered stage table, `STAGES` (stage -> transform
  and the CorpusConf knobs its params fingerprint reads); the lazy
  composition and the eager funnel walk the same table;
- a killed run resumes by SKIPPING every stage whose manifest still
  validates against its upstream chain (input unchanged, same params,
  a recorded schema) and recomputing from the first broken link — the
  batch analog of llogtail's offset-checkpoint recovery
  (utils.go:128-133); a stale manifest is dropped before the recompute;
- a recomputed stage writes straight into stages_dir/<stage> with
  `manifest.write_reconciled` (remove the dir, observed write,
  `after_data` failpoint, readback, reconcile; the pack table is
  partitioned by shard), and only then does its stage manifest commit
  (push-then-checkpoint, log_collector.go:208-215) recording input
  identity, output (rows, token total, xor checksum), params
  fingerprint and schema — so a partial/corrupted stage file refuses
  to become lineage;
- the next stage reads the stage dir with that schema, whether the
  stage ran or was skipped;
- the final ship copies the pending packed shards from a thread pool,
  then commits one manifest row per shard (sink="packed") with the
  pack write's per-shard readback, and shipped shards are skipped on
  re-run (effectively-once).

Records, the observed write and its reconciled readback, and the
ship-then-commit step are `manifest.py`'s, shared with `pipeline.py`.

Stage semantics are EXACTLY the oracle-green operators they compose
(same functions, same constants), so the whole pipeline is
value-verified three ways:
  1. the lazy composition `corpus_stages()` has a DuckDB oracle
     (`__spark_entry__._corpus_pipeline_oracle`) covering the full
     chain;
  2. `run_corpus_pipeline`'s materialized output is pinned equal to
     the lazy composition (tests/test_corpus_pipeline.py);
  3. crash/resume tests pin kill-at-every-boundary equality.

Scale shape (10^12 docs): every stage is one of the already-certified
shapes — hash-window exact dedup, banded LSH with capped buckets,
broadcast benchmark grams, scan-stage quality expressions, dim-sized
quota arithmetic, one nshards-way packing shuffle. Materialization
boundaries are the standard trillion-token-pipeline checkpoint design:
each stage dir is one reconciled parquet write. A table format's
snapshot commit could replace the dir, with the stage manifest reading
identity from the snapshot id instead of parquet footers; nothing here
builds that. Stage outputs carry only the SURVIVING corpus, so each
subsequent stage scans strictly less data — the funnel is also the
cost curve.

Two-cluster-size scaling conf (measured, round 5): the stage chain is
shuffle-fed end-to-end, so AQE's parallelism-first coalescing (which
targets total/defaultParallelism partitions) leaves ZERO task slack at
the larger cluster — every stage ran exactly `cores` tasks and one
straggler idled the rest (2->8 cores gave 2.3x, not 4x). Set
  spark.sql.adaptive.coalescePartitions.parallelismFirst=false
  spark.sql.adaptive.advisoryPartitionSizeInBytes=16m..64m
so partition counts follow DATA SIZE, not cluster size (the benches
set exactly this; see bench/corpus_scaling.py). Stage outputs write
32 MB row groups for the same reason (STAGE_BLOCK_BYTES).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import zlib
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from llogtail_spark import manifest as mf
from llogtail_spark.manifest import StageManifest, commit_stage, read_stage
from llogtail_spark.config import resolve_path
from llogtail_spark.pipeline import check_disjoint
from llogtail_spark.sources import reader

# default mixture targets (basis points, sum 10000) over the `lang`
# group — the documents fixture's language dims
DEFAULT_TARGETS_BP = {
    "en": 4000, "zh": 2000, "es": 2000, "de": 1000, "fr": 1000,
}

# parquet row-group size for STAGE outputs: stage files are read back
# by the next stage, and splits cannot cross row groups, so
# one-row-group files cap the next stage's scan parallelism at the
# file count. 32 MB keeps slack (~4 splits/file) at bench scale and is
# a sane row-group size at cluster scale too.
STAGE_BLOCK_BYTES = 32 * 1024 * 1024

Failpoint = Callable[[str, str], None]  # (stage, phase)


@dataclass
class CorpusConf:
    """Configuration for the corpus pipeline. Defaults reproduce the
    oracle-green individual queries' constants."""

    input_path: str
    workdir: str
    out_path: str
    # benchmark for decontamination: an external parquet of eval docs,
    # or (benchmark_path=None) the deterministic doc_id % benchmark_mod
    # == 0 split of the input — the decontaminate_docs convention
    benchmark_path: str | None = None
    benchmark_mod: int = 50
    id_col: str = "doc_id"
    text_col: str = "text"
    group_col: str = "lang"
    # near-dup (minhash_lsh_pairs). hash_mode: "xxhash64" is the
    # engine-native production path (JVM grams and hashes, no Arrow
    # transfer: with it no stage starts a Python worker); "portable"
    # replicates in any ANSI engine, through one band-key Arrow UDF —
    # the oracle-paired query entry uses it so DuckDB can verify the
    # pair set
    hash_mode: str = "xxhash64"
    num_hashes: int = 16
    bands: int = 8
    cap_reps: int = 8
    shingle_n: int = 3
    # decontaminate (contamination_hits)
    contam_n: int = 5
    contam_min_hits: int = 1
    # quality gate (quality_filter_docs thresholds)
    min_toks: int = 25
    max_dup_bp: int = 6000
    max_pii: int = 0
    # sample (mixture_resample); None skips the stage (identity)
    targets_bp: dict[str, int] | None = field(
        default_factory=lambda: dict(DEFAULT_TARGETS_BP))
    seed_i: int = 4
    # pack (seq_packing); 128 is the test-scale SEQ_LEN — a real run
    # sets the model context length (e.g. 2048/4096/8192)
    seq_len: int = 128
    nshards: int = 8
    committed_at: str = ""

    def params_crc(self, stage: str) -> int:
        """Stage-scoped params fingerprint: changing a knob invalidates
        exactly the stages whose semantics it feeds (and, through the
        identity chain, everything downstream)."""
        scoped = {k: getattr(self, attr) for k, attr in STAGES[stage][1].items()}
        blob = json.dumps(
            {"stage": stage, "id": self.id_col, "text": self.text_col, **scoped},
            sort_keys=True).encode()
        return zlib.crc32(blob)

    # set by __post_init__; stage manifests get a dir of their own, as
    # mf.read_all parses every *.json under the (ship) manifest_dir
    benchmark_resolved: str | None = field(init=False)
    stages_dir: str = field(init=False)
    manifest_dir: str = field(init=False)
    stage_manifest_dir: str = field(init=False)

    def __post_init__(self) -> None:
        for name in ("input_path", "workdir", "out_path"):
            setattr(self, name, resolve_path(name, getattr(self, name)))
        # benchmark_path stays as written: the decontaminate params
        # fingerprint hashes it, and committed stage manifests hold
        # that fingerprint
        self.benchmark_resolved = self.benchmark_path and resolve_path(
            "benchmark_path", self.benchmark_path)
        self.stages_dir = os.path.join(self.workdir, "corpus_stages")
        self.manifest_dir = os.path.join(self.workdir, "corpus_manifest")
        self.stage_manifest_dir = os.path.join(self.workdir, "stage_manifest")


# ---------------------------------------------------------------- stages
# Pure DataFrame transforms — the SAME functions behind the
# oracle-green individual queries, so the composition inherits their
# verified semantics and their certified plan shapes.

def stage_exact_dedup(df: DataFrame, benchmark: DataFrame,
                      conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import exact_dedup

    return exact_dedup(df, key=conf.text_col, id_col=conf.id_col)


# a dropped set below this many rows ships as a BROADCAST anti-join
# (a few hundred MB of ids at the cap — the guide's broadcast comfort
# zone); above it, or when the distributed resolve path leaves the
# count unknown, the corpus-shuffling semi-join stands
NEAR_DEDUP_ANTI_BROADCAST_MAX = 30_000_000


def stage_near_dedup(df: DataFrame, benchmark: DataFrame,
                     conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import (
        minhash_lsh_pairs,
        resolve_components,
    )

    pairs = minhash_lsh_pairs(
        df, text_col=conf.text_col, id_col=conf.id_col,
        num_hashes=conf.num_hashes, bands=conf.bands,
        shingle_n=conf.shingle_n, hash_mode=conf.hash_mode,
        cap_reps=conf.cap_reps,
    )
    stats: dict = {}
    labels = resolve_components(pairs, df.select(conf.id_col),
                                id_col=conf.id_col, stats_out=stats)
    n_dropped = stats.get("n_dropped")
    if n_dropped is not None and n_dropped <= NEAR_DEDUP_ANTI_BROADCAST_MAX:
        # round 6 (guide §3.1/§2.3): the semi-join against the KEPT
        # set shuffles the surviving corpus — document text included —
        # while the complement (the DROPPED set, which the driver
        # resolve just computed and handed back for free) is
        # dup-mass-sized. Anti-join against a broadcast of the dropped
        # ids moves ZERO corpus bytes. Equal to the semi-join for all
        # non-null ids (labels covers every node, keep = NOT dropped);
        # the explicit isNotNull matches the semi-join's null-key drop
        # semantics.
        return df.join(F.broadcast(stats["dropped"]), conf.id_col,
                       "left_anti") \
            .where(F.col(conf.id_col).isNotNull())
    keep = labels.filter(F.col("keep") == 1).select(conf.id_col)
    return df.join(keep, conf.id_col, "semi")


def stage_decontaminate(df: DataFrame, benchmark: DataFrame,
                        conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.dedup import contamination_hits

    hits = contamination_hits(
        df, benchmark, text_col=conf.text_col, id_col=conf.id_col,
        n=conf.contam_n, min_hits=conf.contam_min_hits,
    )
    return df.join(hits.select(conf.id_col), conf.id_col, "left_anti")


def stage_quality(df: DataFrame, benchmark: DataFrame,
                  conf: CorpusConf) -> DataFrame:
    from llogtail_spark.functions.text import (
        EMAIL_RX,
        IPV4_RX,
        PHONE_RX,
        dup_fraction_x10000,
        pii_count,
    )
    from llogtail_spark.operators.dedup import tokenize

    toks = tokenize(conf.text_col)
    txt = F.coalesce(F.col(conf.text_col), F.lit(""))
    pii = (pii_count(txt, EMAIL_RX) + pii_count(txt, IPV4_RX)
           + pii_count(txt, PHONE_RX))
    return df.filter(
        (F.size(toks) >= conf.min_toks)
        & (dup_fraction_x10000(toks) <= conf.max_dup_bp)
        & (pii <= conf.max_pii)
    )


def stage_sample(df: DataFrame, benchmark: DataFrame,
                 conf: CorpusConf) -> DataFrame:
    if not conf.targets_bp:
        return df
    from llogtail_spark.operators.sampling import mixture_resample

    kept = mixture_resample(df, conf.group_col, conf.id_col,
                            conf.targets_bp, seed_i=conf.seed_i)
    return df.join(kept.select(conf.id_col), conf.id_col, "semi")


def stage_pack(df: DataFrame, benchmark: DataFrame,
               conf: CorpusConf) -> DataFrame:
    from llogtail_spark.operators.corpus import seq_packing

    return seq_packing(df, text_col=conf.text_col, id_col=conf.id_col,
                       seq_len=conf.seq_len, nshards=conf.nshards)


# The funnel, in order: stage -> (transform(df, benchmark, conf),
# {params_crc key: CorpusConf attr}). The params map scopes each
# stage's fingerprint to the knobs its semantics read.
STAGES: dict[str, tuple[Callable[[DataFrame, DataFrame, CorpusConf], DataFrame],
                        dict[str, str]]] = {
    "exact_dedup": (stage_exact_dedup, {}),
    "near_dedup": (stage_near_dedup, {
        "num_hashes": "num_hashes", "bands": "bands", "cap_reps": "cap_reps",
        "shingle_n": "shingle_n", "hash_mode": "hash_mode"}),
    "decontaminate": (stage_decontaminate, {
        "n": "contam_n", "min_hits": "contam_min_hits",
        "benchmark_path": "benchmark_path", "benchmark_mod": "benchmark_mod"}),
    "quality": (stage_quality, {
        "min_toks": "min_toks", "max_dup_bp": "max_dup_bp", "max_pii": "max_pii"}),
    "sample": (stage_sample, {
        "targets_bp": "targets_bp", "seed_i": "seed_i", "group_col": "group_col"}),
    "pack": (stage_pack, {"seq_len": "seq_len", "nshards": "nshards"}),
}
CORPUS_STAGES = tuple(STAGES)


def corpus_stages(docs: DataFrame, benchmark: DataFrame,
                  conf: CorpusConf) -> dict[str, DataFrame]:
    """The LAZY composition: every stage's output frame, keyed by
    stage name (the last is the packed placement table). Built from
    the same STAGES table the resumable runner materializes, and used
    by the oracle-paired query entry, so materialized == lazy ==
    DuckDB oracle.

    Each stage reads its upstream through a lineage cut (lazy — ckpt.py knob:
    localCheckpoint, or reliable checkpoint when a checkpoint dir is
    set). Round-6 measurement: the chain prefix otherwise executes
    ~3x per run — resolve_components' gate count materializes the
    minhash subtree, mixture_resample's dim-sized quota collect
    re-derives dedup->decontaminate->quality, and the final action
    re-derives everything again (each stage's output also feeds 2-3
    consumers WITHIN one plan: the near-dup semi-join probe, the
    decontaminate anti-join probe, the benchmark split). The cuts are
    per-invocation (fresh RDD lineage every call — nothing survives
    across runs); values are unchanged."""
    from llogtail_spark.operators.ckpt import checkpoint

    out: dict[str, DataFrame] = {}
    df = docs
    for stage, (transform, _) in STAGES.items():
        if out:
            # cut where the upstream output feeds this stage; nothing
            # here consumes the last output, so it stays uncut
            df = checkpoint(df, eager=False)
        df = out[stage] = transform(df, benchmark, conf)
    return out


def corpus_funnel_counts(docs: DataFrame, benchmark: DataFrame,
                         conf: CorpusConf) -> list[tuple[int, str, int]]:
    """(stage_idx, stage, surviving_rows) for every stage, computing
    each stage ONCE: the naive per-stage .count() over the lazy
    composition re-derives the whole prefix chain per stage (6x the
    near-dedup work — measured 104 s vs 38 s for the pack query at
    sf0.001), so each stage output is lineage-cut (ckpt.py knob:
    localCheckpoint, or reliable checkpoint when a checkpoint dir is
    set) and the count runs on the materialized table. EAGER by
    construction, like bfs_levels. (Round 6 probed and REJECTED
    riding the counts on ``observe()`` metrics with lazy cuts:
    CollectMetrics accumulators do not propagate through an RDD
    lineage cut materialized by a downstream action — every
    observation read back 0.)"""
    from llogtail_spark.operators.ckpt import checkpoint

    rows: list[tuple[int, str, int]] = []
    df = docs
    for i, (stage, (transform, _)) in enumerate(STAGES.items()):
        df = checkpoint(transform(df, benchmark, conf), eager=True)
        rows.append((i, stage, df.count()))
    return rows


# -------------------------------------------------------------- runner


@dataclass
class CorpusRunResult:
    stages_run: list[str]
    stages_skipped: list[str]
    shards_committed: list[str]
    shards_skipped: list[str]
    funnel: dict[str, int]  # stage -> surviving rows
    metrics: DataFrame  # per-shard rollup from the manifest
    stage_timings: dict[str, float]  # wall sec per recomputed stage


def _input_identity(files: dict[str, str]) -> tuple[int, int]:
    """(rows, checksum) of the listed input parts ({part: file}, from
    `reader.list_parts`) from parquet FOOTER metadata only (no data
    scan; an Iceberg deployment reads the snapshot id instead): row
    counts sum, each file's footer checksum XORs in with its name's."""
    rows, crc = 0, 0
    for fp, (r, c) in zip(files.values(), reader.files_identity(files).values()):
        rows += r
        crc ^= c ^ zlib.crc32(os.path.basename(fp).encode())
    return rows, crc


def _read_input(spark: SparkSession, path: str) -> tuple[DataFrame, tuple[int, int]]:
    """Scan and identity of exactly the parts `reader.list_parts` lists."""
    files = reader.list_parts(path)
    return reader.read_files(spark, list(files.values())), _input_identity(files)


def _read_benchmark(spark: SparkSession, docs: DataFrame,
                    conf: CorpusConf) -> tuple[DataFrame, DataFrame, int]:
    """(corpus, benchmark, benchmark_identity_crc). With no external
    benchmark, the deterministic doc_id % mod == 0 split plays the
    eval set (decontaminate_docs convention) and is EXCLUDED from the
    corpus."""
    if conf.benchmark_path is not None:
        bench, (_, crc) = _read_input(spark, conf.benchmark_resolved)
        return docs, bench, crc
    mod = F.col(conf.id_col) % conf.benchmark_mod
    return (docs.filter(mod != 0), docs.filter(mod == 0),
            zlib.crc32(str(conf.benchmark_mod).encode()))


def run_corpus_pipeline(
    spark: SparkSession,
    conf: CorpusConf,
    failpoint: Failpoint | None = None,
) -> CorpusRunResult:
    check_disjoint("out_path", conf.out_path, {
        "input_path": conf.input_path, "benchmark_path": conf.benchmark_resolved,
        "stages_dir": conf.stages_dir, "manifest_dir": conf.manifest_dir,
        "stage_manifest_dir": conf.stage_manifest_dir})
    with mf.lease(conf.workdir):
        return _run(spark, conf, failpoint)


def _run(spark: SparkSession, conf: CorpusConf,
         failpoint: Failpoint | None) -> CorpusRunResult:
    docs0, (in_rows, in_crc) = _read_input(spark, conf.input_path)
    corpus, benchmark, bench_crc = _read_benchmark(spark, docs0, conf)

    stages_run: list[str] = []
    stages_skipped: list[str] = []
    funnel: dict[str, int] = {}
    stage_timings: dict[str, float] = {}

    # identity chain: stage k's input identity is stage k-1's output
    # identity; the head is the raw input's footer identity PLUS the
    # corpus/benchmark split identity (ADVICE r05 #1: with no external
    # benchmark the doc_id % benchmark_mod split defines the corpus
    # BEFORE exact_dedup, so a changed mod — or switching between
    # split and external modes — must invalidate the WHOLE chain, not
    # just decontaminate; an external benchmark's CONTENT still folds
    # only into decontaminate's params, since it doesn't change the
    # corpus side)
    chain_rows, chain_crc = in_rows, in_crc
    chain_crc ^= zlib.crc32(
        b"benchmark:external" if conf.benchmark_path is not None
        else f"benchmark:split:{conf.benchmark_mod}".encode())
    upstream_df = corpus
    for stage, (transform, _) in STAGES.items():
        params = conf.params_crc(stage)
        if stage == "decontaminate":
            params ^= bench_crc
        m = read_stage(conf.stage_manifest_dir, stage)
        data_dir = os.path.join(conf.stages_dir, stage)
        stats = None  # the recomputed stage's per-key readback
        if (m is not None and m.schema_json
                and (m.in_rows, m.in_checksum) == (chain_rows, chain_crc)
                and m.params_crc == params and os.path.isdir(data_dir)):
            stages_skipped.append(stage)
            schema = StructType.fromJson(json.loads(m.schema_json))
            out_rows, out_ck = m.out_rows, m.out_checksum
        else:
            # stale manifest: drop it so a crash mid-recompute can't
            # resurrect it (validateCpt analog, utils.go:128-133)
            if m is not None:
                mf.invalidate_stage(conf.stage_manifest_dir, stage)
            t_stage = time.time()
            out = transform(upstream_df, benchmark, conf)
            # checksum key: doc identity for doc stages; the full
            # placement (doc, offset, bins) for the pack table — bins
            # must participate or a seq_len change that keeps offsets
            # would leave stale ship entries "valid" and skip re-shipping
            if stage == "pack":
                tok, ck, keys = F.col("n_tok"), _pack_ck(conf), ("shard",)
            else:
                tok, ck, keys = F.lit(0), F.xxhash64(F.col(conf.id_col)), ()
            got, stats = mf.write_reconciled(
                f"corpus stage {stage!r}", out, data_dir, tok, ck, keys=keys,
                options={"parquet.block.size": str(STAGE_BLOCK_BYTES)},
                hook=failpoint and (lambda: failpoint(stage, "after_data")))
            if failpoint:
                failpoint(stage, "before_commit")
            schema = out.schema
            out_rows, out_ck = int(got["rows"]), int(got["checksum"])
            commit_stage(conf.stage_manifest_dir, StageManifest(
                stage=stage, in_rows=chain_rows, in_checksum=chain_crc,
                out_rows=out_rows, tok_total=int(got["tok_total"]),
                out_checksum=out_ck, params_crc=params,
                committed_at=conf.committed_at, schema_json=schema.json(),
            ))
            if failpoint:
                failpoint(stage, "after_commit")
            stages_run.append(stage)
            stage_timings[stage] = round(time.time() - t_stage, 3)
        funnel[stage] = out_rows
        chain_rows, chain_crc = out_rows, out_ck
        # explicit schema: a skipped stage may legitimately be EMPTY
        # (no data files), where schema inference would raise
        upstream_df = spark.read.schema(schema).parquet(data_dir)

    # ---- ship: per-shard COPY out of the pack stage dir + manifest
    # commit (sink="packed"). Copy, not rename: the stage dir stays
    # intact as the resume source of truth, and the pack table is
    # metadata-sized next to the corpus (56 B/doc vs KBs of text).
    pack_dir = os.path.join(conf.stages_dir, "pack")
    # a ship entry is valid only against the CURRENT pack output (the
    # chain's last identity): its in_checksum recorded the pack output
    # it shipped from, so a recomputed pack stage (new params, new
    # input) invalidates every stale entry and the shard re-ships
    # (validateCpt discipline, utils.go:128-133)
    identity = (chain_rows, chain_crc)
    done: set[str] = set()
    for e in mf.read_all(conf.manifest_dir):
        if e.sink != "packed":
            continue
        if (e.in_row_count, e.in_checksum) == identity:
            done.add(e.part)
        else:
            mf.invalidate(conf.manifest_dir, e.sink, e.part)
    shards = sorted(e.name.removeprefix("shard=") for e in os.scandir(pack_dir)
                    if e.name.startswith("shard="))
    # ADVICE r05 #2: a shard present in out_path but absent from the
    # CURRENT pack output (nshards reduced, shard emptied on
    # recompute) is a stale product — read_packed would return its
    # phantom rows. Remove it and its manifest entry.
    live = set(shards)
    if os.path.isdir(conf.out_path):
        for e in os.scandir(conf.out_path):
            part = e.name.removeprefix("shard=")
            if e.name.startswith("shard=") and part not in live:
                shutil.rmtree(e.path, ignore_errors=True)
                mf.invalidate(conf.manifest_dir, "packed", part)
    pending = [p for p in shards if p not in done]
    # per-shard lineage: the pack write's own readback (`stats` of the
    # loop's last stage), or one readback pass if pack was skipped
    if stats is None and pending:
        stats = mf.readback(upstream_df, "n_tok", _pack_ck(conf), keys=("shard",))

    def _copy_shard(part: str) -> None:
        src = os.path.join(pack_dir, f"shard={part}")
        dst = os.path.join(conf.out_path, f"shard={part}")
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)

    if pending:
        os.makedirs(conf.out_path, exist_ok=True)
    committed = mf.ship_and_commit(
        conf.manifest_dir,
        [mf.lineage_entry("packed", p, stats.get((p,)), (*identity, ""),
                          conf.committed_at)
         for p in pending],
        _copy_shard,
        failpoint and (lambda phase, p: failpoint(f"ship:{p}", phase)),
    )

    metrics = _metrics(spark, conf)
    return CorpusRunResult(
        stages_run=stages_run, stages_skipped=stages_skipped,
        shards_committed=committed,
        shards_skipped=[p for p in shards if p in done],
        funnel=funnel, metrics=metrics, stage_timings=stage_timings,
    )


def _metrics(spark: SparkSession, conf: CorpusConf) -> DataFrame:
    """Per-shard rollups straight from the lineage manifest — zero
    data scans, and a local relation, so collecting them starts no
    Spark job (the pipeline._metrics_from_manifest discipline)."""
    rows = [
        (e.part, e.row_count, e.tok_total, e.checksum)
        for e in mf.read_all(conf.manifest_dir)
        if e.sink == "packed"
    ]
    return mf.records_frame(
        spark, sorted(rows),
        "shard string, row_count long, tok_total long, checksum long")


def _pack_ck(conf: CorpusConf):
    """Content checksum column of one packed row: the whole placement."""
    return F.xxhash64(F.col(conf.id_col), F.col("tok_start"),
                      F.col("bin_first"), F.col("bin_last"))


def read_packed(spark: SparkSession, conf: CorpusConf) -> DataFrame:
    """The shipped product: every packed shard under out_path, in
    seq_packing's schema. Partition-type inference is off session-wide
    (session.py), so `shard` reads back as a string and last; restore
    its type and position."""
    df = spark.read.option("basePath", conf.out_path).parquet(conf.out_path)
    return df.select(
        F.col("shard").cast("int").alias("shard"),
        conf.id_col, "n_tok", "tok_start", "bin_first", "bin_last",
        "crosses")
