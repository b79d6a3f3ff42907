"""Pipeline orchestration: scan -> parse -> enrich -> route -> ship
-> checkpoint, with skip-committed resume.

This is the LogCollector.handleEvent/listenEvent analog
(log_collector.go:134-221) with the event loop replaced by one
declarative DAG per run: the listed parquet parts ARE the set of
"modify events"; partitions above the committed manifest are the
un-consumed bytes.

A run has two parts:
- the plan (`_run`): ONE read-only `_owner` check (a sink path whose
  `_owner` names another workdir is refused before any sink changes),
  ONE driver-side input listing (`reader.list_parts`, no Spark job) and
  ONE manifest read, shared by the re-check of committed parts, every
  sink's pending set and the metrics. The re-check (validateCpt,
  utils.go:128-133) stats every listed part; a part whose stat moved
  off its records' `in_stat` has its footer identity read, and its
  records are dropped (re-shipped in this run) if the identity
  changed, or re-committed with the new stat if not; an unlisted
  (deleted) part's dir is removed from every sink, then its records
  are dropped. Footers are otherwise read only for pending parts, once
  each, so a run with nothing pending starts no Spark job; it still
  returns the committed totals (a local relation, no job to build or
  collect);
- the core (`stage_and_ship`), the package's one writer of log-sink
  lineage.

The live tail, `follow`, is llogtail's poller (log_watcher.go:167-212):
`run_pipeline` on an interval.

The core follows `manifest.py`'s commit protocol, shared with the
corpus pipeline, and its caller holds the workdir lease:
- schemas, on the driver before any Spark job: the input and lookup
  get their parquet footers' schemas (`reader.read_files`: no
  inference job; a part unlike the first part is refused);
- stage: ONE heavy pass — scan -> Arrow parse UDF -> broadcast enrich
  -> route-explode -> write partitionBy(sink, part) to staging; one
  stage, no shuffle, no persist (a persist+K-writes variant REGRESSED
  with cores from cache memory pressure). Parquet stages as v2 data
  pages with no dictionary (`STAGE_OPTS`): token ids go
  DELTA_BINARY_PACKED and strings DELTA_BYTE_ARRAY, because the
  per-value dictionary hash was ~30% of executor samples and was
  abandoned for most files anyway (bulk_fresh on a 4-vCPU host:
  median run_cpu_s 7.93 -> 6.46 over ten pairs, 52.2 -> 40.3 MB
  written in a traced run);
- observe + readback reconcile: ONE `manifest.write_reconciled` call
  removes the staging dir, makes the staged write count its own
  (rows, tok_total, xor checksum) — no extra scan — runs the
  `after_stage` failpoint, then reads the staged files back with the
  routed frame's schema: a column-pruned scan (n_tok, row_hash +
  partition cols, megabytes not data) gives the per-(sink, part)
  lineage, which must fold to the observation (nothing staged reads
  as zero rows, so lost staging output fails the reconcile);
- claim: each sink path's `_owner` file names the one workdir that
  ships to it; a run that fails before this leaves no sink dir;
- ship: per sink, a thread pool renames staging/sink=X/part=Y ->
  sink_path/part=Y (metadata-only);
- commit: then the sink's manifest entries, in order
  (push-then-checkpoint, log_collector.go:208-215).

Consistency contract preserved (SURVEY.md §3.5):
- idempotent dynamic-partition overwrite upgrades the reference's
  at-least-once to effectively-once across kill/resume;
- per-row atomicity: a routed row carries its full token array —
  never a partial record (line-framing analog, buffer.go:103-104);
- resume pruning happens at the FILE LIST level (driver-side set
  difference, metadata-only) so committed data is never scanned.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import threading
from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.operators.enrich import enrich_stage
from llogtail_spark.operators.parse import parse_stage
from llogtail_spark.operators.route import SAFE_NAME, explode_routed
from llogtail_spark.sources import reader

# Parquet writer options for the staged write. Ship renames the staged
# files, so every sink holds this layout; readers need parquet v2 page
# and DELTA support.
STAGE_OPTS = {"parquet.writer.version": "v2", "parquet.enable.dictionary": "false"}

# failpoint(stage, sink, part) — tests inject crashes between the sink
# write and the manifest commit to prove effectively-once resume.
Failpoint = Callable[[str, str, str], None]

# the file in each sink path that names the workdir shipping to it
OWNER = "_owner"


@dataclass
class RunResult:
    processed: dict[str, list[str]]  # sink -> newly committed parts
    skipped: dict[str, list[str]]  # sink -> parts already committed
    metrics: DataFrame  # per-sink aggregates of every committed part


def _prepare(spark: SparkSession, conf: PipelineConf, files: list[str]) -> DataFrame:
    df = reader.read_files(spark, files)
    if conf.lookup_path and "source" not in df.columns:
        raise ValueError(
            f"lookup_path is set but the input {conf.input_path!r} has no "
            "'source' column to enrich on")
    df = reader.with_partition_id(df)
    df = parse_stage(df, conf.grok)
    if conf.lookup_path:
        lookup = reader.read_files(spark, [conf.lookup_path])
        df = enrich_stage(df, lookup, defaults=conf.enrich_defaults)
    return df


def follow(spark: SparkSession, conf: PipelineConf, interval_s: float,
           stop: threading.Event) -> None:
    """llogtail's live loop (log_watcher.go:167-212): each cycle is one
    `run_pipeline` (which re-ships new, rewritten and dropped parts),
    then a wait of `interval_s`, until `stop` is set; a set `stop` runs
    one cycle. An idle cycle reads no footer and starts no Spark job.
    A failed cycle raises."""
    while True:
        run_pipeline(spark, conf)
        if stop.wait(interval_s):
            return


def check_disjoint(what: str, path: str, taken: dict[str, str | None]) -> None:
    """Refuse an output `path` that equals or nests (either way) with
    any path of `taken` ({description: path or None}), naming both.
    The paths are the conf's, resolved when it was built."""
    for other_what, other in taken.items():
        if other and os.path.commonpath([path, other]) in (path, other):
            raise ValueError(
                f"{what} {path!r} overlaps {other_what} ({other}); "
                "give every output a path of its own")


def check_layout(conf: PipelineConf) -> None:
    """Refuse sink paths that overlap each other, the input, or the
    workdir's staging and manifest dirs (equal or nested either way).
    Each of these corrupts silently: two sinks on one path keep only
    the last ship, a sink under staging is deleted with it, a sink in
    the input is read back as input. Sinks elsewhere under the workdir
    (e.g. <workdir>/out) are fine."""
    taken = {"the input path": conf.input_path,
             "the staging dir": os.path.join(conf.workdir, "staging"),
             "the manifest dir": conf.manifest_dir}
    for rule in conf.sinks:
        check_disjoint(f"sink {rule.name!r} path", rule.path, taken)
        taken[f"sink {rule.name!r}"] = rule.path


def run_pipeline(
    spark: SparkSession,
    conf: PipelineConf,
    failpoint: Failpoint | None = None,
) -> RunResult:
    check_layout(conf)
    with mf.lease(conf.workdir):
        return _run(spark, conf, failpoint)


def _run(spark: SparkSession, conf: PipelineConf,
         failpoint: Failpoint | None) -> RunResult:
    # --- the plan: ONE read-only `_owner` check (local files, before
    # any sink is cleared or any Spark job starts), then ONE driver-side
    # listing and ONE manifest read, shared by the re-check, every
    # sink's pending set and the metrics
    claim_sinks(conf, check_only=True)
    parts = reader.list_parts(conf.input_path)  # {part: file}
    entries = mf.read_all(conf.manifest_dir)
    # --- re-check committed parts (validateCpt, utils.go:128-133):
    # footer identity (driver-side parallel footer reads, no scan, no
    # Spark job) only where the stat, taken first, moved off the record
    stat = {p: reader.file_stat(f) for p, f in parts.items()}
    identity = reader.files_identity({e.part: parts[e.part] for e in entries
                                      if e.part in parts and e.in_stat != stat[e.part]})
    # a deleted part's rows leave every sink before its records go, so
    # each sink keeps one clean run's content (a crash in between
    # leaves records that the next plan drops the same way)
    for p in sorted({e.part for e in entries if e.part not in parts}):
        for rule in conf.sinks:
            _clear_part(rule, p)
    kept = []
    for e in entries:
        if e.in_stat != stat.get(e.part):
            if e.part not in identity or not mf.validate(e, *identity[e.part]):
                mf.invalidate(conf.manifest_dir, e.sink, e.part)  # changed or deleted
                continue
            e = replace(e, in_stat=stat[e.part])  # touch, chmod, an older record
            mf.commit(conf.manifest_dir, e)
        kept.append(e)
    entries = kept
    pending: dict[str, list[str]] = {}
    skipped: dict[str, list[str]] = {}
    for rule in conf.sinks:
        done = {e.part for e in entries if e.sink == rule.name}
        pending[rule.name] = sorted(set(parts) - done)
        skipped[rule.name] = sorted(set(parts) & done)

    committed: dict[str, list[mf.ManifestEntry]] = {r.name: [] for r in conf.sinks}
    union_parts = sorted({p for ps in pending.values() for p in ps})
    if union_parts:
        files = {p: parts[p] for p in union_parts}
        identity.update(reader.files_identity({p: f for p, f in files.items()
                                               if p not in identity}))
        committed = stage_and_ship(
            spark, conf, files, {p: (*identity[p], stat[p]) for p in files},
            pending, failpoint)
        entries += [e for es in committed.values() for e in es]
    return RunResult(
        processed={s: [e.part for e in es] for s, es in committed.items()},
        skipped=skipped, metrics=_metrics_from_manifest(spark, conf, entries))


def stage_and_ship(
    spark: SparkSession, conf: PipelineConf,
    files: dict[str, str], identity: dict[str, tuple[int, int, str]],
    pending: dict[str, list[str]], failpoint: Failpoint | None = None,
) -> dict[str, list[mf.ManifestEntry]]:
    """The one writer of log-sink lineage: stage, reconcile, ship and
    commit `pending` ({sink: [part]}) from `files` ({part: file}),
    recording each part's input `identity` ({part: (rows, checksum,
    stat)}).
    The caller holds the workdir lease and has checked the sink paths'
    `_owner` files (`claim_sinks(check_only=True)`), so a run refused by
    another workdir starts no job and leaves no staging; the claim
    itself is made after the reconcile, before the first ship, so a run
    that fails before shipping leaves no sink dir, and one that fails
    after its claim keeps it. A pending part that routes no
    row to a sink clears that sink's partition. Returns the committed
    entries per sink, in rule order."""
    bad = [p for p in files if not SAFE_NAME.match(p)]
    if bad:
        raise ValueError(
            f"partition ids {bad[:3]} contain characters Spark would "
            "escape in partition paths; rename the input files"
        )

    df = _prepare(spark, conf, [files[p] for p in sorted(files)])

    # --- stage (the ONE heavy pass): parse -> enrich -> route-explode
    # -> staged write partitioned by (sink, part). parse runs exactly
    # once, inside the write stage (scan -> Arrow UDF -> broadcast join
    # -> explode -> write: a single stage, no shuffle, no persist).
    # Profiled alternative (persist + K filtered writes) REGRESSED with
    # cores (cache pressure: stats+persist 14s@local[8] -> 26s@local[32]);
    # this shape scales with the writes (~3.4x at 4x cores).
    routed = explode_routed(df, conf.sinks).withColumn(
        # per-row content hash shipped WITH the data: the readback
        # checksums what actually landed in the files
        "row_hash", F.xxhash64("doc_id", "tok_hash")
    )
    pair_pred = F.lit(False)
    for rule in conf.sinks:
        if pending[rule.name]:
            pair_pred = pair_pred | (
                (F.col("sink") == rule.name) & F.col("part").isin(pending[rule.name])
            )
    # --- observed staged write + per-(sink, part) readback of the
    # staged files themselves, reconciled before anything ships. Tests
    # corrupt staged files at the after_stage failpoint to prove the
    # reconciliation refuses to commit.
    staging = os.path.join(conf.workdir, "staging")
    _, stats = mf.write_reconciled(
        "staged sinks", routed.filter(pair_pred), staging, "n_tok", "row_hash",
        keys=("sink", "part"), options=STAGE_OPTS,
        hook=failpoint and (lambda: failpoint("after_stage", "", "")))

    claim_sinks(conf)
    # --- ship + commit, per sink in rule order (push-then-checkpoint).
    # Idempotent: a re-run replaces the same partitions exactly
    # (effectively-once).
    committed: dict[str, list[mf.ManifestEntry]] = {}
    for rule in conf.sinks:
        todo = pending[rule.name]
        committed[rule.name] = [
            mf.lineage_entry(rule.name, p, stats.get((rule.name, p)),
                             identity[p], conf.committed_at)
            for p in todo
        ]
        mf.ship_and_commit(
            conf.manifest_dir, committed[rule.name],
            functools.partial(_ship_part, staging, rule),
            failpoint and (lambda phase, p: failpoint(phase, rule.name, p)),
        )
    shutil.rmtree(staging, ignore_errors=True)
    return committed


def claim_sinks(conf: PipelineConf, check_only: bool = False) -> None:
    """Claim every sink path for the conf's workdir with a
    `<path>/_owner` file that holds the workdir (created O_EXCL;
    readers skip `_` files). The lease covers the workdir, not the
    sink: a second workdir shipping to the same path would replace the
    first one's partitions while the first one's manifest still vouches
    for them. A path another workdir owns is refused, naming both
    workdirs and the file to delete. `check_only` refuses the same way
    but creates nothing."""
    for rule in conf.sinks:
        owner = os.path.join(rule.path, OWNER)
        if not check_only:
            os.makedirs(rule.path, exist_ok=True)
            with contextlib.suppress(FileExistsError), open(owner, "x") as f:
                f.write(conf.workdir)
        try:
            with open(owner) as f:
                held = f.read()
        except FileNotFoundError:
            continue
        if held != conf.workdir:
            raise ValueError(
                f"sink {rule.name!r} path {rule.path!r} is owned by "
                f"workdir {held!r}, not {conf.workdir!r}; give this sink a path "
                f"of its own, or delete {owner} to hand it over")


def _ship_part(staging: str, rule, p: str) -> None:
    """Ship ONE staged partition dir to the sink path (metadata-only
    rename; cross-device falls back to copy). A partition with zero
    staged rows clears any stale sink data from a crashed earlier
    attempt so sink == staged truth."""
    src_dir = os.path.join(staging, f"sink={rule.name}", f"part={p}")
    _clear_part(rule, p)
    if os.path.isdir(src_dir):
        os.makedirs(rule.path, exist_ok=True)
        dst_dir = os.path.join(rule.path, f"part={p}")
        try:
            os.rename(src_dir, dst_dir)
        except OSError:  # cross-device: copy fallback
            shutil.move(src_dir, dst_dir)


def _clear_part(rule, p: str) -> None:
    """Remove part `p`'s dir from the sink path, if it is there."""
    shutil.rmtree(os.path.join(rule.path, f"part={p}"), ignore_errors=True)


def _metrics_from_manifest(
    spark: SparkSession, conf: PipelineConf, entries: list[mf.ManifestEntry],
) -> DataFrame:
    """Per-sink rollups derived from the lineage manifest `entries` (as
    read at the start of the run plus this run's commits) — zero data
    scans, and a local relation (`mf.records_frame`), so collecting
    them starts no Spark job. Each record holds its (sink, part)'s
    readback lineage (row_count, tok_total, checksum) from the run that
    shipped it, so folding them reproduces sink_aggregates' totals
    exactly (sum/sum/XOR are decomposable) without the full-table
    re-parse a second aggregation pass would cost (on a 100 TB table
    with a 1-partition increment, that re-parse would re-read the
    entire table just to report metrics)."""
    from llogtail_spark.operators.aggregate import BYTES_PER_TOKEN

    # scope to THIS pipeline's sinks: a shared/stale manifest dir may
    # hold entries for removed sink rules, which are lineage history,
    # not current-run metrics (the plan already dropped deleted parts)
    live_sinks = {r.name for r in conf.sinks}
    per_sink: dict[str, dict[str, int]] = {}
    for e in entries:
        if e.sink not in live_sinks:
            continue
        m = per_sink.setdefault(
            e.sink, {"row_count": 0, "tok_total": 0, "checksum": 0, "n_parts": 0}
        )
        m["row_count"] += e.row_count
        m["tok_total"] += e.tok_total
        m["checksum"] ^= e.checksum
        m["n_parts"] += 1
    rows = [
        (s, m["row_count"], m["tok_total"], m["tok_total"] * BYTES_PER_TOKEN,
         m["checksum"], m["n_parts"])
        for s, m in sorted(per_sink.items())
    ]
    return mf.records_frame(
        spark, rows, "sink string, row_count long, tok_total long, byte_total long, "
                     "checksum long, n_parts long")


def read_sink(spark: SparkSession, conf: PipelineConf, sink: str) -> DataFrame:
    rule = next(r for r in conf.sinks if r.name == sink)
    return spark.read.parquet(rule.path)
