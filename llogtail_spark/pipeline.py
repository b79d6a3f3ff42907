"""Pipeline orchestration: scan -> parse -> enrich -> route -> ship
-> checkpoint, with skip-committed resume.

This is the LogCollector.handleEvent/listenEvent analog
(log_collector.go:134-221) with the event loop replaced by one
declarative DAG per run: the Iceberg/parquet snapshot IS the set of
"modify events"; partitions above the committed manifest are the
un-consumed bytes; there is nothing to poll.

The commit protocol is `manifest.py`'s, shared with the corpus
pipeline, and the whole run holds the workdir lease:
- stage: ONE heavy pass — scan -> Arrow parse UDF -> broadcast enrich
  -> route-explode -> write partitionBy(sink, part) to staging; one
  stage, no shuffle, no persist (a persist+K-writes variant REGRESSED
  with cores from cache memory pressure);
- observe: the staged write counts its own (rows, tok_total, xor
  checksum) — no extra scan;
- readback reconcile: a column-pruned scan of the staged files
  (n_tok, row_hash + partition cols, megabytes not data) gives the
  per-(sink, part) lineage, which must fold to the observation;
- ship: per sink, a thread pool renames staging/sink=X/part=Y ->
  sink_path/part=Y (metadata-only), or ONE Iceberg commit;
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

import functools
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.operators.enrich import enrich_stage
from llogtail_spark.operators.parse import parse_stage
from llogtail_spark.operators.route import SAFE_NAME, explode_routed
from llogtail_spark.sources import reader

# failpoint(stage, sink, part) — tests inject crashes between the sink
# write and the manifest commit to prove effectively-once resume.
Failpoint = Callable[[str, str, str], None]


@dataclass
class RunResult:
    processed: dict[str, list[str]]  # sink -> newly committed parts
    skipped: dict[str, list[str]]  # sink -> parts already committed
    metrics: DataFrame | None  # per-sink aggregates (None if no-op run)


def _prepare(spark: SparkSession, conf: PipelineConf, files: list[str]) -> DataFrame:
    df = reader.read_files(spark, files)
    df = reader.with_partition_id(df)
    df = parse_stage(df, conf.grok)
    if conf.lookup_path:
        lookup = spark.read.parquet(conf.lookup_path)
        df = enrich_stage(df, lookup, defaults=conf.enrich_defaults)
    return df


def validate_manifest(spark: SparkSession, conf: PipelineConf) -> list[str]:
    """Recompute input-partition identities (parquet footer metadata,
    no scan) and drop stale manifest entries (validateCpt analog,
    utils.go:128-133). Returns the parts invalidated."""
    entries = mf.read_all(conf.manifest_dir)
    if not entries:
        return []
    parts = reader.list_parts(spark, conf.input_path)
    live = reader.files_identity(parts)
    stale = []
    for e in entries:
        got = live.get(e.part)
        if got is None or not mf.validate(e, got[0], got[1]):
            mf.invalidate(conf.manifest_dir, e.sink, e.part)
            stale.append(f"{e.sink}/{e.part}")
    return stale


def run_pipeline(
    spark: SparkSession,
    conf: PipelineConf,
    failpoint: Failpoint | None = None,
) -> RunResult:
    # the staging/ship/manifest machinery below walks and renames the
    # workdir with local filesystem calls; a remote workdir URI would
    # silently find no staged files and commit zero-count manifests
    # over real data. Fail loudly instead (the cluster-scale path is
    # Iceberg data-file commits, as documented in the module header).
    # Resolve ONCE and use the resolved path throughout: a 'file:' URI
    # passes the guard, but if staging were built on the raw string,
    # Spark would write under the resolved /path while os.scandir on
    # the literal 'file:/...' string found nothing — staged_any=False
    # and the ship loop would rmtree real sink data, the exact failure
    # this guard exists to prevent (ADVICE r02).
    workdir = reader.local_path(conf.workdir)
    if workdir is None:
        raise NotImplementedError(
            f"workdir must be a local path (got {conf.workdir!r}); on a "
            "cluster, stage to an Iceberg table commit instead"
        )
    with mf.lease(workdir):
        return _run(spark, conf, workdir, failpoint)


def _run(spark: SparkSession, conf: PipelineConf, workdir: str,
         failpoint: Failpoint | None) -> RunResult:
    if conf.validate_on_start:
        validate_manifest(spark, conf)

    parts = reader.list_parts(spark, conf.input_path)  # {part: file}
    pending: dict[str, list[str]] = {}
    skipped: dict[str, list[str]] = {}
    for rule in conf.sinks:
        done = mf.committed_parts(conf.manifest_dir, rule.name)
        pending[rule.name] = sorted(set(parts) - done)
        skipped[rule.name] = sorted(set(parts) & done)

    union_parts = sorted({p for ps in pending.values() for p in ps})
    if not union_parts:
        return RunResult(processed={r.name: [] for r in conf.sinks},
                         skipped=skipped, metrics=None)

    bad = [p for p in union_parts if not SAFE_NAME.match(p)]
    if bad:
        raise ValueError(
            f"partition ids {bad[:3]} contain characters Spark would "
            "escape in partition paths; rename the input files"
        )

    fmts = {(r.format, tuple(sorted(r.options.items()))) for r in conf.sinks}
    if len(fmts) != 1:
        raise NotImplementedError(
            "mixed sink formats/options: run one pipeline per format group "
            "(the reference likewise has a single sink type, sink.go:3-13)"
        )
    fmt, fmt_opts = conf.sinks[0].format, conf.sinks[0].options

    files = [parts[p] for p in union_parts]
    df = _prepare(spark, conf, files)

    # --- input-partition identity from parquet FOOTER metadata only
    # (driver-side parallel footer reads, no scan, no Spark job) —
    # the validateCpt analog (utils.go:128-133). At cluster scale
    # these stats come from the Iceberg manifest.
    in_stats = reader.files_identity({p: parts[p] for p in union_parts})

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
    staging = os.path.join(workdir, "staging")
    shutil.rmtree(staging, ignore_errors=True)
    # observe(): global lineage accumulated BY the write stage itself —
    # zero extra scan (Spark accumulator metrics piggyback on the
    # tasks); the readback below must reproduce it from the files
    obs = Observation("staged")
    routed.filter(pair_pred).observe(
        obs, *mf.lineage("n_tok", "row_hash")
    ).write.format(fmt).mode("overwrite").partitionBy(
        "sink", "part"
    ).options(**fmt_opts).save(staging)
    observed = obs.get
    if failpoint:
        # tests corrupt staged files here to prove the
        # observe-vs-readback reconciliation refuses to commit
        failpoint("after_stage", "", "")

    # --- readback: per-(sink, part) lineage of the staged files
    # themselves. Zero rows staged is detected explicitly (no sink=
    # dirs), NOT by swallowing exceptions — a transient readback
    # failure must fail the run rather than commit row_count=0
    # manifests over real data.
    staged_any = any(
        e.name.startswith("sink=") for e in os.scandir(staging)
    ) if os.path.isdir(staging) else False
    if staged_any:
        stats = mf.readback(spark.read.format(fmt).load(staging),
                            "n_tok", "row_hash", keys=("sink", "part"))
        mf.reconcile("staged sinks", observed, stats.values())
    else:
        stats = {}
        if int(observed["rows"]) != 0:
            raise RuntimeError(
                f"write stage observed {observed['rows']} rows but no "
                "sink= directories were staged — staging output is "
                "missing; refusing to commit lineage"
            )

    # --- ship + commit, per sink in rule order (push-then-checkpoint).
    # Idempotent: a re-run replaces the same partitions exactly
    # (effectively-once).
    processed: dict[str, list[str]] = {}
    for rule in conf.sinks:
        todo = pending[rule.name]
        move = functools.partial(_ship_part, staging, rule)
        if conf.ship_mode == "iceberg":
            move = None  # one atomic table commit for the whole sink
            if todo:
                _ship_sink_iceberg(spark, staging, rule, todo)
        processed[rule.name] = mf.ship_and_commit(
            conf.manifest_dir,
            [mf.lineage_entry(rule.name, p, stats.get((rule.name, p)),
                              in_stats.get(p), conf.committed_at)
             for p in todo],
            move,
            failpoint and (lambda phase, p: failpoint(phase, rule.name, p)),
        )
    shutil.rmtree(staging, ignore_errors=True)

    metrics = _metrics_from_manifest(spark, conf, live_parts=set(parts))
    return RunResult(processed=processed, skipped=skipped, metrics=metrics)


def _ship_part(staging: str, rule, p: str) -> None:
    """Ship ONE staged partition dir to the sink path (metadata-only
    rename; cross-device falls back to copy). A partition with zero
    staged rows clears any stale sink data from a crashed earlier
    attempt so sink == staged truth."""
    src_dir = os.path.join(staging, f"sink={rule.name}", f"part={p}")
    dst_dir = os.path.join(rule.path, f"part={p}")
    if os.path.isdir(src_dir):
        os.makedirs(rule.path, exist_ok=True)
        shutil.rmtree(dst_dir, ignore_errors=True)
        try:
            os.rename(src_dir, dst_dir)
        except OSError:  # cross-device: copy fallback
            shutil.move(src_dir, dst_dir)
    else:
        shutil.rmtree(dst_dir, ignore_errors=True)


def _ship_sink_iceberg(spark: SparkSession, staging: str, rule, todo: list[str]) -> None:
    """Ship one sink's staged partitions as ONE atomic Iceberg commit:
    `overwritePartitions` replaces exactly the partitions present in
    the staged frame in a single snapshot — the cluster-scale
    replacement for 10^6 serial driver renames (and the coded form of
    what the rename path's docstrings previously only described).
    rule.path is an Iceberg table identifier (catalog.db.table).

    Requires iceberg-spark-runtime on the classpath + a catalog conf;
    without them this raises loudly with setup guidance — shipping
    must never silently fall back, because the manifest would then
    record commits that no table received. Reference anchor: one
    atomic checkpoint write per push (utils.go:233-250)."""
    sink_dir = os.path.join(staging, f"sink={rule.name}")
    staged = [p for p in todo
              if os.path.isdir(os.path.join(sink_dir, f"part={p}"))]
    staged_set = set(staged)  # list membership would be O(|todo|^2) at 10^6 parts
    empty = [p for p in todo if p not in staged_set]
    try:
        if staged:
            df = spark.read.option("basePath", sink_dir).parquet(
                *[os.path.join(sink_dir, f"part={p}") for p in staged]
            )
            try:
                df.writeTo(rule.path).overwritePartitions()
            except Exception as e:
                if "TABLE_OR_VIEW_NOT_FOUND" not in str(e):
                    raise
                df.writeTo(rule.path).partitionedBy(F.col("part")).create()
        if empty:
            # partitions with zero routed rows this run: clear stale
            # data (the rename path's rmtree analog), one metadata op
            parts_in = ", ".join(f"'{p}'" for p in empty)
            try:
                spark.sql(f"DELETE FROM {rule.path} WHERE part IN ({parts_in})")
            except Exception as e:
                # first-ever run with an all-empty sink: no table was
                # created above, so there is no stale data to clear —
                # anything else (jar/catalog/perm) must still surface
                if "TABLE_OR_VIEW_NOT_FOUND" not in str(e):
                    raise
    except Exception as e:
        raise RuntimeError(
            f"iceberg ship failed for sink {rule.name!r} (table "
            f"{rule.path!r}): {type(e).__name__}. The iceberg-spark-"
            "runtime jar and a catalog config are required, e.g. "
            "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 "
            "--conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog; "
            "use ship_mode='rename' for plain filesystems"
        ) from e


def _metrics_from_manifest(
    spark: SparkSession, conf: PipelineConf, live_parts: set[str]
) -> DataFrame:
    """Per-sink rollups derived from the lineage manifest — zero data
    scans. The manifest rows ARE the job-3 readback stats (row_count,
    tok_total, checksum per (sink, part)), so folding them reproduces
    sink_aggregates' totals exactly (sum/sum/XOR are decomposable)
    without the full-table re-parse a second aggregation pass would
    cost (on a 100 TB table with a 1-partition increment, that re-parse
    would re-read the entire table just to report metrics)."""
    from llogtail_spark.operators.aggregate import BYTES_PER_TOKEN

    # scope to THIS pipeline's sinks and the CURRENT input partitions:
    # a shared/stale manifest dir may hold entries for removed sink
    # rules or deleted input parts, which are lineage history, not
    # current-run metrics
    live_sinks = {r.name for r in conf.sinks}
    per_sink: dict[str, dict[str, int]] = {}
    for e in mf.read_all(conf.manifest_dir):
        if e.sink not in live_sinks or e.part not in live_parts:
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
    return spark.createDataFrame(
        rows, "sink string, row_count long, tok_total long, byte_total long, "
              "checksum long, n_parts long",
    )


def read_sink(spark: SparkSession, conf: PipelineConf, sink: str) -> DataFrame:
    rule = next(r for r in conf.sinks if r.name == sink)
    if conf.ship_mode == "iceberg":
        # rule.format stays the STAGING format (parquet); the sink
        # itself is an Iceberg table named by rule.path
        return spark.read.format("iceberg").load(rule.path)
    return spark.read.format(rule.format).load(rule.path)
