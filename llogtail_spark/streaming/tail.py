"""Streaming tail: the Structured Streaming twin of the batch pipeline.

Semantics parity with the reference's live loop:
- file-source `readStream` discovery of new files under the input dir
  == inotify Discover/Modify events (log_watcher.go:369-394) — Spark's
  file-stream source tracks seen files in its checkpoint exactly the
  way llogtail tracks per-file offsets;
- `foreachBatch` hands each micro-batch's files to the batch
  pipeline's own core, `pipeline.stage_and_ship`: the same parse ->
  enrich -> route -> staged write -> readback reconcile -> ship ->
  commit, under the same workdir lease. llogtail likewise has ONE
  push-then-checkpoint path whether a batch came from the initial
  scan or a live Modify event (log_collector.go:208-215), so a stream
  sink gets the same staged format, the same reconcile and the same
  empty-partition clearing as a batch sink;
- the streaming checkpointLocation + our manifest give resumability:
  a restarted stream reprocesses at most the last uncommitted batch,
  and the idempotent per-partition ship keeps sinks exact;
- Trigger.AvailableNow drains everything currently discoverable and
  stops — the batch-catch-up mode (poller analog, log_watcher.go:167).

A micro-batch learns its files from `input_file_name()` (a streaming
frame's `inputFiles()` is empty) and reads only their footers for the
input identity: O(batch) driver work per trigger, never a table
listing. At cluster scale this runs continuously against a landing
directory / Iceberg table feed; maxFilesPerTrigger bounds micro-batch
size the way the 4 MB buffer bounds a fetch (buffer.go:31-36).

IN-PLACE ROTATION (log_watcher.go:228-261): Spark's file-stream
source assumes files are IMMUTABLE once seen, so a file rewritten in
place under a running stream would stay shipped with its OLD content
forever. Two coverage modes:
- default (rescan=False): the BATCH path's identity validation,
  `pipeline.validate_manifest` (`cli --validate`), drops the replaced
  partition's entries so the next `run_pipeline` reprocesses it; a
  plain `run_pipeline` does not validate, and ships nothing for an
  in-place rewrite. The stream itself never re-ships, which preserves
  the strict O(batch)-per-trigger driver-work guarantee
  (test_stream_identity_work_is_per_batch_not_per_table) — the right
  default under the north rule's immutable token-table partitions.
- rescan=True: `rescan_rewritten` runs after each micro-batch — the
  live-loop twin of the reference's rotation branch. Stat-gated
  (O(table) stats per trigger, the poller cadence; footer reads only
  O(changed)), it re-ships exactly the rewritten partitions through
  the same core. For landing dirs fed by rewriting writers, including
  copytruncate: a part truncated to an empty file is cleared from
  every sink.
Writers that rotate files INTO the directory (create-then-move) are
handled by both modes without rescan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llogtail_spark import manifest as mf
from llogtail_spark import pipeline
from llogtail_spark.config import PipelineConf
from llogtail_spark.sources import reader

SEQUENCES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ]
)


def _ship_all(spark: SparkSession, conf: PipelineConf, workdir: str,
              files: dict[str, str], identity: dict[str, tuple[int, int]]) -> None:
    """Ship every part of `files` to every sink through the batch core."""
    with mf.lease(workdir):
        pipeline.stage_and_ship(spark, conf, workdir, files, identity,
                                {r.name: sorted(files) for r in conf.sinks})


def _process_batch(spark: SparkSession, conf: PipelineConf, workdir: str,
                   batch_df: DataFrame, ledger: dict | None) -> None:
    """One micro-batch: its files through the batch core, then the
    rescan when in-place rotation handling is on (`ledger` not None)."""
    # input_file_name() is a URI with escaped characters; local_path
    # turns a file: URI back into the path that is on disk
    uris = [r[0] for r in batch_df.select(F.input_file_name()).distinct().collect()]
    files = {reader.part_of(f): f for f in (reader.local_path(u) or u for u in uris if u)}
    if files:
        # input identity from parquet FOOTER metadata — the SAME
        # definition validate_manifest recomputes
        _ship_all(spark, conf, workdir, files, reader.files_identity(files))
    if ledger is not None:
        # seed the ledger with this batch's just-committed files so the
        # rescan's footer reads stay O(changed), not O(committed)
        for p, f in files.items():
            ledger[p] = _stat_of(f)
        rescan_rewritten(spark, conf, ledger)


def _stat_of(path: str):
    """(mtime_ns, size) for a local file, None when not statable
    (remote URI or vanished) — the cheap pre-filter before a footer
    read, the analog of the watcher's (dev, inode, size) check
    (utils.go:128-133)."""
    lp = reader.local_path(path)
    if lp is None:
        return None
    try:
        st = os.stat(lp)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def rescan_rewritten(spark: SparkSession, conf: PipelineConf,
                     ledger: dict | None = None) -> list[str]:
    """Detect and re-ship input partitions REWRITTEN IN PLACE under a
    running stream — the streaming twin of llogtail's in-place
    rotation branch (log_watcher.go:228-261) and of the batch path's
    validate_manifest, run on the poller cadence.

    Spark's file-stream source never re-delivers a seen path, so a
    file rewritten in place would otherwise keep its OLD content in
    every sink forever. This rescan lists the input with the batch
    run's own definition of a part (`reader.list_parts`) and stats
    every part (O(table) driver stat() calls — the poller analog,
    metadata only), footer-reads only parts whose stat moved since the
    ledger saw them (O(changed); a cold ledger — fresh stream or
    restart — pays one metadata-only footer sweep over committed
    parts, exactly the batch validate_manifest cost), and ships just
    the rewritten files to every sink through the batch core with the
    identities it already read. A file mid-rewrite (unreadable footer)
    is skipped this round and re-checked next rescan — the writer is
    still active, the same wait-for-quiesce the watcher applies to a
    file growing under its tail.

    Returns the sorted list of re-shipped partition ids."""
    workdir = pipeline.local_dir(conf.workdir)
    entries = mf.read_all(conf.manifest_dir)
    by_part: dict[str, mf.ManifestEntry] = {}
    for e in entries:
        by_part.setdefault(e.part, e)  # input identity is per-part, not per-sink
    if not by_part:
        return []
    ledger = {} if ledger is None else ledger
    changed: dict[str, str] = {}
    ids: dict[str, tuple[int, int]] = {}
    for part, path in reader.list_parts(conf.input_path).items():
        e = by_part.get(part)
        if e is None:
            continue  # never shipped — the file source will deliver it
        st = _stat_of(path)
        if st is not None and ledger.get(part) == st:
            continue  # stat unchanged since last look: no footer read
        try:
            rc, ck = reader.file_identity(path)
        except Exception:
            # truncated/in-flight rewrite: drop the ledger entry so the
            # next rescan re-checks once the writer quiesces
            ledger.pop(part, None)
            continue
        ledger[part] = st
        if not mf.validate(e, rc, ck):
            changed[part] = path
            ids[part] = (rc, ck)
    if changed:
        _ship_all(spark, conf, workdir, changed, ids)
    return sorted(changed)


def stream_pipeline(
    spark: SparkSession,
    conf: PipelineConf,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    rescan: bool = False,
):
    """Start the streaming tail. Returns the StreamingQuery.

    available_now=True drains all currently-visible files then stops
    (deterministic for tests); False runs continuously.
    rescan=True additionally runs `rescan_rewritten` after each
    micro-batch — in-place-rewritten files are detected and re-shipped
    by the stream itself (see module header for the trade).
    """
    workdir = pipeline.local_dir(conf.workdir)
    pipeline.check_layout(conf, workdir)
    # the rescan's stat ledger lives for the stream's lifetime
    ledger: dict | None = {} if rescan else None
    stream = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger", str(max_files_per_trigger))
    writer = stream.parquet(conf.input_path).writeStream.foreachBatch(
        lambda bdf, _: _process_batch(spark, conf, workdir, bdf, ledger)
    ).option("checkpointLocation", os.path.join(conf.workdir, "stream_cpt"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

