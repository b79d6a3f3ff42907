"""Lineage records and the one commit protocol both pipelines share —
the kCheckpoint analog.

`pipeline.py` (log sinks) and `corpus_pipeline.py` (corpus stages and
packed shards) keep their own stages and record kinds; everything
between "staged" and "committed" lives here:

1. lease — the whole run holds a non-blocking exclusive flock on
   <workdir>/.lock, so a second run on the same workdir fails at once
   instead of deleting the first run's staging mid-write; the kernel
   drops the lock when the process dies, so a crash leaves nothing
   stale;
2. stage + observe — the staged write carries `observe(*lineage(...))`,
   so the write job itself counts (rows, tok_total, xor checksum);
3. readback reconcile — `readback` re-derives the same triple from the
   files that landed and `reconcile` refuses to commit lineage that
   disagrees with the observation;
4. ship — `ship_and_commit` moves the pending partitions with a
   fixed-size thread pool;
5. commit — then commits their records in order (push-then-checkpoint,
   log_collector.go:208-215): a crash between ship and commit
   re-processes the partition, and the idempotent overwrite makes the
   retry exact (effectively-once).

Reference semantics being preserved:
- one checkpoint file per source at workdir/offset/<md5(path)[:4]>.cpt
  (log_collector.go:16-17, collector.go:181-187)  ->  one JSON record
  per (sink, partition) at <manifest_dir>/<sink>=<part>.json, one per
  corpus stage at <stage_manifest_dir>/<stage>.stage.json
- checkpoint carries identity + offset (kCheckpoint,
  log_collector.go:35-40)  ->  a record carries its input identity and
  its output (rows, tok_total, checksum)
- atomic truncate-rewrite via temp file (utils.go:233-250)  ->
  write-temp-then-os.rename (atomic on POSIX), one writer for both
  record kinds
- validateCpt: (dev, inode) match and offset <= size
  (utils.go:128-133)  ->  validate(): recorded input identity must
  match the recomputed one; mismatch means the input changed under us
  -> reprocess from scratch.

At cluster scale the manifest is metadata-sized (one tiny JSON per
input file per sink), read once on the driver at job start — the
skip-committed decision is a driver-side set difference feeding a
pruned file list into the scan, so committed data is never even read.
"""

from __future__ import annotations

import contextlib
import dataclasses
import fcntl
import functools
import json
import operator
import os
import tempfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from typing import Callable, Iterable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

# renames/copies of distinct partition dirs are independent metadata
# ops; at 10^6 input partitions a serial driver loop is the bottleneck
SHIP_WORKERS = 8


@dataclass(frozen=True)
class ManifestEntry:
    sink: str
    part: str  # input partition id (file basename) — FileMeta analog
    row_count: int  # rows shipped to this sink from this partition
    tok_total: int
    checksum: int  # order-insensitive BIT_XOR(xxhash64(doc_id, tokens)) of shipped rows
    watermark_offset: int  # input rows consumed (all-or-nothing per partition)
    committed_at: str  # injected by caller, never wall-clock in tests
    # identity of the INPUT partition at commit time — what validate()
    # compares, exactly as validateCpt checks file identity rather
    # than shipped bytes (utils.go:128-133)
    in_row_count: int = 0
    in_checksum: int = 0


@dataclass
class StageManifest:
    """One corpus stage's lineage: the upstream identity it was
    computed from, its output identity, and its params fingerprint."""

    stage: str
    in_rows: int
    in_checksum: int
    out_rows: int
    tok_total: int
    out_checksum: int
    params_crc: int
    committed_at: str = ""
    # the stage output's Spark schema (StructType.json()): lets a
    # resume read a SKIPPED stage's dir without inference — which
    # raises on a legitimately empty output (zero data files)
    schema_json: str = ""


# ------------------------------------------------------------ codec


def _entry_path(manifest_dir: str, sink: str, part: str) -> str:
    # '=' cannot appear in a SAFE_NAME-validated sink or part, so the
    # filename is an unambiguous encoding of the (sink, part) pair —
    # '__' was ambiguous (sink 'a__b' + part 'c' vs 'a' + 'b__c'
    # collided on one file, livelocking both as perpetually
    # uncommitted)
    return os.path.join(manifest_dir, f"{sink}={part}.json")


def _stage_path(manifest_dir: str, stage: str) -> str:
    return os.path.join(manifest_dir, f"{stage}.stage.json")


def _write(path: str, record) -> str:
    """Atomically persist one record (temp + rename); the temp file
    never outlives a failed write."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        # temp+rename gives process-crash atomicity; no fsync — the
        # reference's makeCheckpoint is a plain truncate-write with
        # neither rename nor sync (utils.go:233-250), so this is
        # already the stronger discipline, and 192 fsyncs/run were
        # measurable serial driver time.
        with os.fdopen(fd, "w") as f:
            json.dump(asdict(record), f)
        os.rename(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return path


def _drop(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


@functools.cache
def _schema(cls) -> tuple[set[str], set[str]]:
    """(all field names, required field names) of a record class."""
    fields = dataclasses.fields(cls)
    return ({f.name for f in fields},
            {f.name for f in fields if f.default is dataclasses.MISSING})


def _read(path: str, cls):
    """One record, or None if it is absent.

    OSError (EACCES, transient I/O) propagates: a read failure is NOT
    evidence the record is bad, and deleting a valid committed record
    silently forces reprocessing. The one exception is ENOENT — the
    record does not exist (or a concurrent reader just dropped it)."""
    try:
        f = open(path)
    except FileNotFoundError:
        return None
    with f:
        try:
            d = json.load(f)
        except json.JSONDecodeError:
            # truncated/corrupt bytes (power loss persisted the rename
            # but not the data, since _write doesn't fsync): drop it —
            # the record counts as uncommitted and is recomputed; the
            # idempotent overwrite makes that safe
            _drop(path)
            return None
    names, required = _schema(cls)
    if not isinstance(d, dict) or not required <= d.keys():
        # schema mismatch is an operator error, not corruption —
        # surface it instead of destroying the record
        raise ValueError(
            f"manifest entry {path} has unrecognized schema: "
            f"{sorted(d) if isinstance(d, dict) else type(d).__name__}"
        )
    # unknown extra keys are ignored (forward compatibility)
    return cls(**{k: v for k, v in d.items() if k in names})


def commit(manifest_dir: str, entry: ManifestEntry) -> str:
    """Atomically persist one (sink, part) manifest entry."""
    return _write(_entry_path(manifest_dir, entry.sink, entry.part), entry)


def read_all(manifest_dir: str) -> list[ManifestEntry]:
    if not os.path.isdir(manifest_dir):
        return []
    out = []
    for name in sorted(os.listdir(manifest_dir)):
        if name.endswith(".json"):
            e = _read(os.path.join(manifest_dir, name), ManifestEntry)
            if e is not None:
                out.append(e)
    return out


def committed_parts(manifest_dir: str, sink: str) -> set[str]:
    return {e.part for e in read_all(manifest_dir) if e.sink == sink}


def validate(entry: ManifestEntry, in_row_count: int, in_checksum: int) -> bool:
    """True iff the recorded INPUT-partition identity still matches the
    live input partition (validateCpt truth table analog)."""
    return entry.in_row_count == in_row_count and entry.in_checksum == in_checksum


def invalidate(manifest_dir: str, sink: str, part: str) -> None:
    """Drop a stale entry so the partition re-enters the plan."""
    _drop(_entry_path(manifest_dir, sink, part))


def commit_stage(manifest_dir: str, m: StageManifest) -> str:
    """Atomically persist one corpus stage manifest."""
    return _write(_stage_path(manifest_dir, m.stage), m)


def read_stage(manifest_dir: str, stage: str) -> StageManifest | None:
    return _read(_stage_path(manifest_dir, stage), StageManifest)


def invalidate_stage(manifest_dir: str, stage: str) -> None:
    """Drop a stale stage manifest so a crash mid-recompute can't
    resurrect it."""
    _drop(_stage_path(manifest_dir, stage))


# --------------------------------------------------------- protocol


@contextlib.contextmanager
def lease(workdir: str):
    """Hold <workdir>/.lock exclusively for one run; a second run on
    the same workdir fails at once instead of waiting or clobbering."""
    os.makedirs(workdir, exist_ok=True)
    fd = os.open(os.path.join(workdir, ".lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            raise RuntimeError(
                f"workdir {workdir} is held by another run; runs that "
                "share a workdir must not overlap"
            ) from None
        yield
    finally:
        os.close(fd)  # closing the descriptor releases the lock


def lineage(tok, ck) -> list:
    """The (rows, tok_total, checksum) aggregates that both the
    write-stage observation and the readback compute. Sum and xor are
    decomposable, so per-group readback rows fold to the global
    observation; coalesce makes an empty or all-NULL input 0."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(tok), F.lit(0)).alias("tok_total"),
        F.coalesce(F.bit_xor(ck), F.lit(0)).alias("checksum"),
    ]


def readback(df: DataFrame, tok, ck, keys: tuple[str, ...] = ()) -> dict[tuple, Row]:
    """Lineage of the files that landed, per `keys` group (one global
    row without keys), in one column-pruned collect. Keys read back
    as strings: they are OUR partition keys, and a numeric basename
    inferred as int would miss the lookup and commit zero counts."""
    groups = [F.col(k).cast("string").alias(k) for k in keys]
    return {
        tuple(r[k] for k in keys): r
        for r in df.groupBy(*groups).agg(*lineage(tok, ck)).collect()
    }


def reconcile(what: str, observed, rows: Iterable[Row]) -> None:
    """Refuse to commit lineage the staged files do not reproduce: the
    readback rows must fold to exactly the write-stage observation, or
    rows were lost/corrupted between write and readback (a partial
    task file, a vanished part dir)."""
    rows = list(rows)
    got = (sum(int(r["rows"]) for r in rows),
           sum(int(r["tok_total"]) for r in rows),
           functools.reduce(operator.xor, (int(r["checksum"]) for r in rows), 0))
    want = (int(observed["rows"]), int(observed["tok_total"]),
            int(observed["checksum"]))
    if got != want:
        raise RuntimeError(
            f"{what}: staged readback disagrees with the write-stage "
            f"observation: readback (rows={got[0]}, tok={got[1]}, "
            f"xor={got[2]}) vs observed (rows={want[0]}, tok={want[1]}, "
            f"xor={want[2]}) — staged files are incomplete or corrupted; "
            "refusing to commit lineage"
        )


def lineage_entry(sink: str, part: str, stats: Row | None,
                  identity: tuple[int, int] | None,
                  committed_at: str) -> ManifestEntry:
    """The record for one shipped partition: its readback lineage
    (zeros when nothing was staged for it) and the input identity it
    was computed from."""
    in_rows, in_ck = identity or (0, 0)
    return ManifestEntry(
        sink=sink, part=part,
        row_count=int(stats["rows"]) if stats else 0,
        tok_total=int(stats["tok_total"]) if stats else 0,
        checksum=int(stats["checksum"]) if stats else 0,
        watermark_offset=int(in_rows), committed_at=committed_at,
        in_row_count=int(in_rows), in_checksum=int(in_ck),
    )


def ship_and_commit(
    manifest_dir: str,
    entries: list[ManifestEntry],
    move: Callable[[str], None] | None,
    hook: Callable[[str, str], None] | None = None,
) -> list[str]:
    """Push-then-checkpoint for one batch of partitions: `move` every
    entry's part to its destination from a thread pool (None: the
    caller already shipped them), THEN commit the entries in order.
    A crash mid-ship commits nothing, so the re-run re-ships the same
    dirs idempotently. `hook(phase, part)` runs around each commit —
    the failpoint tests kill there. Returns the committed parts."""
    parts = [e.part for e in entries]
    if move is not None and parts:
        with ThreadPoolExecutor(SHIP_WORKERS) as ex:
            list(ex.map(move, parts))
    for e in entries:
        if hook:
            hook("before_commit", e.part)
        commit(manifest_dir, e)
        if hook:
            hook("after_commit", e.part)
    return parts
