"""Input listing, readers + partition identity.

The reference discovers sources by glob (findFiles, utils.go:48-71)
and identifies each by (dev, inode, first-1KB-MD5) (log_watcher.go:
65-70). Here `list_parts` is the one definition of the source set:
the flat *.parquet files of a local input dir, listed on the driver
with os.scandir (no Spark job) by the log pipeline, the corpus
pipeline and the stream's rescan alike. The stable partition identity
is the file basename (cheap, rename-stable within a table directory),
with the footer checksum (`file_identity`) playing the MD5 role.

`list_parts` + an explicit pruned file list into `read_files` is the
resume fast path: committed partitions are excluded from the scan
itself (never read), the batch analog of seeking to the checkpoint
offset (collector.go:74-78). `read_files` takes the scan's schema from
the parts' parquet footers on the driver, so neither the input nor the
lookup costs a schema-inference job, and it refuses a part whose
schema differs from the first part's.
"""

from __future__ import annotations

import os
import zlib
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def part_of(path: str) -> str:
    """Stable partition id for an input file: basename sans extension."""
    base = os.path.basename(path)
    return base[:-8] if base.endswith(".parquet") else base


def list_parts(path: str) -> dict[str, str]:
    """{partition_id: file_path} for every part of the input — the
    package's one definition of an input part, listed on the driver
    with no Spark job (findFiles' glob, utils.go:48-71).

    A part is a regular *.parquet file directly under the local dir
    `path`, or `path` itself when it is a file. Names starting with
    '_' or '.' are hidden (Spark's rule: _SUCCESS, .crc). Refused,
    naming the path: a non-hidden subdirectory (nested or k=v layouts
    would merge same-named parts; ValueError), a remote URI (footer
    identity reads every file on the driver; NotImplementedError) and
    an empty match (findFiles' zero-match error, utils.go:66-69;
    FileNotFoundError)."""
    local = local_path(path)
    if local is None:
        raise NotImplementedError(
            f"input {path!r} must be a local path; on a cluster, list the "
            "parts from the Iceberg manifest instead")
    if os.path.isfile(local):
        return {part_of(local): local}
    files = []
    try:
        with os.scandir(local) as it:
            for e in it:
                if e.name.startswith(("_", ".")):
                    continue
                if e.is_dir():
                    raise ValueError(
                        f"input {path!r} has a subdirectory {e.name!r}; nested "
                        "and k=v layouts are not supported, list one flat dir")
                if e.name.endswith(".parquet") and e.is_file():
                    files.append(e.path)
    except FileNotFoundError:
        pass
    if not files:
        raise FileNotFoundError(f"no input files under {path}")
    return {part_of(f): f for f in sorted(files)}


def read_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """Scan exactly these files (pruned resume scan) with the schema of
    their parquet footers, read on the driver: no schema-inference job.
    Spark's inference takes one file's schema, so a later part missing
    a column would read it as NULL; here every part must carry the
    first part's columns and types, or the read is refused naming the
    part and the fields that differ."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if not files:
        raise ValueError("empty file list")
    with ThreadPoolExecutor(max_workers=16) as ex:
        schemas = [from_arrow_schema(s) for s in ex.map(pq.read_schema, files)]
    want = {f.name: f.dataType.simpleString() for f in schemas[0]}
    for path, schema in zip(files, schemas):
        got = {f.name: f.dataType.simpleString() for f in schema}
        diff = [f"{n} ({want.get(n, 'absent')} vs {got.get(n, 'absent')})"
                for n in sorted(want.keys() | got.keys()) if want.get(n) != got.get(n)]
        if diff:
            raise ValueError(
                f"parquet part {path!r} does not match the schema of {files[0]!r}: "
                f"{', '.join(diff)}; rewrite the part or read it separately")
    return spark.read.schema(schemas[0]).parquet(*files)


def ensure_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition `df` to the session's core count — but ONLY
    when its current scan parallelism is below that floor.

    Why: a heavy per-row stage (band-key UDF + 1000x explode, shingle
    minhash, vector quantizers) inherits the SCAN's partitioning, and
    parquet splits by row group — a small single-row-group file is one
    partition no matter what maxPartitionBytes says, so the whole
    fan-out stage runs on one core (measured 2.6x on the near-dup
    candidate stage at sf0.1). Shuffling the RAW rows (pre-explode,
    the narrow side) is the cheap place to restore parallelism.

    At production scale the gate makes this a no-op: a 100 TB scan
    already has >> cores partitions, so no extra exchange is paid.
    Hash partitioning on `key_cols` keeps row placement deterministic
    under retry (round-robin repartition is not).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # metadata-only peek at the planned partition count (no job runs)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])


def with_partition_id(df: DataFrame, col: str = "part") -> DataFrame:
    """Attach the partition id each row came from, derived from
    input_file_name() — pure expression, no shuffle."""
    base = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return df.withColumn(col, F.regexp_replace(base, r"\.parquet$", ""))


def local_path(path: str) -> str | None:
    """Local filesystem path for `path`, or None if it lives on a
    remote filesystem (hdfs://, s3a://, ...). Shared by every caller
    that wants to os.stat/read a listed file directly."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    if "://" in path:
        return None
    return path


def file_identity(path: str) -> tuple[int, int]:
    """(row_count, checksum) of one input file from parquet FOOTER
    metadata only — no data scan. The checksum folds (num_rows,
    serialized byte size, per-row-group doc_id min/max stats): the
    exact analog of validateCpt's (dev, inode, offset <= size) check
    (utils.go:128-133) — cheap identity, content-hash left to the
    per-sink checksums. At cluster scale these stats come straight
    from the Iceberg manifest; here we read footers driver-side."""
    import pyarrow.parquet as pq

    lp = local_path(path)
    if lp is not None:
        path = lp
    md = pq.read_metadata(path)
    idx = md.schema.to_arrow_schema().get_field_index("doc_id")
    parts = [str(md.num_rows)]
    for rg in range(md.num_row_groups):
        col = md.row_group(rg).column(idx)
        parts.append(str(col.total_compressed_size))
        st = col.statistics
        if st is not None and st.has_min_max:
            parts.append(f"{st.min}|{st.max}")
    blob = "\x1f".join(parts).encode()
    return int(md.num_rows), zlib.crc32(blob)


def files_identity(files: dict[str, str]) -> dict[str, tuple[int, int]]:
    """{part: (row_count, checksum)} via parallel footer reads."""
    with ThreadPoolExecutor(max_workers=16) as ex:
        vals = list(ex.map(file_identity, files.values()))
    return dict(zip(files.keys(), vals))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
    sort: bool = True,
) -> None:
    """Persist `df` as a bucketed (+sorted) table so every later join
    or aggregation keyed on `bucket_col` is co-located: both sides
    hash-partitioned at WRITE time into the same `n_buckets`, so the
    join plan has NO Exchange (pinned in tests/test_plans.py). This is
    the 100 TB answer to a fact table that is joined on the same key
    by many downstream queries — pay the shuffle once at write, never
    again at read. At cluster scale the catalog is Iceberg/HMS; here
    the session catalog holds the bucketing metadata and `path` makes
    the table external (no warehouse-dir dependence).

    n_buckets sizing: target ~100-500 MB per bucket file at the
    expected table size; too few buckets caps read parallelism, too
    many makes small files.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
