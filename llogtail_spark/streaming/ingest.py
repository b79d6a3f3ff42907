"""Streaming dedup ingest: the training-corpus landing zone.

New documents stream in (file-source discovery == the Discover/Modify
inotify events, log_watcher.go:369-394); every micro-batch is deduped
WITHIN itself and AGAINST all previously-ingested history, survivors
ship to the corpus, and only then do their fingerprints commit to the
persistent index — the push-then-checkpoint ordering of the batch
pipeline (log_collector.go:208-215), per micro-batch.

Replay-exactness (the part naive index appends get wrong): the index
is laid out as one directory PER MICRO-BATCH (`tag=b<batch_id>/`).
A batch's anti-join reads every OTHER tag and its ship + index write
both OVERWRITE its own tag/dir, so every crash-replay case converges:

- crash before ship: nothing landed, replay is a fresh run;
- crash between ship and index commit: replay recomputes the same
  survivors (its own fps are not in the index yet) and overwrites the
  same output dir — effectively-once;
- crash AFTER index commit but before the stream checkpoint: replay
  anti-joins against history MINUS its own tag, so it still sees the
  original survivor set — without the tag exclusion the batch's own
  committed fingerprints would anti-join its replay down to ZERO rows
  and overwrite the already-shipped output with nothing (data loss).

At cluster scale the tag directories are Iceberg partitions of the
fingerprint table and `compact_index`'s superset-safe rewrite applies
within tags; the per-batch layout also gives retention/GC a natural
unit (drop the oldest tags with their corpus shard).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llogtail_spark.operators.dedup import exact_dedup, normalize_text
from llogtail_spark.streaming import start_file_stream

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def _history_tags(index_path: str, own_tag: str) -> list[str]:
    """Every committed tag dir except the current batch's own —
    driver-side metadata listing (an Iceberg partition listing at
    cluster scale), never a data read."""
    if not os.path.isdir(index_path):
        return []
    return sorted(
        os.path.join(index_path, d)
        for d in os.listdir(index_path)
        if d.startswith("tag=") and d != f"tag={own_tag}"
    )


def ingest_batch(
    spark: SparkSession,
    bdf,
    batch_id: int,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Process ONE micro-batch: within-batch dedup -> anti-join vs
    history (all other tags) -> overwrite-ship to batch=<id> ->
    overwrite-commit fingerprints to tag=b<id>. Shuffle is keyed on
    the 8-byte fingerprint; the history side carries fingerprints
    only, never documents."""
    tag = f"b{batch_id}"
    batch = exact_dedup(bdf, key=text_col, id_col=id_col).withColumn(
        "_fp", F.xxhash64(normalize_text(text_col))
    )
    hist = _history_tags(index_path, tag)
    if hist:
        seen = spark.read.parquet(*hist).select("fp")
        survivors = batch.join(
            seen, batch["_fp"] == seen["fp"], "left_anti"
        )
    else:
        survivors = batch
    out_dir = os.path.join(out_path, f"batch={batch_id}")
    survivors.drop("_fp").write.mode("overwrite").parquet(out_dir)
    # commit fingerprints of what LANDED (read back from the shipped
    # files, not the plan — the index must describe the corpus, not
    # an intention), strictly after the ship
    shipped = spark.read.parquet(out_dir)
    shipped.select(
        F.xxhash64(normalize_text(text_col)).alias("fp")
    ).distinct().write.mode("overwrite").parquet(
        os.path.join(index_path, f"tag={tag}")
    )


def stream_dedup_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming dedup ingest. Returns the StreamingQuery."""
    return start_file_stream(
        spark, schema, input_path, checkpoint_dir,
        lambda bdf, bid: ingest_batch(
            spark, bdf, bid, index_path, out_path,
            text_col=text_col, id_col=id_col,
        ),
        available_now, max_files_per_trigger,
    )


def boilerplate_ingest_batch(
    spark: SparkSession,
    bdf,
    batch_id: int,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int | None = None,
) -> None:
    """Incremental boilerplate removal over ONE micro-batch: a chunk
    is boilerplate once its cross-document count — history (all other
    tags) PLUS this batch — reaches min_docs; stripped documents ship
    to batch=<id>, and only then do the batch's own chunk counts
    commit to tag=c<id>.

    Same replay-exactness layout as ingest_batch: the decision reads
    history MINUS the batch's own tag, and both ship and index commit
    overwrite their own dirs, so a crash-replay at any point
    recomputes the identical survivor set.

    Incremental semantics (inherent, documented): a chunk below the
    threshold at the time a document arrives is NOT stripped from
    that document retroactively when later batches push it over —
    the same knowledge-at-arrival contract as the dedup ingest (an
    earlier duplicate ships; only later repeats drop). A periodic
    batch `boilerplate_strip` over the landed corpus is the
    retroactive compaction path.
    """
    from llogtail_spark.operators.corpus import (
        BOILERPLATE_MIN_DOCS,
        doc_chunks,
        strip_chunks,
    )

    if min_docs is None:
        min_docs = BOILERPLATE_MIN_DOCS
    tag = f"c{batch_id}"
    chunks = doc_chunks(bdf, text_col, id_col)
    own_counts = chunks.groupBy("chunk").agg(
        F.count_distinct(id_col).alias("nd")
    )
    hist = _history_tags(index_path, tag)
    if hist:
        hist_counts = (
            spark.read.parquet(*hist)
            .groupBy("chunk")
            .agg(F.sum("nd").alias("_nd_hist"))
        )
        totals = own_counts.join(hist_counts, "chunk", "left").select(
            "chunk",
            "nd",
            (F.col("nd") + F.coalesce(F.col("_nd_hist"), F.lit(0)))
            .alias("_nd_total"),
        )
    else:
        totals = own_counts.select(
            "chunk", "nd", F.col("nd").alias("_nd_total")
        )
    bp = totals.filter(F.col("_nd_total") >= min_docs).select("chunk")
    out_dir = os.path.join(out_path, f"batch={batch_id}")
    strip_chunks(chunks, bp, id_col).write.mode("overwrite").parquet(out_dir)
    # commit the batch's OWN chunk counts (of the input, not the
    # survivors: boilerplate frequency counts every sighting),
    # strictly after the ship
    own_counts.write.mode("overwrite").parquet(
        os.path.join(index_path, f"tag={tag}")
    )


def stream_boilerplate_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming boilerplate ingest. Returns the
    StreamingQuery."""
    return start_file_stream(
        spark, schema, input_path, checkpoint_dir,
        lambda bdf, bid: boilerplate_ingest_batch(
            spark, bdf, bid, index_path, out_path,
            text_col=text_col, id_col=id_col, min_docs=min_docs,
        ),
        available_now, max_files_per_trigger,
    )


def hll_ingest_batch(
    spark: SparkSession,
    bdf,
    batch_id: int,
    index_path: str,
    text_col: str = "text",
    group_col: str = "source",
) -> None:
    """Incremental HyperLogLog over ONE micro-batch: the batch's
    register file (grp, bucket, m_b) overwrites its own
    `tag=h<batch_id>/` directory. No read-modify-write of global
    state — the snapshot merge (hll_snapshot) is max per register
    across tags, and max is idempotent + commutative, so a crash
    replay that recommits the same tag converges byte-identically:
    the strongest form of the replay-exactness the dedup/boilerplate
    ingests get from tag exclusion, available here for free because
    the summary is a semilattice (the property that makes HLL the
    sketch of choice for streaming distinct counts at 10^12 rows —
    register files are a few KB per group regardless of input)."""
    from llogtail_spark.operators.sketches import hll_registers

    regs = hll_registers(bdf, text_col, group_col)
    regs.write.mode("overwrite").parquet(
        os.path.join(index_path, f"tag=h{batch_id}")
    )


def hll_snapshot(spark: SparkSession, index_path: str,
                 group_col: str = "source"):
    """Merge every committed tag's register file and finalize: the
    result equals batch hll_distinct over the union of all ingested
    micro-batches EXACTLY (register max-merge loses nothing), which
    tests/test_streaming pins against a randomized multi-file
    stream."""
    from llogtail_spark.operators.sketches import hll_finalize

    tags = _history_tags(index_path, own_tag="")
    if not tags:
        raise ValueError(
            f"hll_snapshot: no committed register tags under {index_path} "
            "- run the ingest first"
        )
    regs = (
        spark.read.parquet(*tags)
        .groupBy("grp", "bucket")
        .agg(F.max("m_b").cast("int").alias("m_b"))
    )
    return hll_finalize(regs, group_col)


def stream_hll_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    text_col: str = "text",
    group_col: str = "source",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming HLL ingest. Returns the StreamingQuery."""
    if schema is None:
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField(group_col, T.StringType()),
                T.StructField(text_col, T.StringType()),
            ]
        )
    return start_file_stream(
        spark, schema, input_path, checkpoint_dir,
        lambda bdf, bid: hll_ingest_batch(
            spark, bdf, bid, index_path,
            text_col=text_col, group_col=group_col,
        ),
        available_now, max_files_per_trigger,
    )


def packing_ingest_batch(
    spark: SparkSession,
    bdf,
    batch_id: int,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int | None = None,
    nshards: int | None = None,
) -> None:
    """Continuous training-sequence packing over ONE micro-batch: the
    streaming twin of corpus.seq_packing for a landing zone that
    packs documents into shard files AS THEY ARRIVE. Each shard's
    token stream continues exactly where the previous batches left
    it: base offset = the shard's committed token total (history tags
    MINUS this batch's own — the replay-exactness layout shared with
    the dedup/boilerplate ingests), within-batch placement is the
    same deterministic (md5-hash, id) order as the batch operator.

    Ship-then-commit per batch: placements land in batch=<id>/
    (overwrite), THEN the batch's per-shard token totals commit to
    tag=p<id>/ (overwrite). Crash anywhere → replay recomputes the
    identical placement (own tag excluded from the base) and
    overwrites the same dirs — effectively-once.

    Knowledge-at-arrival contract (inherent, documented): offsets
    depend on batch ARRIVAL ORDER — a re-ingest of the same corpus
    in different batch splits yields different (equally valid)
    packings; within one stream + checkpoint, replays are exact. The
    batch operator over the landed corpus is the order-canonical
    twin.
    """
    from llogtail_spark.operators.corpus import N_SHARDS, SEQ_LEN, seq_packing

    if seq_len is None:
        seq_len = SEQ_LEN
    if nshards is None:
        nshards = N_SHARDS
    tag = f"p{batch_id}"
    placed = seq_packing(bdf, text_col, id_col, seq_len, nshards)
    hist = _history_tags(index_path, tag)
    if hist:
        base = (
            spark.read.parquet(*hist)
            .groupBy("shard")
            .agg(F.sum("n_tok_batch").alias("base"))
        )
        placed = placed.join(F.broadcast(base), "shard", "left").select(
            "shard", id_col, "n_tok",
            (F.col("tok_start") + F.coalesce(F.col("base"), F.lit(0)))
            .cast("long").alias("tok_start"),
        )
    else:
        placed = placed.select("shard", id_col, "n_tok", "tok_start")
    final = placed.select(
        "shard", id_col, "n_tok", "tok_start",
        F.floor(F.col("tok_start") / seq_len).cast("long").alias("bin_first"),
        F.floor((F.col("tok_start") + F.col("n_tok") - 1) / seq_len)
        .cast("long").alias("bin_last"),
    )
    final.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch={batch_id}")
    )
    # commit the batch's own per-shard totals strictly after the ship
    final.groupBy("shard").agg(
        F.sum("n_tok").alias("n_tok_batch")
    ).write.mode("overwrite").parquet(os.path.join(index_path, f"tag={tag}"))


def stream_packing_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    schema: T.StructType = DOCS_SCHEMA,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int | None = None,
    nshards: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming packing ingest. Returns the
    StreamingQuery."""
    return start_file_stream(
        spark, schema, input_path, checkpoint_dir,
        lambda bdf, bid: packing_ingest_batch(
            spark, bdf, bid, index_path, out_path,
            text_col=text_col, id_col=id_col,
            seq_len=seq_len, nshards=nshards,
        ),
        available_now, max_files_per_trigger,
    )


def dau_ingest_batch(
    spark: SparkSession,
    bdf,
    batch_id: int,
    index_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> None:
    """Incremental sliding-DAU registers over ONE micro-batch: the
    batch's (day, bucket, m_b) register file overwrites its own
    `tag=d<batch_id>/` directory — the hll_ingest_batch discipline
    keyed by day, so the SLIDING-window estimate becomes streamable:
    no read-modify-write, max-merge semilattice, crash replay
    recommits the same tag byte-identically. Late events are handled
    structurally: an event for day D arriving in any later batch
    lands in that batch's register file under day D and max-merges
    into D's window at snapshot time — no watermark needed because
    registers never expire, only windows select them."""
    from llogtail_spark.operators.sketches import user_day_registers

    regs = user_day_registers(bdf, user_col, ts_col)
    regs.write.mode("overwrite").parquet(
        os.path.join(index_path, f"tag=d{batch_id}")
    )


def dau_snapshot(spark: SparkSession, index_path: str,
                 window_days: int | None = None):
    """Merge every committed tag's day-keyed register file and run
    the sliding finalization: equals batch hll_sliding_dau over the
    union of all ingested micro-batches EXACTLY (register max-merge
    loses nothing; pinned in tests/test_streaming.py against a
    randomized multi-batch stream with cross-batch day overlap)."""
    from llogtail_spark.operators.sketches import (
        SLIDE_DAYS, hll_sliding_finalize,
    )

    tags = _history_tags(index_path, own_tag="")
    if not tags:
        raise ValueError(
            f"dau_snapshot: no committed register tags under {index_path}"
            " - run the ingest first"
        )
    regs = (
        spark.read.parquet(*tags)
        .groupBy("day", "bucket")
        .agg(F.max("m_b").cast("int").alias("m_b"))
    )
    return hll_sliding_finalize(
        regs, SLIDE_DAYS if window_days is None else window_days
    )


def stream_dau_ingest(
    spark: SparkSession,
    input_path: str,
    index_path: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming sliding-DAU ingest. Returns the
    StreamingQuery."""
    if schema is None:
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField(ts_col, T.TimestampType()),
                T.StructField(user_col, T.LongType()),
            ]
        )
    return start_file_stream(
        spark, schema, input_path, checkpoint_dir,
        lambda bdf, bid: dau_ingest_batch(
            spark, bdf, bid, index_path,
            user_col=user_col, ts_col=ts_col,
        ),
        available_now, max_files_per_trigger,
    )
