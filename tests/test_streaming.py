"""Streaming tail: incremental file discovery == the inotify loop.

Mirrors the reference's watcher tests (log_watcher_test.go:115-287):
register -> discover existing files -> new file appears -> only the
new data flows -> restart resumes from the stream checkpoint."""

import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from llogtail_spark.config import PipelineConf
from llogtail_spark.generate import generate_sequences, write_fixture
from llogtail_spark.operators.route import SinkRule
from llogtail_spark.streaming.tail import stream_pipeline, windowed_severity_counts
from llogtail_spark import manifest as mf


def _conf(data_dir, workdir) -> PipelineConf:
    wd = str(workdir)
    return PipelineConf(
        input_path=os.path.join(data_dir, "sequences"),
        lookup_path=os.path.join(data_dir, "lookup_sources.parquet"),
        workdir=wd,
        sinks=[
            SinkRule("errors", "level_num >= 40", os.path.join(wd, "out/errors")),
            SinkRule("firehose", "true", os.path.join(wd, "out/firehose")),
        ],
    )


def test_stream_drains_then_discovers_new_files(spark, tmp_path):
    data = str(tmp_path / "data")
    write_fixture(data, 600, seed=11, n_files=3)
    conf = _conf(data, tmp_path / "w")

    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 600
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 3

    # a new file lands (the Discover event) — only it is processed
    import pyarrow.parquet as pq

    extra = generate_sequences(100, seed=99)
    pq.write_table(extra, os.path.join(data, "sequences", "part-99999.parquet"))

    q2 = stream_pipeline(spark, conf)
    q2.awaitTermination(120)
    fire2 = spark.read.parquet(conf.sinks[1].path)
    assert fire2.count() == 700
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 4
    # no duplicates: doc_ids unique per (part), and the original parts
    # were not rewritten with duplicate content
    assert fire2.select("part", "doc_id").distinct().count() == 700


def test_stream_routing_matches_batch_semantics(spark, tmp_path):
    data = str(tmp_path / "data")
    write_fixture(data, 400, seed=12, n_files=2)
    conf = _conf(data, tmp_path / "w")
    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    err = spark.read.parquet(conf.sinks[0].path)
    assert err.filter(F.col("level_num") < 40).count() == 0
    total = spark.read.parquet(conf.sinks[1].path).count()
    assert total == 400


def test_windowed_severity_counts(spark):
    # drive the windowed agg as a batch frame (same plan shape); the
    # streaming trigger path is covered by the tests above
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    agg = windowed_severity_counts(events, window="1 hour")
    rows = agg.collect()
    assert sum(r["n"] for r in rows) == events.count()
    kinds = {r["event_type"] for r in rows}
    assert "error" in kinds


def test_stream_manifest_validates_clean(spark, tmp_path):
    """Entries committed by the streaming path must carry the SAME
    input-identity definition validate_manifest recomputes (footer
    metadata) — otherwise every streamed partition looks stale."""
    from llogtail_spark.pipeline import validate_manifest

    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=7, n_files=2)
    conf = _conf(data, tmp_path / "wv")
    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    assert len(mf.read_all(conf.manifest_dir)) == 4  # 2 sinks x 2 parts
    assert validate_manifest(spark, conf) == []  # nothing stale


def test_stream_sinks_carry_row_hash_like_batch(spark, tmp_path):
    """Batch sinks ship a row_hash data column; the streaming twin
    must write the same schema so a sink fed by both stays
    single-schema (read_sink resolves schema from one footer)."""
    data = str(tmp_path / "data")
    write_fixture(data, 200, seed=21, n_files=2)
    conf = _conf(data, tmp_path / "w")
    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    fire = spark.read.parquet(conf.sinks[1].path)
    assert "row_hash" in fire.columns
    assert fire.filter(F.col("row_hash").isNull()).count() == 0
    # same definition as the batch path: xxhash64(doc_id, tok_hash)
    bad = fire.filter(
        F.col("row_hash") != F.xxhash64("doc_id", "tok_hash")
    ).count()
    assert bad == 0


def test_stream_identity_work_is_per_batch_not_per_table(spark, tmp_path, monkeypatch):
    """Per micro-batch, footer-identity reads must cover only the
    batch's own files, and the common path must not re-list the whole
    table (O(batch), not O(table), driver work per trigger)."""
    from llogtail_spark.sources import reader as rd

    data = str(tmp_path / "data")
    write_fixture(data, 600, seed=31, n_files=3)
    conf = _conf(data, tmp_path / "w")

    identity_calls: list[list[str]] = []
    list_calls: list[str] = []
    real_files_identity = rd.files_identity
    real_list_parts = rd.list_parts
    monkeypatch.setattr(
        rd, "files_identity",
        lambda files: (identity_calls.append(sorted(files)), real_files_identity(files))[1],
    )
    monkeypatch.setattr(
        rd, "list_parts",
        lambda spark_, path: (list_calls.append(path), real_list_parts(spark_, path))[1],
    )

    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    assert identity_calls and all(len(c) <= 3 for c in identity_calls)
    assert list_calls == []  # direct path construction, no table listing

    # one new file lands; the next batch touches ONLY its footer
    import pyarrow.parquet as pq

    extra = generate_sequences(50, seed=77)
    pq.write_table(extra, os.path.join(data, "sequences", "part-99999.parquet"))
    identity_calls.clear()
    q2 = stream_pipeline(spark, conf)
    q2.awaitTermination(120)
    assert identity_calls == [["part-99999"]]
    assert list_calls == []


def test_stateful_debounce_across_microbatches(spark, tmp_path):
    """applyInPandasWithState debounce: state (last emitted ts) must
    persist ACROSS micro-batches — a repeat arriving in the next batch
    within the interval is still suppressed (sendEvent debounce analog,
    log_watcher.go:265-285)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import debounce_stream

    base = dt.datetime(2024, 1, 1)
    def row(eid, user, sec):
        return {"event_id": eid, "user_id": user,
                "ts": base + dt.timedelta(seconds=sec)}

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    # batch 1: emit t0; suppress t0+0.5; emit t0+2
    pq.write_table(pa.Table.from_pylist(
        [row(1, 7, 0.0), row(2, 7, 0.5), row(3, 7, 2.0), row(10, 8, 0.0)],
        schema=schema), str(d / "b1.parquet"))
    # batch 2: t0+2.5 is only 0.5s after the batch-1 emit at t0+2 ->
    # suppressed IFF state crossed the batch boundary; t0+5 emits
    pq.write_table(pa.Table.from_pylist(
        [row(4, 7, 2.5), row(5, 7, 5.0)], schema=schema),
        str(d / "b2.parquet"))
    # the file source orders batches by mtime; sub-ms writes tie and
    # the tie-break is unstable, so pin strictly increasing mtimes
    # (the real tail scenario: files appear over time)
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = debounce_stream(stream, ["user_id"], ts_col="ts", interval_sec=1.0)
    q = (
        out.writeStream.format("memory").queryName("debounced")
        .option("checkpointLocation", str(tmp_path / "cpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(r["event_id"] for r in spark.sql("SELECT * FROM debounced").collect())
    assert got == [1, 3, 5, 10]


def test_stateful_debounce_matches_reference_on_random_stream(spark, tmp_path):
    """Randomized equivalence: seeded random events chunked into
    time-ordered micro-batches -> the streaming debounce must emit
    exactly what a single-pass reference debounce over the whole
    ordered history emits (micro-batch boundaries are invisible)."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import debounce_stream

    rng = np.random.default_rng(31)
    base = dt.datetime(2024, 1, 1)
    n = 400
    users = rng.integers(0, 5, size=n)
    # exponential inter-arrival per event stream; mean 0.8s vs 1s
    # debounce interval -> roughly half the events are suppressed
    ts = np.cumsum(rng.exponential(0.8, size=n))
    rows = [
        {"event_id": i, "user_id": int(users[i]),
         "ts": base + dt.timedelta(seconds=float(ts[i]))}
        for i in range(n)
    ]
    rows.sort(key=lambda r: r["ts"])

    # reference: one pass over the ordered history, per-user state
    last: dict[int, float] = {}
    expect = []
    for r in rows:
        tv = r["ts"].timestamp()
        u = r["user_id"]
        if u not in last or tv - last[u] >= 1.0:
            expect.append(r["event_id"])
            last[u] = tv

    d = tmp_path / "rndstream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    for b, chunk in enumerate(np.array_split(np.arange(len(rows)), 6)):
        f = str(d / f"b{b}.parquet")
        pq.write_table(
            pa.Table.from_pylist([rows[i] for i in chunk], schema=schema), f
        )
        # pin strictly increasing mtimes: the file source orders
        # micro-batches by mtime and sub-ms writes tie unstably
        os.utime(f, (1_700_000_000 + 100 * b, 1_700_000_000 + 100 * b))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = debounce_stream(stream, ["user_id"], ts_col="ts", interval_sec=1.0)
    q = (
        out.writeStream.format("memory").queryName("rnd_debounced")
        .option("checkpointLocation", str(tmp_path / "rnd_cpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM rnd_debounced").collect()
    )
    assert got == sorted(expect)
    assert 0 < len(got) < n  # both emission and suppression exercised


def test_windowed_agg_watermark_late_data_semantics(spark, tmp_path):
    """True streaming watermark semantics, pinned end-to-end in append
    mode: a late row still inside the watermark is counted into its
    (not yet finalized) window; a too-late row is dropped; windows are
    emitted exactly once, when the watermark passes their end."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.tail import windowed_severity_counts

    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    def row(eid, sec):
        return {"event_id": eid, "ts": t + dt.timedelta(seconds=sec),
                "event_type": "error", "value": 1.0}

    # Spark keeps TWO watermarks per micro-batch: late rows are
    # filtered against the PREVIOUS batch's watermark (lenient),
    # state eviction/finalization uses the current one.
    batches = [
        [row(1, 10), row(2, 70)],   # w10:00 and w10:01 open
        [row(3, 20), row(4, 300)],  # late-but-OK (late-wm 10:00:10)
        [row(6, 600)],              # eviction wm 10:04 -> w10:00/:01 final
        [row(5, 30), row(7, 1200)], # late-wm now 10:09 -> row 5 DROPPED
    ]
    d = tmp_path / "wmstream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("event_type", pa.string()), ("value", pa.float64())])
    for b, rows in enumerate(batches):
        f = str(d / f"b{b}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), f)
        os.utime(f, (1_700_000_000 + 100 * b,) * 2)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    agg = windowed_severity_counts(stream, window="1 minute",
                                   watermark="1 minute")
    q = (
        agg.writeStream.format("memory").queryName("wm_counts")
        .option("checkpointLocation", str(tmp_path / "wm_cpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = {
        r["window"]["start"].minute: r["n"]
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    # minute 0: events 1 + 3 (late-but-in-time; finalized BEFORE row 5
    # arrived); row 5 dropped as too late, so 6 of 7 rows are counted.
    # minute 10 closes in the final no-data flush batch; minute 20
    # (row 7) never finalizes before the stream drains -> absent.
    assert got == {0: 2, 1: 1, 5: 1, 10: 1}
    assert sum(got.values()) == 5  # 7 rows - 1 dropped - 1 unfinalized


def test_inplace_rotation_stream_limit_batch_detects(spark, tmp_path):
    """VERDICT r02 next-round #8: pin the documented streaming limit
    (tail.py module header). llogtail's live loop detects in-place
    rotation of a file it already tailed (log_watcher.go:228-261);
    Spark's file-stream source assumes seen files are immutable, so
    the stream must NOT re-ship a rewritten file — and the BATCH
    path's identity validation (validate_manifest + parquet footer
    identity) must detect the replacement and reprocess exactly that
    partition on the next run."""
    import pyarrow.parquet as pq

    from llogtail_spark.pipeline import run_pipeline, validate_manifest

    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=21, n_files=3)
    conf = _conf(data, tmp_path / "w")

    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    assert spark.read.parquet(conf.sinks[1].path).count() == 300

    # rotation: the SAME path is rewritten in place with new content
    rotated = os.path.join(data, "sequences", "part-00001.parquet")
    replacement = generate_sequences(150, seed=77)
    pq.write_table(replacement, rotated)

    # the stream does not re-ship (the pinned limit): same totals
    q2 = stream_pipeline(spark, conf)
    q2.awaitTermination(120)
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 300
    old_part1 = fire.filter(F.col("part") == "part-00001").count()
    assert old_part1 == 100  # still the pre-rotation rows

    # the batch path detects the changed footer identity and
    # reprocesses exactly the rotated partition
    stale = validate_manifest(spark, conf)
    assert sorted(stale) == ["errors/part-00001", "firehose/part-00001"]
    res = run_pipeline(spark, conf)
    assert res.processed["firehose"] == ["part-00001"]
    assert sorted(res.skipped["firehose"]) == ["part-00000", "part-00002"]
    fire2 = spark.read.parquet(conf.sinks[1].path)
    assert fire2.count() == 350  # 100 + 100 untouched + 150 rotated
    assert fire2.filter(F.col("part") == "part-00001").count() == 150


def test_rescan_rewritten_reships_only_changed_part(spark, tmp_path, monkeypatch):
    """llogtail's in-place rotation branch (log_watcher.go:228-261) in
    the STREAMING twin: rescan_rewritten detects a file rewritten in
    place after the stream shipped it and re-ships exactly that
    partition; its footer reads are stat-gated (a warm ledger does
    ZERO footer reads when nothing changed)."""
    import pyarrow.parquet as pq

    from llogtail_spark.pipeline import validate_manifest
    from llogtail_spark.sources import reader as rd
    from llogtail_spark.streaming.tail import rescan_rewritten

    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=43, n_files=3)
    conf = _conf(data, tmp_path / "w")
    q = stream_pipeline(spark, conf)
    q.awaitTermination(120)
    assert spark.read.parquet(conf.sinks[1].path).count() == 300

    rotated = os.path.join(data, "sequences", "part-00001.parquet")
    pq.write_table(generate_sequences(150, seed=88), rotated)

    footer_reads: list[str] = []
    real_identity = rd.file_identity
    monkeypatch.setattr(
        rd, "file_identity",
        lambda p: (footer_reads.append(p), real_identity(p))[1],
    )

    # cold ledger: one metadata-only sweep over the 3 committed parts,
    # exactly ONE part flagged and re-shipped
    ledger: dict = {}
    assert rescan_rewritten(spark, conf, ledger) == ["part-00001"]
    assert len(footer_reads) == 3
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 350  # 100 + 150 rewritten + 100 untouched
    assert fire.filter(F.col("part") == "part-00001").count() == 150
    # manifest recommitted with the new identity: batch validate is clean
    assert validate_manifest(spark, conf) == []

    # warm ledger + unchanged stats: no footer reads at all, no re-ship
    footer_reads.clear()
    assert rescan_rewritten(spark, conf, ledger) == []
    assert footer_reads == []


def test_stream_rescan_reships_rewritten_during_stream(spark, tmp_path):
    """stream_pipeline(rescan=True): a micro-batch that discovers a NEW
    file also re-ships a file rewritten in place since the last batch —
    the stream covers rotation without waiting for a batch run."""
    import pyarrow.parquet as pq

    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=44, n_files=3)
    conf = _conf(data, tmp_path / "w")
    q = stream_pipeline(spark, conf, rescan=True)
    q.awaitTermination(120)
    assert spark.read.parquet(conf.sinks[1].path).count() == 300

    # one file is rewritten in place AND one new file lands
    rotated = os.path.join(data, "sequences", "part-00001.parquet")
    pq.write_table(generate_sequences(150, seed=89), rotated)
    pq.write_table(
        generate_sequences(50, seed=90),
        os.path.join(data, "sequences", "part-99999.parquet"),
    )

    q2 = stream_pipeline(spark, conf, rescan=True)
    q2.awaitTermination(120)
    fire = spark.read.parquet(conf.sinks[1].path)
    # 100 + 150 (rewritten, re-shipped by the rescan) + 100 + 50 (new)
    assert fire.count() == 400
    assert fire.filter(F.col("part") == "part-00001").count() == 150
    assert fire.filter(F.col("part") == "part-99999").count() == 50
    # every shipped row is committed and consistent
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 4


def _stream_then_rewrite(spark, tmp_path, seed, table):
    """Stream 3 parts, then rewrite part-00001 in place with `table`."""
    import pyarrow.parquet as pq

    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=seed, n_files=3)
    conf = _conf(data, tmp_path / "w")
    stream_pipeline(spark, conf).awaitTermination(120)
    for rule in conf.sinks:
        sink = spark.read.parquet(rule.path)
        assert sink.filter(F.col("part") == "part-00001").count() > 0
    pq.write_table(table, os.path.join(data, "sequences", "part-00001.parquet"))
    return conf


def test_rescan_clears_a_sink_the_rewrite_no_longer_routes_to(spark, tmp_path):
    """A part rewritten with rows that route none to `errors` must
    leave no `errors` rows for it: the rescan ships the part to every
    sink, and a sink that stages nothing is cleared."""
    import pyarrow.compute as pc

    from llogtail_spark.pipeline import validate_manifest
    from llogtail_spark.streaming.tail import rescan_rewritten

    t = generate_sequences(150, seed=91)
    quiet = t.filter(pc.less(pc.list_element(t["tokens"], 0), 4))  # below ERROR
    conf = _stream_then_rewrite(spark, tmp_path, 45, quiet)

    assert rescan_rewritten(spark, conf) == ["part-00001"]
    err = spark.read.parquet(conf.sinks[0].path)
    assert err.filter(F.col("part") == "part-00001").count() == 0
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.filter(F.col("part") == "part-00001").count() == quiet.num_rows
    assert validate_manifest(spark, conf) == []


def test_rescan_of_a_truncated_part_clears_every_sink(spark, tmp_path):
    """llogtail's copytruncate case: a part truncated to an empty
    parquet file is cleared from every sink and re-committed with its
    new (empty) identity."""
    from llogtail_spark.pipeline import validate_manifest
    from llogtail_spark.streaming.tail import rescan_rewritten

    empty = generate_sequences(10, seed=92).slice(0, 0)
    conf = _stream_then_rewrite(spark, tmp_path, 46, empty)

    assert rescan_rewritten(spark, conf) == ["part-00001"]
    for rule in conf.sinks:
        sink = spark.read.parquet(rule.path)
        assert sink.filter(F.col("part") == "part-00001").count() == 0, rule.name
    got = [e for e in mf.read_all(conf.manifest_dir) if e.part == "part-00001"]
    assert sorted(e.sink for e in got) == ["errors", "firehose"]
    assert all(e.in_row_count == 0 and e.row_count == 0 for e in got)
    assert validate_manifest(spark, conf) == []


def test_stream_refuses_a_held_workdir(spark, tmp_path):
    """A stream on a workdir another run holds fails loudly, naming
    the workdir, and writes no sink and no manifest entry."""
    from pyspark.errors import StreamingQueryException

    data = str(tmp_path / "data")
    write_fixture(data, 200, seed=47, n_files=2)
    conf = _conf(data, tmp_path / "w")
    with mf.lease(conf.workdir):
        q = stream_pipeline(spark, conf)
        with pytest.raises(StreamingQueryException, match=re.escape(conf.workdir)):
            q.awaitTermination(120)
    assert not any(os.path.exists(r.path) for r in conf.sinks)
    assert mf.read_all(conf.manifest_dir) == []


def _docs_table(rows):
    import pyarrow as pa

    ids, texts = zip(*rows)
    return pa.table({"doc_id": list(ids), "text": list(texts)})


def test_stream_dedup_ingest_drops_history_and_self_dups(spark, tmp_path):
    """Streaming corpus ingest: each micro-batch drops within-batch
    duplicates AND repeats of everything already ingested; the
    fingerprint index commits strictly after the ship."""
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.ingest import stream_dedup_ingest

    inp = tmp_path / "landing"
    os.makedirs(inp)
    idx, out, cpt = (str(tmp_path / d) for d in ("idx", "corpus", "cpt"))

    pq.write_table(_docs_table([
        (1, "alpha beta gamma"), (2, "delta epsilon zeta"),
        (3, "ALPHA  beta gamma"),     # within-batch near-exact dup of 1
    ]), str(inp / "f1.parquet"))
    q = stream_dedup_ingest(spark, str(inp), idx, out, cpt)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2]

    # second drop: one repeat of history, one novel doc
    pq.write_table(_docs_table([
        (10, "alpha beta gamma"),     # history dup (of doc 1)
        (11, "eta theta iota"),
    ]), str(inp / "f2.parquet"))
    q2 = stream_dedup_ingest(spark, str(inp), idx, out, cpt)
    q2.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in got.collect()) == [1, 2, 11]
    # the index holds fingerprints only, one tag dir per batch
    # (tag surfaces as a partition column when reading the root)
    tags = sorted(d for d in os.listdir(idx) if d.startswith("tag="))
    assert len(tags) == 2
    assert spark.read.parquet(idx).columns == ["fp", "tag"]


def test_stream_dedup_ingest_replay_after_commit_is_lossless(spark, tmp_path):
    """The failure the tagged index layout exists to prevent: a batch
    replayed AFTER its fingerprints committed (crash before the
    stream checkpoint) must re-ship the SAME survivors — an untagged
    index would anti-join the replay against its own fingerprints
    down to zero rows and overwrite the shipped output with nothing."""
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.ingest import ingest_batch

    inp = tmp_path / "landing"
    os.makedirs(inp)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "corpus")
    pq.write_table(_docs_table([(1, "alpha beta"), (2, "gamma delta")]),
                   str(inp / "f1.parquet"))
    bdf = spark.read.parquet(str(inp))
    ingest_batch(spark, bdf, 0, idx, out)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1, 2]
    # replay the SAME batch id (simulates crash after index commit,
    # before stream checkpoint): output must be identical, not empty
    ingest_batch(spark, bdf, 0, idx, out)
    again = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert again == [1, 2]
    # and a LATER batch still sees batch 0's fingerprints as history
    bdf2 = spark.createDataFrame([(9, "alpha beta"), (10, "novel text")],
                                 "doc_id long, text string")
    ingest_batch(spark, bdf2, 1, idx, out)
    final = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert final == [1, 2, 10]


def test_stream_boilerplate_ingest_threshold_crosses_batches(spark, tmp_path):
    """Incremental boilerplate: a footer seen in 2 docs in batch 1
    (below min_docs=3) ships unstripped; batch 2 brings 2 more
    sightings, so history(2) + batch(2) >= 3 strips it from batch-2
    docs — knowledge-at-arrival semantics, batch-1 docs untouched."""
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.ingest import stream_boilerplate_ingest

    footer = "all rights reserved here"  # one 4-token chunk
    inp = tmp_path / "landing"
    os.makedirs(inp)
    idx, out, cpt = (str(tmp_path / d) for d in ("cidx", "clean", "ccpt"))

    pq.write_table(_docs_table([
        (1, f"alpha beta gamma delta {footer}"),
        (2, f"epsilon zeta eta theta {footer}"),
        (3, "unique body text only"),
    ]), str(inp / "f1.parquet"))
    q = stream_boilerplate_ingest(spark, str(inp), idx, out, cpt)
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 3
    # 2 sightings < 3: nothing stripped yet
    assert all(r["n_kept"] == r["n_chunks"] for r in got.values())
    assert footer in got[1]["text_clean"]

    pq.write_table(_docs_table([
        (10, f"iota kappa lambda mu {footer}"),
        (11, f"nu xi omicron pi {footer}"),
        (12, "another unique body"),
    ]), str(inp / "f2.parquet"))
    q2 = stream_boilerplate_ingest(spark, str(inp), idx, out, cpt)
    q2.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 6
    # batch 2: history(2) + own(2) = 4 >= 3 -> stripped from 10, 11
    assert got[10]["text_clean"] == "iota kappa lambda mu"
    assert got[11]["text_clean"] == "nu xi omicron pi"
    assert got[12]["n_kept"] == got[12]["n_chunks"]
    # batch 1 rows are untouched (knowledge at arrival)
    assert footer in got[1]["text_clean"] and footer in got[2]["text_clean"]


def test_boilerplate_ingest_replay_after_commit_is_identical(spark, tmp_path):
    """Replay a batch AFTER its chunk counts committed (crash before
    the stream checkpoint): the own-tag exclusion must keep the
    decision identical — an untagged index would double-count the
    batch's own sightings and strip chunks the original run kept."""
    from llogtail_spark.streaming.ingest import boilerplate_ingest_batch

    idx, out = str(tmp_path / "cidx"), str(tmp_path / "clean")
    footer = "all rights reserved here"
    # 2 sightings in this batch: below min_docs=3 ONLY if the
    # batch's own committed counts are excluded on replay; counted
    # twice (2 own + 2 committed) they would cross the threshold
    bdf = spark.createDataFrame([
        (1, f"alpha beta gamma delta {footer}"),
        (2, f"epsilon zeta eta theta {footer}"),
    ], "doc_id long, text string")
    boilerplate_ingest_batch(spark, bdf, 0, idx, out)
    first = {r["doc_id"]: r["text_clean"]
             for r in spark.read.parquet(out).collect()}
    assert footer in first[1]
    boilerplate_ingest_batch(spark, bdf, 0, idx, out)  # replay
    again = {r["doc_id"]: r["text_clean"]
             for r in spark.read.parquet(out).collect()}
    assert again == first
    # a LATER batch sees batch 0's counts as history and crosses
    bdf2 = spark.createDataFrame(
        [(10, f"nu xi omicron pi {footer}")], "doc_id long, text string"
    )
    boilerplate_ingest_batch(spark, bdf2, 1, idx, out)
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[10]["text_clean"] == "nu xi omicron pi"


def test_session_stream_closes_across_microbatches(spark, tmp_path):
    """session_stream: a session spanning two micro-batches stays ONE
    session (state carries start/last/n across the boundary); a gap
    beyond gap_sec closes it with exact (start, end, n)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    base = dt.datetime(2024, 1, 1)

    def row(eid, user, sec):
        return {"event_id": eid, "user_id": user,
                "ts": base + dt.timedelta(seconds=sec)}

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    # batch 1: user 7 session A opens (0, 100); user 8 opens (0)
    pq.write_table(pa.Table.from_pylist(
        [row(1, 7, 0.0), row(2, 7, 100.0), row(10, 8, 0.0)],
        schema=schema), str(d / "b1.parquet"))
    # batch 2: 7@200 continues A; 7@5000 closes A (gap 4800 > 1800)
    # and opens B; 8@100 continues its open session (never closes)
    pq.write_table(pa.Table.from_pylist(
        [row(3, 7, 200.0), row(4, 7, 5000.0), row(11, 8, 100.0)],
        schema=schema), str(d / "b2.parquet"))
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = session_stream(stream, ["user_id"], ts_col="ts", gap_sec=1800.0)
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .option("checkpointLocation", str(tmp_path / "cpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    ]
    assert got == [(7, base, base + dt.timedelta(seconds=200), 3)], got


def test_session_stream_matches_reference_on_random_stream(spark, tmp_path):
    """Random events split into time-ordered micro-batches: closed
    sessions must equal a single-pass reference sessionizer over the
    whole stream (excluding each key's final, still-open session)."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    rng = np.random.default_rng(41)
    base = dt.datetime(2024, 1, 1)
    events = sorted(
        (
            int(rng.integers(1, 7)),
            float(rng.uniform(0, 40000)),
        )
        for _ in range(300)
    )
    events = sorted(events, key=lambda kv: kv[1])
    GAP = 1800.0

    # reference: single-pass sessionizer per key over the global order
    ref_closed = []
    open_s = {}
    for u, t in events:
        if u in open_s:
            s, e, n = open_s[u]
            if t - e <= GAP:
                open_s[u] = (s, t, n + 1)
                continue
            ref_closed.append((u, s, e, n))
        open_s[u] = (t, t, 1)

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    chunks = np.array_split(np.arange(len(events)), 5)
    for bi, idxs in enumerate(chunks):
        rows = [
            {"event_id": int(i), "user_id": events[i][0],
             "ts": base + dt.timedelta(seconds=events[i][1])}
            for i in idxs
        ]
        p = str(d / f"b{bi}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), p)
        os.utime(p, (1_700_000_000 + bi * 100,) * 2)

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = session_stream(stream, ["user_id"], ts_col="ts", gap_sec=GAP)
    q = (
        out.writeStream.format("memory").queryName("sessions_rand")
        .option("checkpointLocation", str(tmp_path / "cpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["user_id"],
         round((r["session_start"] - base).total_seconds(), 3),
         round((r["session_end"] - base).total_seconds(), 3),
         r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_rand").collect()
    )
    want = sorted((u, round(s, 3), round(e, 3), n)
                  for u, s, e, n in ref_closed)
    assert got == want, (len(got), len(want))
    assert len(got) > 5


def test_stream_interval_join_matches_batch_twin(spark, tmp_path):
    """Stream-stream interval join over micro-batched random events
    == the equivalent batch join (same key, same (0, 1h] bound),
    including pairs whose two sides arrive in DIFFERENT micro-batches
    (the buffered-state path)."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.tail import stream_interval_join

    rng = np.random.default_rng(43)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(400):
        rows.append((
            i,
            int(rng.integers(1, 10)),
            float(rng.uniform(0, 6 * 3600)),
            str(rng.choice(["purchase", "view", "click"])),
        ))
    rows.sort(key=lambda r: r[2])

    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us")), ("event_type", pa.string())])

    def write_side(name, pred):
        d = tmp_path / name
        os.makedirs(d)
        side = [r for r in rows if pred(r)]
        chunks = np.array_split(np.arange(len(side)), 3)
        for bi, idxs in enumerate(chunks):
            pq.write_table(pa.Table.from_pylist(
                [{"event_id": side[i][0], "user_id": side[i][1],
                  "ts": base + dt.timedelta(seconds=side[i][2]),
                  "event_type": side[i][3]} for i in idxs],
                schema=schema), str(d / f"b{bi}.parquet"))
            os.utime(str(d / f"b{bi}.parquet"),
                     (1_700_000_000 + bi * 100,) * 2)
        return d

    dp = write_side("purchases", lambda r: r[3] == "purchase")
    de = write_side("events", lambda r: r[3] != "purchase")

    def rd(d):
        return (spark.readStream
                .schema("event_id long, user_id long, ts timestamp,"
                        " event_type string")
                .option("maxFilesPerTrigger", "1").parquet(str(d)))

    out = stream_interval_join(rd(dp), rd(de))
    q = (out.writeStream.format("memory").queryName("sj")
         .option("checkpointLocation", str(tmp_path / "cpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = sorted(
        (r["purchase_id"], r["event_id"])
        for r in spark.sql("SELECT * FROM sj").collect()
    )

    want = sorted(
        (p[0], e[0])
        for p in rows if p[3] == "purchase"
        for e in rows if e[3] != "purchase"
        if e[1] == p[1] and p[2] < e[2] <= p[2] + 3600
    )
    assert got == want, (len(got), len(want))
    assert len(got) > 20


def test_session_stream_state_survives_query_restart(spark, tmp_path):
    """The streaming state store must survive a full QUERY RESTART
    from the checkpoint (not just a micro-batch boundary): run batch
    1, STOP the query, append batch 2, start a NEW query on the same
    checkpoint — the session opened in the first run must continue
    and close as ONE session with the pre-restart start/count."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    base = dt.datetime(2024, 1, 1)

    def row(eid, user, sec):
        return {"event_id": eid, "user_id": user,
                "ts": base + dt.timedelta(seconds=sec)}

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    pq.write_table(pa.Table.from_pylist(
        [row(1, 7, 0.0), row(2, 7, 100.0)], schema=schema),
        str(d / "b1.parquet"))
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))

    outdir = str(tmp_path / "out")

    def start():
        # file sink (memory sink cannot recover from a checkpoint)
        stream = (
            spark.readStream
            .schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1").parquet(str(d))
        )
        out = session_stream(stream, ["user_id"], ts_col="ts",
                             gap_sec=1800.0)
        return (out.writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", str(tmp_path / "cpt"))
                .outputMode("append").trigger(availableNow=True).start())

    q1 = start()
    q1.awaitTermination(120)
    assert spark.read.parquet(outdir).count() == 0  # still open

    # append batch 2 AFTER the first query fully stopped: 7@200
    # continues the pre-restart session; 7@5000 closes it
    pq.write_table(pa.Table.from_pylist(
        [row(3, 7, 200.0), row(4, 7, 5000.0)], schema=schema),
        str(d / "b2.parquet"))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    q2 = start()
    q2.awaitTermination(120)
    got = [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(outdir).collect()
    ]
    assert got == [(7, base, base + dt.timedelta(seconds=200), 3)], got


def test_session_stream_late_event_never_regresses_session_end(spark, tmp_path):
    """Regression (r3 review): a late event (older than the open
    session's end) must merge via min/max — session_end must NOT move
    backwards, so a subsequent in-gap event still continues the same
    session instead of falsely splitting it."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    base = dt.datetime(2024, 1, 1)

    def row(eid, sec):
        return {"event_id": eid, "user_id": 7,
                "ts": base + dt.timedelta(seconds=sec)}

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    # batch 1: session (1000, 2000) n=2
    pq.write_table(pa.Table.from_pylist(
        [row(1, 1000.0), row(2, 2000.0)], schema=schema),
        str(d / "b1.parquet"))
    # batch 2: LATE event at 1500 (merges, end stays 2000), then 3400
    # (gap from 2000 = 1400 <= 1800 -> SAME session), then 9000 closes
    pq.write_table(pa.Table.from_pylist(
        [row(3, 1500.0), row(4, 3400.0), row(5, 9000.0)], schema=schema),
        str(d / "b2.parquet"))
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(str(d))
    )
    out = session_stream(stream, ["user_id"], ts_col="ts", gap_sec=1800.0)
    q = (out.writeStream.format("memory").queryName("late_sess")
         .option("checkpointLocation", str(tmp_path / "cpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("SELECT * FROM late_sess").collect()]
    assert got == [(base + dt.timedelta(seconds=1000),
                    base + dt.timedelta(seconds=3400), 4)], got


def test_session_stream_far_late_event_folds_into_open_session(spark, tmp_path):
    """ADVICE r03: an event arriving more than gap_sec BEFORE the open
    session's end but inside its historical span must fold into the
    open session (min start + count) — NOT close as its own 1-event
    session nested inside the open session's eventual span. One key
    never emits overlapping sessions from the open-session path."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    base = dt.datetime(2024, 1, 1)

    def row(eid, sec):
        return {"event_id": eid, "user_id": 3,
                "ts": base + dt.timedelta(seconds=sec)}

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                        ("ts", pa.timestamp("us"))])
    # batch 1: open session spanning (0 .. 3000) via in-gap steps
    pq.write_table(pa.Table.from_pylist(
        [row(1, 0.0), row(2, 1500.0), row(3, 3000.0)], schema=schema),
        str(d / "b1.parquet"))
    # batch 2: FAR-late event at 700 — 2300s before the open end, well
    # over gap=1800 — must fold in; then 99999 closes the session
    pq.write_table(pa.Table.from_pylist(
        [row(4, 700.0), row(5, 99999.0)], schema=schema),
        str(d / "b2.parquet"))
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1").parquet(str(d))
    )
    out = session_stream(stream, ["user_id"], ts_col="ts", gap_sec=1800.0)
    q = (out.writeStream.format("memory").queryName("farlate_sess")
         .option("checkpointLocation", str(tmp_path / "cpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = [(r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("SELECT * FROM farlate_sess").collect()]
    assert got == [(base, base + dt.timedelta(seconds=3000), 4)], got


def test_session_stream_invariants_property(spark, tmp_path):
    """Property-based check (hypothesis-seeded examples are expensive
    under a Spark session, so this drives a FIXED set of adversarial
    generated streams instead of live shrinking): for any event
    stream split into micro-batches — including out-of-order and
    duplicate timestamps — the closed sessions per key must satisfy
    (1) conservation: closed n_events sum to <= total events, with
    the remainder in at most one open session per key;
    (2) separation: consecutive closed sessions of a key are more
    than gap_sec apart — asserted only for the in-order stream
    (case 0): append mode cannot retract an already-emitted close,
    so an arbitrarily-late event after a close legitimately opens a
    new session inside the old gap (the documented no-watermark
    limitation);
    (3) monotonicity: session_end >= session_start and closed
    sessions are non-overlapping and ordered."""
    import datetime as dt

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import session_stream

    base = dt.datetime(2024, 1, 1)
    GAP = 600.0
    rng = np.random.default_rng(97)

    for case in range(3):
        d = tmp_path / f"stream{case}"
        os.makedirs(d)
        schema = pa.schema([
            ("event_id", pa.int64()), ("user_id", pa.int64()),
            ("ts", pa.timestamp("us"))])
        n = 150
        users = rng.integers(1, 5, size=n)
        # bursty with big gaps; case 2 adds heavy out-of-order noise
        t = np.cumsum(rng.exponential(200, size=n))
        if case >= 1:
            t = t + rng.uniform(-300, 300, size=n)  # disorder
        t = np.clip(t, 0, None)
        order = np.arange(n)
        if case == 2:
            rng.shuffle(order)  # arrival order != time order
        chunks = np.array_split(order, 4)
        per_key_total = {}
        for bi, idxs in enumerate(chunks):
            rows = [
                {"event_id": int(i), "user_id": int(users[i]),
                 "ts": base + dt.timedelta(seconds=float(t[i]))}
                for i in idxs
            ]
            for i in idxs:
                per_key_total[int(users[i])] = (
                    per_key_total.get(int(users[i]), 0) + 1)
            p = str(d / f"b{bi}.parquet")
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), p)
            os.utime(p, (1_700_000_000 + bi * 100,) * 2)

        stream = (
            spark.readStream
            .schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", "1").parquet(str(d))
        )
        out = session_stream(stream, ["user_id"], ts_col="ts", gap_sec=GAP)
        q = (out.writeStream.format("memory").queryName(f"inv{case}")
             .option("checkpointLocation", str(tmp_path / f"cpt{case}"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql(f"SELECT * FROM inv{case}").collect()
        by_key = {}
        for r in rows:
            by_key.setdefault(r["user_id"], []).append(
                (r["session_start"], r["session_end"], r["n_events"]))
        for u, sess in by_key.items():
            sess.sort()
            for s, e, cnt in sess:
                assert s <= e and cnt >= 1, (case, u)
            if case == 0:
                for (s1, e1, _), (s2, e2, _) in zip(sess, sess[1:]):
                    assert (s2 - e1).total_seconds() > GAP, (case, u)
            closed_n = sum(c for _, _, c in sess)
            assert closed_n <= per_key_total[u], (case, u)


def test_running_totals_transform_with_state(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: per-key running totals
    accumulate across micro-batches (typed ValueState in the RocksDB
    state store) and the final update per key equals the batch
    ground truth; keys absent from a micro-batch are not re-emitted.

    Gated on protobuf: the transformWithState state-server protocol
    imports google.protobuf in the driver worker; this container
    doesn't ship it (verified: the query crashes with ImportError in
    transform_with_state_driver_worker). Same discipline as the
    iceberg jar-gated skip — the operator is real, the env is not."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState needs protobuf (not in container)",
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.streaming.stateful import running_totals_stream

    d = tmp_path / "stream"
    os.makedirs(d)
    schema = pa.schema([("sink", pa.string()), ("n_tok", pa.int64())])
    pq.write_table(pa.Table.from_pylist(
        [{"sink": "errors", "n_tok": 10}, {"sink": "errors", "n_tok": 5},
         {"sink": "firehose", "n_tok": 7}], schema=schema),
        str(d / "b1.parquet"))
    pq.write_table(pa.Table.from_pylist(
        [{"sink": "errors", "n_tok": 3}], schema=schema),
        str(d / "b2.parquet"))
    os.utime(str(d / "b1.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(str(d / "b2.parquet"), (1_700_000_100, 1_700_000_100))

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                          None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema("sink string, n_tok long")
            .option("maxFilesPerTrigger", "1").parquet(str(d))
        )
        out = running_totals_stream(stream)
        q = (out.writeStream.format("memory").queryName("totals")
             .option("checkpointLocation", str(tmp_path / "cpt"))
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("SELECT * FROM totals").collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    # update history: errors appears twice (15 then 18), firehose once
    hist = sorted((r["sink"], r["row_count"], r["tok_total"])
                  for r in rows)
    assert hist == [("errors", 2, 15), ("errors", 3, 18),
                    ("firehose", 1, 7)], hist


def test_hll_stream_snapshot_equals_batch_sketch(spark, tmp_path):
    """Streaming HLL ingest: a randomized corpus split across 5
    micro-batches, merged via register max — the snapshot must equal
    batch hll_distinct over the whole corpus EXACTLY (the mergeable-
    summary property in anger), and re-committing a batch's registers
    (crash replay) must change nothing (max is idempotent)."""
    import random

    from llogtail_spark.operators.sketches import hll_distinct
    from llogtail_spark.streaming.ingest import (
        hll_ingest_batch, hll_snapshot, stream_hll_ingest,
    )

    rng = random.Random(77)
    rows = [
        (i, f"s{i % 3}",
         " ".join(f"tok{rng.randrange(400)}" for _ in range(30)))
        for i in range(200)
    ]
    src = str(tmp_path / "in")
    for f in range(5):
        spark.createDataFrame(
            rows[f * 40:(f + 1) * 40], "doc_id long, source string, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    idx = str(tmp_path / "hidx")
    q = stream_hll_ingest(
        spark, src, idx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(120)

    snap = sorted(map(tuple, hll_snapshot(spark, idx).collect()))
    full = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    want = sorted(map(tuple, hll_distinct(full).collect()))
    assert snap == want

    # crash replay: recommit batch 0's registers from its own data
    bdf = spark.createDataFrame(
        rows[:40], "doc_id long, source string, text string"
    )
    hll_ingest_batch(spark, bdf, 0, idx)
    again = sorted(map(tuple, hll_snapshot(spark, idx).collect()))
    assert again == snap


def test_packing_stream_offsets_contiguous_and_replay_exact(spark, tmp_path):
    """Streaming packing ingest: per-shard token streams stay
    contiguous ACROSS micro-batches (batch k starts exactly where
    k-1 ended), a crash-replay of the last batch reproduces its
    placement byte-identically, and a second identical stream into a
    fresh landing zone yields the identical packing."""
    from llogtail_spark.streaming.ingest import (
        packing_ingest_batch, stream_packing_ingest,
    )

    rows = [(i, " ".join(["x"] * (1 + (i * 13) % 40)))
            for i in range(120)]
    src = str(tmp_path / "in")
    for f in range(4):
        spark.createDataFrame(
            rows[f * 30:(f + 1) * 30], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)

    def ingest(name):
        idx, out = str(tmp_path / f"{name}_idx"), str(tmp_path / f"{name}_out")
        q = stream_packing_ingest(
            spark, src, idx, out, str(tmp_path / f"{name}_ckpt"),
            schema=spark.createDataFrame(
                [], "doc_id long, text string").schema,
            max_files_per_trigger=1, nshards=4,
        )
        q.awaitTermination(120)
        return idx, out

    idx, out = ingest("a")
    landed = spark.read.parquet(out).collect()
    by_shard = {}
    for r in landed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(landed) == 120
    for docs in by_shard.values():
        docs.sort(key=lambda r: r["tok_start"])
        off = 0
        for r in docs:
            assert r["tok_start"] == off       # no gaps, no overlaps
            assert r["bin_first"] == off // 128
            off += r["n_tok"]

    # crash replay of the last batch: identical placement
    last_dir = sorted(
        d for d in __import__("os").listdir(out) if d.startswith("batch=")
    )[-1]
    last_bid = int(last_dir.split("=")[1])
    before = sorted(map(tuple, spark.read.parquet(
        f"{out}/{last_dir}").collect()))
    bdf = spark.createDataFrame(
        rows[last_bid * 30:(last_bid + 1) * 30], "doc_id long, text string"
    )
    packing_ingest_batch(spark, bdf, last_bid, idx, out, nshards=4)
    after = sorted(map(tuple, spark.read.parquet(
        f"{out}/{last_dir}").collect()))
    assert after == before

    # a second identical stream reproduces the identical packing
    _, out2 = ingest("b")
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b


def test_dau_stream_snapshot_equals_batch_sliding(spark, tmp_path):
    """Streaming sliding-DAU ingest: a randomized event stream split
    across 5 micro-batches WITH cross-batch day overlap (every batch
    carries events for several of the same days, including far-late
    arrivals) — the snapshot must equal batch hll_sliding_dau over
    the union EXACTLY, and recommitting a batch's registers (crash
    replay) must change nothing."""
    import random
    from datetime import datetime, timedelta

    from llogtail_spark.operators.sketches import hll_sliding_dau
    from llogtail_spark.streaming.ingest import (
        dau_ingest_batch, dau_snapshot, stream_dau_ingest,
    )

    rng = random.Random(99)
    t0 = datetime(2024, 5, 1)
    rows = [
        (i, t0 + timedelta(days=rng.randrange(12),
                           seconds=rng.randrange(86400)),
         rng.randrange(60))
        for i in range(400)
    ]
    src = str(tmp_path / "in")
    schema = "event_id long, ts timestamp, user_id long"
    for f in range(5):
        spark.createDataFrame(
            rows[f * 80:(f + 1) * 80], schema
        ).coalesce(1).write.mode("append").parquet(src)

    idx = str(tmp_path / "didx")
    q = stream_dau_ingest(
        spark, src, idx, str(tmp_path / "dckpt"), max_files_per_trigger=1
    )
    q.awaitTermination(120)

    snap = sorted(map(tuple, dau_snapshot(spark, idx).collect()))
    want = sorted(map(tuple, hll_sliding_dau(
        spark.createDataFrame(rows, schema)).collect()))
    assert snap == want
    assert len(snap) == 12        # every day present

    # crash replay: recommit batch 2's registers from its own data
    bdf = spark.createDataFrame(rows[160:240], schema)
    dau_ingest_batch(spark, bdf, 2, idx)
    again = sorted(map(tuple, dau_snapshot(spark, idx).collect()))
    assert again == snap
