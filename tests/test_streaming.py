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
from llogtail_spark.streaming.tail import stream_pipeline
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
    assert validate_manifest(conf) == []  # nothing stale


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
    stale = validate_manifest(conf)
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
    assert validate_manifest(conf) == []

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
    assert validate_manifest(conf) == []


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
    assert validate_manifest(conf) == []


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
