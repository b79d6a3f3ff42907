"""The live tail, `pipeline.follow`: llogtail's poller loop.

Mirrors the reference's watcher tests (log_watcher_test.go:115-287):
register -> discover existing files -> new file appears -> only the
new data flows -> a file rewritten in place is shipped again -> a
restart resumes from the manifest. Each cycle is one `run_pipeline`,
whose plan re-checks the committed parts; a stop event that is
already set runs one cycle."""

import contextlib
import glob
import os
import re
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.generate import generate_sequences, write_fixture
from llogtail_spark.operators.route import SinkRule
from llogtail_spark.pipeline import follow, run_pipeline
from llogtail_spark.sources import reader


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


def _stopped() -> threading.Event:
    stop = threading.Event()
    stop.set()
    return stop


def _one_cycle(spark, conf) -> None:
    follow(spark, conf, 0, _stopped())


def _assert_idle(spark, conf) -> None:
    """A further run finds every committed part unchanged: it ships
    nothing."""
    res = run_pipeline(spark, conf)
    assert res.processed == {r.name: [] for r in conf.sinks}


def _sink_files(conf, part="*") -> list[str]:
    return sorted(f for r in conf.sinks
                  for f in glob.glob(os.path.join(r.path, f"part={part}", "*")))


def test_stream_drains_then_discovers_new_files(spark, tmp_path):
    """The first cycle ships every part; after a new file lands, the
    next cycle ships only it: the old parts' sink files are untouched."""
    data = str(tmp_path / "data")
    write_fixture(data, 600, seed=11, n_files=3)
    conf = _conf(data, tmp_path / "w")

    _one_cycle(spark, conf)
    assert spark.read.parquet(conf.sinks[1].path).count() == 600
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 3
    before = _sink_files(conf)

    # a new file lands (the Discover event) — only it is processed
    pq.write_table(generate_sequences(100, seed=99),
                   os.path.join(data, "sequences", "part-99999.parquet"))
    _one_cycle(spark, conf)
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 700
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 4
    assert sorted(set(_sink_files(conf)) - set(_sink_files(conf, "part-99999"))) == before
    assert not os.path.exists(os.path.join(conf.workdir, "stream_cpt"))


def test_follow_restart_does_not_duplicate_rows(spark, tmp_path):
    """A loop that runs cycles on an interval, stopped and started
    again, resumes from the manifest: every row is shipped once."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=12, n_files=3)
    conf = _conf(data, tmp_path / "w")

    stop = threading.Event()
    cycles = []
    real_wait = stop.wait

    def wait(timeout):  # stop after the third cycle
        cycles.append(timeout)
        if len(cycles) == 3:
            stop.set()
        return real_wait(0)

    stop.wait = wait
    follow(spark, conf, 0.01, stop)
    assert cycles == [0.01] * 3
    shipped = _sink_files(conf)
    _one_cycle(spark, conf)  # the restart re-ships nothing
    assert _sink_files(conf) == shipped
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 300
    assert fire.select("part", "doc_id").distinct().count() == 300
    assert len(mf.read_all(conf.manifest_dir)) == 6  # 2 sinks x 3 parts


def test_stream_manifest_validates_clean(spark, tmp_path):
    """Entries committed by the loop carry the SAME input-identity
    definition the plan recomputes (footer metadata) — otherwise every
    shipped partition looks stale once its stat moves."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=7, n_files=2)
    conf = _conf(data, tmp_path / "wv")
    _one_cycle(spark, conf)
    assert len(mf.read_all(conf.manifest_dir)) == 4  # 2 sinks x 2 parts
    for f in reader.list_parts(conf.input_path).values():
        os.utime(f)  # move every stat, so the plan compares footers
    _assert_idle(spark, conf)  # nothing stale


def test_stream_identity_work_is_per_batch_not_per_table(spark, tmp_path, monkeypatch, jobs_in):
    """A cycle reads footers only of the parts that are pending or
    whose stat moved off their records: each new part's footer is read
    once, by the cycle that ships it, and an idle cycle reads no
    footer and starts no Spark job."""
    data = str(tmp_path / "data")
    write_fixture(data, 600, seed=31, n_files=3)
    conf = _conf(data, tmp_path / "w")

    footer_reads: list[str] = []
    real_identity = reader.file_identity
    monkeypatch.setattr(reader, "file_identity",
                        lambda p: (footer_reads.append(reader.part_of(p)), real_identity(p))[1])

    stop = threading.Event()
    per_cycle: list[list[str]] = []
    idle = contextlib.ExitStack()
    idle_jobs: list[list[int]] = []

    def wait(timeout):
        per_cycle.append(sorted(footer_reads))
        footer_reads.clear()
        if len(per_cycle) == 2:  # a new file lands after the second cycle
            pq.write_table(generate_sequences(50, seed=77),
                           os.path.join(conf.input_path, "part-99999.parquet"))
        elif len(per_cycle) == 4:  # the fifth cycle has nothing to do
            idle_jobs.append(idle.enter_context(jobs_in(f"idle-{tmp_path}")))
        elif len(per_cycle) == 5:
            idle.close()
            stop.set()
        return stop.is_set()

    stop.wait = wait
    follow(spark, conf, 0, stop)
    first = ["part-00000", "part-00001", "part-00002"]
    assert per_cycle == [first,  # pending: shipped
                         [],  # committed, stats unchanged
                         ["part-99999"],  # the new pending part
                         [],
                         []]  # idle
    assert idle_jobs == [[0]]


def test_inplace_rotation_batch_detects(spark, tmp_path):
    """llogtail's live loop detects in-place rotation of a file it
    already tailed (log_watcher.go:228-261). A plain batch run's plan
    sees the part's stat move, compares its parquet footer identity and
    reprocesses exactly that partition."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=21, n_files=3)
    conf = _conf(data, tmp_path / "w")
    run_pipeline(spark, conf)
    assert spark.read.parquet(conf.sinks[1].path).count() == 300

    # rotation: the SAME path is rewritten in place with new content
    pq.write_table(generate_sequences(150, seed=77),
                   os.path.join(data, "sequences", "part-00001.parquet"))
    res = run_pipeline(spark, conf)
    assert res.processed == {"errors": ["part-00001"], "firehose": ["part-00001"]}
    assert sorted(res.skipped["firehose"]) == ["part-00000", "part-00002"]
    fire2 = spark.read.parquet(conf.sinks[1].path)
    assert fire2.count() == 350  # 100 + 100 untouched + 150 rotated
    assert fire2.filter(F.col("part") == "part-00001").count() == 150


def _ship_then_rewrite(spark, tmp_path, seed, table):
    """Ship 3 parts in one cycle, then rewrite part-00001 in place with
    `table`."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=seed, n_files=3)
    conf = _conf(data, tmp_path / "w")
    _one_cycle(spark, conf)
    for rule in conf.sinks:
        sink = spark.read.parquet(rule.path)
        assert sink.filter(F.col("part") == "part-00001").count() > 0
    pq.write_table(table, os.path.join(data, "sequences", "part-00001.parquet"))
    return conf


def _follow_landing_after_second_cycle(spark, conf, land) -> list[str]:
    """Run three cycles of a loop; after the second (every part
    committed with its stat) call `land()`. Returns the sink files of
    the parts `land` leaves alone, as they were before it ran."""
    stop = threading.Event()
    cycles, untouched = [], []

    def wait(timeout):
        cycles.append(timeout)
        if len(cycles) == 2:
            untouched.extend(_sink_files(conf, "part-0000[02]"))
            land()
        return len(cycles) == 3

    stop.wait = wait
    follow(spark, conf, 0, stop)
    assert untouched
    return untouched


def test_rescan_rewritten_reships_only_changed_part(spark, tmp_path):
    """llogtail's in-place rotation branch (log_watcher.go:228-261): in
    a running loop that has committed every part, the cycle after a
    part is rewritten in place re-ships exactly that part; the
    untouched parts' sink files stay as they were."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=43, n_files=3)
    conf = _conf(data, tmp_path / "w")
    untouched = _follow_landing_after_second_cycle(spark, conf, lambda: pq.write_table(
        generate_sequences(150, seed=88), os.path.join(conf.input_path, "part-00001.parquet")))
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.count() == 350  # 100 + 150 rewritten + 100 untouched
    assert fire.filter(F.col("part") == "part-00001").count() == 150
    assert _sink_files(conf, "part-0000[02]") == untouched
    # manifest recommitted with the new identity: a further run is idle
    _assert_idle(spark, conf)


def test_stream_rescan_reships_rewritten_during_stream(spark, tmp_path):
    """A cycle of a running loop that discovers a NEW file also
    re-ships a file rewritten in place in the same interval: the loop
    covers rotation without waiting for a batch run."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=44, n_files=3)
    conf = _conf(data, tmp_path / "w")

    def land():  # one file is rewritten in place AND one new file lands
        pq.write_table(generate_sequences(150, seed=89),
                       os.path.join(conf.input_path, "part-00001.parquet"))
        pq.write_table(generate_sequences(50, seed=90),
                       os.path.join(conf.input_path, "part-99999.parquet"))

    untouched = _follow_landing_after_second_cycle(spark, conf, land)
    fire = spark.read.parquet(conf.sinks[1].path)
    # 100 + 150 (rewritten, re-shipped) + 100 + 50 (new)
    assert fire.count() == 400
    assert fire.filter(F.col("part") == "part-00001").count() == 150
    assert fire.filter(F.col("part") == "part-99999").count() == 50
    assert _sink_files(conf, "part-0000[02]") == untouched
    # every shipped row is committed and consistent
    assert len(mf.committed_parts(conf.manifest_dir, "firehose")) == 4
    _assert_idle(spark, conf)


def test_rescan_clears_a_sink_the_rewrite_no_longer_routes_to(spark, tmp_path):
    """A part rewritten with rows that route none to `errors` must
    leave no `errors` rows for it: the re-ship covers every sink, and
    a sink that stages nothing is cleared."""
    import pyarrow.compute as pc

    t = generate_sequences(150, seed=91)
    quiet = t.filter(pc.less(pc.list_element(t["tokens"], 0), 4))  # below ERROR
    conf = _ship_then_rewrite(spark, tmp_path, 45, quiet)

    _one_cycle(spark, conf)
    err = spark.read.parquet(conf.sinks[0].path)
    assert err.filter(F.col("part") == "part-00001").count() == 0
    fire = spark.read.parquet(conf.sinks[1].path)
    assert fire.filter(F.col("part") == "part-00001").count() == quiet.num_rows
    _assert_idle(spark, conf)


def test_rescan_of_a_truncated_part_clears_every_sink(spark, tmp_path):
    """llogtail's copytruncate case: a part truncated to an empty
    parquet file is cleared from every sink and re-committed with its
    new (empty) identity."""
    empty = generate_sequences(10, seed=92).slice(0, 0)
    conf = _ship_then_rewrite(spark, tmp_path, 46, empty)

    _one_cycle(spark, conf)
    for rule in conf.sinks:
        sink = spark.read.parquet(rule.path)
        assert sink.filter(F.col("part") == "part-00001").count() == 0, rule.name
    got = [e for e in mf.read_all(conf.manifest_dir) if e.part == "part-00001"]
    assert sorted(e.sink for e in got) == ["errors", "firehose"]
    assert all(e.in_row_count == 0 and e.row_count == 0 for e in got)
    _assert_idle(spark, conf)


def test_follow_refuses_a_rewrite_with_an_unreadable_footer(spark, tmp_path):
    """A part rewritten mid-write (no parquet footer yet) fails the
    cycle, naming the part, and its committed rows stay shipped."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=48, n_files=3)
    conf = _conf(data, tmp_path / "w")
    _one_cycle(spark, conf)
    shipped = _sink_files(conf)
    bad = os.path.join(data, "sequences", "part-00001.parquet")
    with open(bad, "wb") as f:
        f.write(b"PAR1")
    with pytest.raises(ValueError, match=re.escape(bad)):
        _one_cycle(spark, conf)
    assert _sink_files(conf) == shipped
    assert len(mf.read_all(conf.manifest_dir)) == 6


def test_stream_refuses_a_held_workdir(spark, tmp_path):
    """A loop on a workdir another run holds fails loudly, naming the
    workdir, and writes no sink and no manifest entry."""
    data = str(tmp_path / "data")
    write_fixture(data, 200, seed=47, n_files=2)
    conf = _conf(data, tmp_path / "w")
    with mf.lease(conf.workdir), pytest.raises(RuntimeError, match=re.escape(conf.workdir)):
        _one_cycle(spark, conf)
    assert not any(os.path.exists(r.path) for r in conf.sinks)
    assert mf.read_all(conf.manifest_dir) == []
