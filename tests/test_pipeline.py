"""End-to-end golden equality + crash/resume — the rebuild of
log_collector_test.go's e2e suite (100-append equality :138-167 and
the commented-out restart test :102-135, which we make real).

Oracle: pure pandas recompute from the seeded generator (conftest),
never Spark."""

import glob
import json
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from llogtail_spark import cli
from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.generate import generate_sequences, write_fixture
from llogtail_spark.operators.route import SinkRule
from llogtail_spark.pipeline import read_sink, run_pipeline
from llogtail_spark.sources import reader


def make_conf(data_dir, workdir) -> PipelineConf:
    return PipelineConf(
        input_path=os.path.join(data_dir, "sequences"),
        lookup_path=os.path.join(data_dir, "lookup_sources.parquet"),
        workdir=str(workdir),
        sinks=[
            SinkRule("errors", "level_num >= 40", os.path.join(str(workdir), "out/errors")),
            SinkRule("warnings", "level_num >= 30 AND level_num < 40",
                     os.path.join(str(workdir), "out/warnings")),
            SinkRule("firehose", "true", os.path.join(str(workdir), "out/firehose")),
        ],
    )


def _expected(oracle_pdf):
    return {
        "errors": oracle_pdf[oracle_pdf["level_num"] >= 40],
        "warnings": oracle_pdf[(oracle_pdf["level_num"] >= 30) & (oracle_pdf["level_num"] < 40)],
        "firehose": oracle_pdf,
    }


def _assert_sink_equals_oracle(spark, conf, sink, want_pdf):
    got = read_sink(spark, conf, sink).select("doc_id", "tokens", "n_tok", "source").toPandas()
    assert len(got) == len(want_pdf), sink
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want_pdf.sort_values("doc_id").reset_index(drop=True)
    assert (got["doc_id"].to_numpy() == want["doc_id"].to_numpy()).all()
    assert (got["n_tok"].to_numpy() == want["n_tok"].to_numpy()).all()
    # token-array equality per doc_id — the per-row invariant
    for g, w in zip(got["tokens"].to_numpy(), want["tokens"].to_numpy()):
        assert np.array_equal(np.asarray(g), np.asarray(w))


def test_e2e_golden_equality(spark, data_dir, oracle_pdf, tmp_path):
    conf = make_conf(data_dir, tmp_path / "w1")
    res = run_pipeline(spark, conf)
    assert all(len(v) == 6 for v in res.processed.values())
    for sink, want in _expected(oracle_pdf).items():
        _assert_sink_equals_oracle(spark, conf, sink, want)
    # metrics agree with the oracle
    m = {r["sink"]: r.asDict() for r in res.metrics.collect()}
    for sink, want in _expected(oracle_pdf).items():
        assert m[sink]["row_count"] == len(want)
        assert m[sink]["tok_total"] == int(want["n_tok"].sum())


def test_rerun_is_noop(spark, data_dir, tmp_path):
    conf = make_conf(data_dir, tmp_path / "w2")
    res1 = run_pipeline(spark, conf)
    res2 = run_pipeline(spark, conf)
    assert all(len(v) == 0 for v in res2.processed.values())
    assert all(len(v) == 6 for v in res2.skipped.values())
    assert res2.metrics.collect() == res1.metrics.collect()


def test_a_run_with_nothing_pending_starts_no_spark_job(spark, data_dir, tmp_path):
    """The plan lists the input on the driver (no Spark job), so a
    resume with every part committed never reaches Spark."""
    conf = make_conf(data_dir, tmp_path / "w-idle")
    run_pipeline(spark, conf)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    res = run_pipeline(spark, conf)
    assert all(len(v) == 0 for v in res.processed.values())
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


@pytest.mark.parametrize("lookup,most", [(True, 4), (False, 3)],
                         ids=["lookup", "no_lookup"])
def test_a_fresh_run_starts_no_schema_inference_job(
        spark, data_dir, tmp_path, jobs_in, lookup, most):
    """The input and lookup schemas come from the parquet footers on
    the driver: a fresh run starts the broadcast (with a lookup), the
    staged write and the 2-job readback, and no inference job (with
    inference it started 6 jobs, and 4 without a lookup)."""
    conf = make_conf(data_dir, tmp_path / "w")
    if not lookup:
        conf = PipelineConf(conf.input_path, None, conf.workdir, conf.sinks)
    with jobs_in(f"fresh-{tmp_path}") as jobs:
        res = run_pipeline(spark, conf)
    assert all(len(v) == 6 for v in res.processed.values())
    assert jobs[0] <= most, jobs


def test_a_second_run_compiles_no_generated_class(
        spark, data_dir, tmp_path, compiled_classes):
    """A log run's generated classes stay in the session's codegen
    cache: a second run over the same input, in a fresh workdir,
    compiles none."""
    run_pipeline(spark, make_conf(data_dir, tmp_path / "a"))
    before = compiled_classes()
    res = run_pipeline(spark, make_conf(data_dir, tmp_path / "b"))
    assert all(len(v) == 6 for v in res.processed.values())
    assert compiled_classes() == before


class Boom(Exception):
    pass


@pytest.mark.parametrize("stage", ["before_commit", "after_commit"])
def test_crash_resume_effectively_once(spark, data_dir, oracle_pdf, tmp_path, stage):
    """Kill between sink write and manifest commit (and just after a
    commit); rerun; outputs must equal the oracle exactly — no dupes,
    no loss — and committed partitions must be skipped."""
    conf = make_conf(data_dir, tmp_path / f"w3{stage}")
    calls = {"n": 0}

    def failpoint(s, sink, part):
        if s == stage and sink == "warnings":
            if calls["n"] == 2:
                raise Boom()
            calls["n"] += 1

    with pytest.raises(Boom):
        run_pipeline(spark, conf, failpoint=failpoint)

    committed_before = {
        r.name: len(mf.committed_parts(conf.manifest_dir, r.name)) for r in conf.sinks
    }
    # errors sink finished; warnings crashed mid-commit; firehose never ran
    assert committed_before["errors"] == 6
    assert committed_before["warnings"] < 6
    assert committed_before["firehose"] == 0

    res = run_pipeline(spark, conf)  # resume
    assert len(res.skipped["errors"]) == 6
    assert len(res.processed["warnings"]) == 6 - committed_before["warnings"]
    assert len(res.processed["firehose"]) == 6

    for sink, want in _expected(oracle_pdf).items():
        _assert_sink_equals_oracle(spark, conf, sink, want)


def test_validate_detects_changed_input(spark, data_dir, tmp_path):
    """A record whose stat and identity both differ from its part's
    (the input changed under it) ships that part again; the stat alone
    moves the footer read, the identity compare decides."""
    conf = make_conf(data_dir, tmp_path / "w4")
    run_pipeline(spark, conf)
    e = [x for x in mf.read_all(conf.manifest_dir) if x.sink == "errors"][0]
    mf.commit(conf.manifest_dir,
              mf.ManifestEntry(**{**e.__dict__, "in_checksum": 1, "in_stat": "0:0:0"}))
    res = run_pipeline(spark, conf)
    assert res.processed == {"errors": [e.part], "warnings": [], "firehose": []}


def _small_run(spark, tmp_path, seed):
    """A committed run over 3 parts of 100 rows each."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=seed, n_files=3)
    conf = make_conf(data, tmp_path / "w")
    run_pipeline(spark, conf)
    return conf


def _footer_reads(monkeypatch) -> list[str]:
    """The parts whose footers are read from now on, in read order."""
    reads: list[str] = []
    real = reader.file_identity
    monkeypatch.setattr(reader, "file_identity",
                        lambda p: (reads.append(reader.part_of(p)), real(p))[1])
    return reads


def _idle(conf) -> dict[str, list[str]]:
    return {r.name: [] for r in conf.sinks}


def test_a_touched_part_is_footer_checked_once_and_not_reshipped(
        spark, tmp_path, monkeypatch, jobs_in):
    """A stat-only change (touch) reads the part's footer once, finds
    its identity unchanged and re-commits its records with the new
    stat: nothing ships, no Spark job starts, and the next run reads
    no footer."""
    conf = _small_run(spark, tmp_path, 51)
    reads = _footer_reads(monkeypatch)
    part = os.path.join(conf.input_path, "part-00001.parquet")
    os.utime(part)
    with jobs_in(f"touch-{tmp_path}") as jobs:
        res = run_pipeline(spark, conf)
    assert res.processed == _idle(conf)
    assert reads == ["part-00001"] and jobs == [0]
    assert {e.in_stat for e in mf.read_all(conf.manifest_dir)
            if e.part == "part-00001"} == {reader.file_stat(part)}
    reads.clear()
    assert run_pipeline(spark, conf).processed == _idle(conf)
    assert reads == []


def test_a_record_without_a_stat_is_footer_checked_once_and_recommitted(
        spark, tmp_path, monkeypatch):
    """A record written before records carried `in_stat` (and with the
    old `watermark_offset` key) loads, has its part's footer read once
    for all its sinks, and is re-committed with the stat, not
    re-shipped."""
    conf = _small_run(spark, tmp_path, 52)
    for path in glob.glob(os.path.join(conf.manifest_dir, "*.json")):
        with open(path) as f:
            d = json.load(f)
        d["watermark_offset"] = d["in_row_count"]
        del d["in_stat"]
        with open(path, "w") as f:
            json.dump(d, f)
    reads = _footer_reads(monkeypatch)
    assert run_pipeline(spark, conf).processed == _idle(conf)
    assert sorted(reads) == ["part-00000", "part-00001", "part-00002"]
    parts = reader.list_parts(conf.input_path)
    assert all(e.in_stat == reader.file_stat(parts[e.part])
               for e in mf.read_all(conf.manifest_dir))
    reads.clear()
    assert run_pipeline(spark, conf).processed == _idle(conf)
    assert reads == []


def test_a_deleted_part_loses_its_records(spark, tmp_path):
    """A part deleted from the input drops out of the manifest in the
    next plain run (validateCpt: the checkpoint's file is gone)."""
    conf = _small_run(spark, tmp_path, 54)
    os.remove(os.path.join(conf.input_path, "part-00001.parquet"))
    assert run_pipeline(spark, conf).processed == _idle(conf)
    assert {e.part for e in mf.read_all(conf.manifest_dir)} == {"part-00000", "part-00002"}


def test_a_deleted_part_leaves_every_sink(spark, tmp_path):
    """A deleted part's dir leaves every sink before its records go, so
    a sink read holds none of its rows and agrees with the metrics of a
    run that ships a new part (with the dir kept, `read_sink` returned
    the deleted part's rows that neither the manifest nor the metrics
    count)."""
    conf = _small_run(spark, tmp_path, 56)
    os.remove(os.path.join(conf.input_path, "part-00001.parquet"))
    pq.write_table(generate_sequences(50, seed=9),
                   os.path.join(conf.input_path, "part-00003.parquet"))
    res = run_pipeline(spark, conf)
    assert res.processed == {r.name: ["part-00003"] for r in conf.sinks}
    metrics = {r["sink"]: r for r in res.metrics.collect()}
    for rule in conf.sinks:
        got = read_sink(spark, conf, rule.name)
        assert got.filter(F.col("part") == "part-00001").count() == 0, rule.name
        assert got.count() == metrics[rule.name]["row_count"], rule.name
        assert metrics[rule.name]["n_parts"] == 3
        assert not os.path.exists(os.path.join(rule.path, "part=part-00001"))


def test_a_run_that_only_drops_a_deleted_part_reports_the_new_totals(
        spark, tmp_path, jobs_in):
    """A run whose plan only removes a deleted part (nothing pending)
    returns the metrics of what the sinks now hold, and starts no Spark
    job to build or collect them (it returned no metrics before, so the
    CLI printed an empty list)."""
    conf = _small_run(spark, tmp_path, 57)
    os.remove(os.path.join(conf.input_path, "part-00001.parquet"))
    with jobs_in(f"drop-{tmp_path}") as jobs:
        res = run_pipeline(spark, conf)
        metrics = {r["sink"]: r for r in res.metrics.collect()}
    assert jobs == [0]
    assert res.processed == _idle(conf)
    assert sorted(metrics) == sorted(r.name for r in conf.sinks)
    for rule in conf.sinks:
        assert metrics[rule.name]["row_count"] == read_sink(spark, conf, rule.name).count()
        assert metrics[rule.name]["n_parts"] == 2


def test_collecting_run_metrics_starts_no_spark_job(spark, data_dir, tmp_path, jobs_in):
    """The metrics are a local relation built from Arrow: collecting
    them starts no Spark job (a frame made from a list of tuples is a
    Python RDD, and its collect started one job and a Python worker)."""
    res = run_pipeline(spark, make_conf(data_dir, tmp_path / "w"))
    assert res.metrics._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    with jobs_in(f"metrics-{tmp_path}") as jobs:
        rows = res.metrics.collect()
    assert jobs == [0]
    assert [r["sink"] for r in rows] == ["errors", "firehose", "warnings"]
    assert res.metrics.schema.simpleString() == (
        "struct<sink:string,row_count:bigint,tok_total:bigint,byte_total:bigint,"
        "checksum:bigint,n_parts:bigint>")


def test_cli_round_trip_reships_only_a_rewritten_part(spark, tmp_path, monkeypatch, capsys):
    """`cli --conf` twice: the second run skips every part. After one
    part is rewritten in place, a third run processes exactly it."""
    data = str(tmp_path / "data")
    write_fixture(data, 300, seed=55, n_files=3)
    wd = str(tmp_path / "w")
    path = str(tmp_path / "pipeline.json")
    with open(path, "w") as f:
        json.dump({"input_path": os.path.join(data, "sequences"),
                   "lookup_path": os.path.join(data, "lookup_sources.parquet"),
                   "workdir": wd,
                   "sinks": [{"name": "errors", "predicate": "level_num >= 40",
                              "path": os.path.join(wd, "out/errors")},
                             {"name": "firehose", "predicate": "true",
                              "path": os.path.join(wd, "out/firehose")}]}, f)
    monkeypatch.setattr(cli, "get_spark", lambda name: spark)

    def run() -> dict:
        assert cli.main(["--conf", path]) == 0
        return json.loads(capsys.readouterr().out.splitlines()[-1])

    assert run()["processed"] == {"errors": 3, "firehose": 3}
    again = run()
    assert (again["processed"], again["skipped"]) == ({"errors": 0, "firehose": 0},
                                                      {"errors": 3, "firehose": 3})
    pq.write_table(generate_sequences(150, seed=56),
                   os.path.join(data, "sequences", "part-00001.parquet"))
    third = run()
    assert (third["processed"], third["skipped"]) == ({"errors": 1, "firehose": 1},
                                                      {"errors": 2, "firehose": 2})
    fire = next(m for m in third["metrics"] if m["sink"] == "firehose")
    assert fire["row_count"] == 350  # 100 + 150 rewritten + 100


def test_zero_match_input_raises(spark, tmp_path):
    conf = make_conf(str(tmp_path / "empty"), tmp_path / "w5")
    with pytest.raises(Exception):
        run_pipeline(spark, conf)  # findFiles zero-match analog


def test_numeric_basename_part_keeps_manifest_stats(spark, tmp_path):
    """An all-digit input basename must not be re-inferred as int on
    the staged readback (partition type inference) — that would miss
    the stats lookup and commit row_count=0 over real data."""
    import pyarrow.parquet as pq

    from llogtail_spark.generate import generate_sequences

    data = tmp_path / "seq"
    os.makedirs(data)
    pq.write_table(generate_sequences(100, seed=5), str(data / "00123.parquet"))
    wd = str(tmp_path / "w-num")
    conf = PipelineConf(
        input_path=str(data), lookup_path=None, workdir=wd,
        sinks=[SinkRule("firehose", "true", os.path.join(wd, "out/firehose"))],
    )
    res = run_pipeline(spark, conf)
    assert res.processed["firehose"] == ["00123"]
    (entry,) = mf.read_all(conf.manifest_dir)
    assert entry.part == "00123"
    assert entry.row_count == 100
    assert entry.tok_total > 0
    assert entry.checksum != 0


def test_metrics_need_no_input_reparse(spark, data_dir, oracle_pdf, tmp_path):
    """RunResult.metrics derives from the manifest (job-3 readback
    stats), never a second parse: collecting it after the INPUT IS
    GONE must still work and match the oracle, with at most one tiny
    local job (no file scan)."""
    import shutil

    data = str(tmp_path / "data-copy")
    shutil.copytree(data_dir, data)
    conf = make_conf(data, tmp_path / "w-metrics")
    sc = spark.sparkContext
    res = run_pipeline(spark, conf)

    shutil.rmtree(os.path.join(data, "sequences"))  # input vanishes
    sc.setJobGroup("metrics-collect", "collect derived metrics")
    m = {r["sink"]: r.asDict() for r in res.metrics.collect()}
    sc.setJobGroup("after", "")
    jobs = sc.statusTracker().getJobIdsForGroup("metrics-collect")
    assert len(jobs) <= 1  # LocalTableScan only — no re-parse possible
    for sink, want in _expected(oracle_pdf).items():
        assert m[sink]["row_count"] == len(want)
        assert m[sink]["tok_total"] == int(want["n_tok"].sum())
        assert m[sink]["n_parts"] == 6


def test_partition_layout_invariance(spark, tmp_path):
    """SURVEY §5.3 / log_collector_test.go:66-100 analog: the SAME
    logical rows written in two different randomized file layouts
    (different file counts, shuffled row assignment, skewed file
    sizes) must produce identical routed sink contents and identical
    per-sink aggregate totals."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.generate import generate_sequences

    table = generate_sequences(900, seed=33)
    rng = np.random.default_rng(7)

    def write_layout(root, n_files, perm_seed):
        seq = os.path.join(root, "sequences")
        os.makedirs(seq)
        perm = np.random.default_rng(perm_seed).permutation(len(table))
        shuffled = table.take(pa.array(perm))
        # skewed split points: file sizes vary wildly
        cuts = np.sort(
            np.random.default_rng(perm_seed + 1).choice(
                np.arange(1, len(table)), size=n_files - 1, replace=False
            )
        )
        start = 0
        for i, end in enumerate(list(cuts) + [len(table)]):
            pq.write_table(shuffled.slice(start, end - start),
                           os.path.join(seq, f"part-{i:05d}.parquet"))
            start = end
        return seq

    results = []
    for layout, (n_files, perm_seed) in enumerate([(3, 101), (9, 202)]):
        root = str(tmp_path / f"layout{layout}")
        os.makedirs(root)
        seq = write_layout(root, n_files, perm_seed)
        wd = os.path.join(root, "work")
        conf = PipelineConf(
            input_path=seq, lookup_path=None, workdir=wd,
            sinks=[
                SinkRule("errors", "level_num >= 40", os.path.join(wd, "out/errors")),
                SinkRule("firehose", "true", os.path.join(wd, "out/firehose")),
            ],
        )
        res = run_pipeline(spark, conf)
        m = {r["sink"]: (r["row_count"], r["tok_total"], r["checksum"])
             for r in res.metrics.collect()}
        rows = {}
        for sink in ["errors", "firehose"]:
            pdf = (read_sink(spark, conf, sink)
                   .select("doc_id", "tokens", "n_tok").toPandas()
                   .sort_values("doc_id").reset_index(drop=True))
            rows[sink] = [(r.doc_id, tuple(r.tokens), r.n_tok)
                          for r in pdf.itertuples()]
        results.append((m, rows))

    (m1, r1), (m2, r2) = results
    assert m1 == m2  # per-sink counts, token totals AND checksums
    assert r1 == r2  # routed rows byte-identical across layouts


def test_remote_workdir_rejected_loudly(spark, data_dir, tmp_path):
    """A remote workdir or output URI would make the local staging walk
    find nothing and commit zero-count manifests over real data — the
    conf refuses it when it is built, naming the field."""
    from llogtail_spark.corpus_pipeline import CorpusConf

    inp = os.path.join(data_dir, "sequences")
    builds = {
        "workdir": lambda: PipelineConf(
            input_path=inp, lookup_path=None, workdir="hdfs://nn/flow/work",
            sinks=[SinkRule("all", "true", str(tmp_path / "out"))]),
        "out_path": lambda: CorpusConf(
            input_path=inp, workdir=str(tmp_path / "w"), out_path="hdfs://nn/flow/out"),
    }
    for field, build in builds.items():
        with pytest.raises(NotImplementedError, match=field):
            build()


def test_file_uri_workdir_resolves_not_corrupts(
        spark, data_dir, tmp_path, oracle_pdf, monkeypatch):
    """ADVICE r02: a 'file:' URI workdir passes the local-path guard,
    but if staging were built on the raw URI string, Spark would write
    under the RESOLVED path while os.scandir on the literal string
    found nothing — staged_any=False, zero-count manifests, and sink
    dirs rmtree'd over real data. The URI must behave exactly like the
    plain path, and so must a 'file:' URI sink path, which once
    shipped into a cwd-relative './file:/...' tree."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    for uri_sinks in (False, True):
        wd = tmp_path / f"w_uri_{uri_sinks}"
        conf = make_conf(data_dir, wd)
        sinks = [SinkRule(r.name, r.predicate, "file://" + r.path) for r in conf.sinks]
        conf = PipelineConf(
            input_path=conf.input_path, lookup_path=conf.lookup_path,
            workdir="file://" + str(wd), sinks=sinks if uri_sinks else conf.sinks,
        )
        res = run_pipeline(spark, conf)
        assert all(len(v) == 6 for v in res.processed.values())
        for sink, want in _expected(oracle_pdf).items():
            _assert_sink_equals_oracle(spark, conf, sink, want)
            assert glob.glob(str(wd / "out" / sink / "part=*" / "*.parquet")), sink
        # the manifest must land under the RESOLVED workdir, not under a
        # literal './file:/...' directory relative to the cwd
        assert (wd / "manifest").is_dir()
        assert os.listdir(cwd) == []


def test_parallel_ship_crash_before_commit_resumes(spark, data_dir, tmp_path):
    """With parallel ship, a crash after the renames but before any
    manifest commit must leave all partitions uncommitted; the re-run
    replaces the same dirs idempotently and commits everything."""
    import pytest

    wd = tmp_path / "w"
    base = make_conf(data_dir, wd)
    conf = PipelineConf(
        input_path=base.input_path, lookup_path=base.lookup_path,
        workdir=str(wd), sinks=base.sinks[:1],
    )

    class Boom(RuntimeError):
        pass

    def fp(stage, sink, part):
        if stage == "before_commit":
            raise Boom()

    with pytest.raises(Boom):
        run_pipeline(spark, conf, failpoint=fp)
    assert mf.committed_parts(conf.manifest_dir, "errors") == set()
    res = run_pipeline(spark, conf)  # clean resume
    assert len(res.processed["errors"]) == 6
    got = read_sink(spark, conf, "errors")
    assert got.select("doc_id").distinct().count() == got.count()


def test_observe_readback_reconciliation_catches_lost_staged_file(
    spark, data_dir, tmp_path
):
    """The write stage observe() totals must equal job 3's file
    readback: delete one staged data file between write and readback
    (simulating a lost/partial task output) and the run must REFUSE
    to commit lineage instead of committing under-counted manifests."""
    import glob

    conf = make_conf(data_dir, tmp_path / "wobs")

    def failpoint(s, sink, part):
        if s == "after_stage":
            victims = glob.glob(
                os.path.join(str(tmp_path / "wobs"), "staging",
                             "sink=firehose", "part=*", "*.parquet")
            )
            assert victims
            os.unlink(victims[0])

    with pytest.raises(RuntimeError, match="readback disagrees"):
        run_pipeline(spark, conf, failpoint=failpoint)
    # nothing was committed: a clean rerun processes everything
    res = run_pipeline(spark, conf)
    assert all(len(v) > 0 for v in res.processed.values())


def test_lost_staging_output_refuses_to_commit(spark, data_dir, tmp_path):
    """Every staged sink= dir vanishing between the write and the
    readback (the observation counted rows that no file holds) must
    fail the run before anything ships or commits."""
    import shutil

    conf = make_conf(data_dir, tmp_path / "wlost")
    staging = tmp_path / "wlost" / "staging"

    def failpoint(s, sink, part):
        if s == "after_stage":
            victims = [e.path for e in os.scandir(staging)
                       if e.name.startswith("sink=")]
            assert victims
            for v in victims:
                shutil.rmtree(v)

    with pytest.raises(RuntimeError, match="refusing to commit lineage"):
        run_pipeline(spark, conf, failpoint=failpoint)
    assert mf.read_all(conf.manifest_dir) == []
    assert not any(os.path.exists(r.path) for r in conf.sinks)


def _sink_files(conf, sink):
    import glob

    rule = next(r for r in conf.sinks if r.name == sink)
    files = sorted(glob.glob(os.path.join(rule.path, "part=*", "*.parquet")))
    assert files, sink
    return files


def _chunk_encodings(path, column):
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    out = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            if rg.column(c).path_in_schema == column:
                out |= set(rg.column(c).encodings)
    assert out, (path, column)
    return out


def test_staged_parquet_is_v2_delta_without_dictionary(spark, data_dir, tmp_path):
    """Sink files are staged as parquet v2 pages with no dictionary:
    token ids DELTA_BINARY_PACKED, strings DELTA_BYTE_ARRAY."""
    dicts = {"PLAIN_DICTIONARY", "RLE_DICTIONARY"}
    conf = make_conf(data_dir, tmp_path / "wenc")
    run_pipeline(spark, conf)
    for rule in conf.sinks:
        for f in _sink_files(conf, rule.name):
            tok = _chunk_encodings(f, "tokens.list.element")
            src = _chunk_encodings(f, "source")
            assert "DELTA_BINARY_PACKED" in tok and not tok & dicts, (f, tok)
            assert "DELTA_BYTE_ARRAY" in src and not src & dicts, (f, src)


def test_sinks_readable_by_duckdb_and_pyarrow(spark, data_dir, tmp_path):
    """Readers without parquet v2 page / DELTA support are the
    compatibility risk of the staged format: DuckDB and pyarrow must
    read every sink back to the run's own per-sink metrics."""
    import duckdb
    import pyarrow.parquet as pq

    conf = make_conf(data_dir, tmp_path / "wread")
    res = run_pipeline(spark, conf)
    metrics = {r["sink"]: r.asDict() for r in res.metrics.collect()}
    con = duckdb.connect()
    for rule in conf.sinks:
        m = metrics[rule.name]
        want = (m["row_count"], m["tok_total"], m["checksum"])
        files = _sink_files(conf, rule.name)
        duck = con.execute(
            "SELECT count(*), sum(n_tok), bit_xor(row_hash) "
            "FROM read_parquet(?)", [files]
        ).fetchone()
        assert tuple(int(v) for v in duck) == want, (rule.name, duck, want)
        t = pq.ParquetDataset(files).read(columns=["n_tok", "row_hash"])
        arrow = (
            t.num_rows,
            int(t.column("n_tok").to_numpy().sum()),
            int(np.bitwise_xor.reduce(t.column("row_hash").to_numpy())),
        )
        assert arrow == want, (rule.name, arrow, want)
