"""End-to-end golden equality + crash/resume — the rebuild of
log_collector_test.go's e2e suite (100-append equality :138-167 and
the commented-out restart test :102-135, which we make real).

Oracle: pure pandas recompute from the seeded generator (conftest),
never Spark."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf
from llogtail_spark.operators.route import SinkRule
from llogtail_spark.pipeline import read_sink, run_pipeline, validate_manifest


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
    run_pipeline(spark, conf)
    res2 = run_pipeline(spark, conf)
    assert all(len(v) == 0 for v in res2.processed.values())
    assert all(len(v) == 6 for v in res2.skipped.values())
    assert res2.metrics is None


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
    conf = make_conf(data_dir, tmp_path / "w4")
    run_pipeline(spark, conf)
    # tamper one entry's recorded input identity -> stale
    e = [x for x in mf.read_all(conf.manifest_dir) if x.sink == "errors"][0]
    mf.commit(conf.manifest_dir, mf.ManifestEntry(**{**e.__dict__, "in_checksum": 1}))
    stale = validate_manifest(spark, conf)
    assert stale == [f"errors/{e.part}"]
    res = run_pipeline(spark, conf)
    assert res.processed["errors"] == [e.part]


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
    """A remote workdir URI would make the local staging walk find
    nothing and commit zero-count manifests over real data — it must
    be rejected up front instead."""
    import pytest

    from llogtail_spark.config import PipelineConf
    from llogtail_spark.operators.route import SinkRule
    from llogtail_spark.pipeline import run_pipeline

    conf = PipelineConf(
        input_path=os.path.join(data_dir, "sequences"),
        lookup_path=None,
        workdir="hdfs://nn/flow/work",
        sinks=[SinkRule("all", "true", str(tmp_path / "out"))],
    )
    with pytest.raises(NotImplementedError, match="workdir"):
        run_pipeline(spark, conf)


def test_file_uri_workdir_resolves_not_corrupts(spark, data_dir, tmp_path, oracle_pdf):
    """ADVICE r02: a 'file:' URI workdir passes the local-path guard,
    but if staging were built on the raw URI string, Spark would write
    under the RESOLVED path while os.scandir on the literal string
    found nothing — staged_any=False, zero-count manifests, and sink
    dirs rmtree'd over real data. The URI must behave exactly like the
    plain path."""
    wd = tmp_path / "w_uri"
    conf = make_conf(data_dir, wd)
    conf = PipelineConf(
        input_path=conf.input_path, lookup_path=conf.lookup_path,
        workdir="file://" + str(wd), sinks=conf.sinks,
    )
    res = run_pipeline(spark, conf)
    assert all(len(v) == 6 for v in res.processed.values())
    for sink, want in _expected(oracle_pdf).items():
        _assert_sink_equals_oracle(spark, conf, sink, want)
    # the manifest must land under the RESOLVED workdir, not under a
    # literal './file:/...' directory relative to the cwd
    assert (wd / "manifest").is_dir()
    assert not os.path.exists("file:")


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


def _has_iceberg(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def test_iceberg_ship_fails_loudly_without_runtime(spark, data_dir, tmp_path):
    """ship_mode='iceberg' must never silently fall back: without the
    runtime jar the ship raises with setup guidance BEFORE any
    manifest row is committed (a committed manifest over a commit no
    table received would be data loss on resume)."""
    import pytest

    if _has_iceberg(spark):
        pytest.skip("iceberg runtime present; the loud-failure branch "
                    "is unreachable — covered by the round-trip test")
    wd = tmp_path / "w"
    base = make_conf(data_dir, wd)
    conf = PipelineConf(
        input_path=base.input_path, lookup_path=base.lookup_path,
        workdir=str(wd),
        sinks=[SinkRule("all", "true", "lake.db.routed_all")],
        ship_mode="iceberg",
    )
    with pytest.raises(RuntimeError, match="iceberg ship failed"):
        run_pipeline(spark, conf)
    assert mf.committed_parts(conf.manifest_dir, "all") == set()


def test_iceberg_ship_roundtrip(spark, data_dir, tmp_path):
    """Jar-gated integration: with iceberg-spark-runtime + a catalog
    configured, ship_mode='iceberg' commits each sink as ONE atomic
    overwritePartitions snapshot and read_sink reads it back equal to
    the rename path's output."""
    import pytest

    if not _has_iceberg(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath "
                    "(sandbox image); runs on a real deployment via "
                    "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13")
    wd = tmp_path / "w"
    base = make_conf(data_dir, wd)
    conf = PipelineConf(
        input_path=base.input_path, lookup_path=base.lookup_path,
        workdir=str(wd),
        sinks=[SinkRule("all", "true", "lake.db.routed_all")],
        ship_mode="iceberg",
    )
    res = run_pipeline(spark, conf)
    assert len(res.processed["all"]) == 6
    got = read_sink(spark, conf, "all")
    want = spark.read.parquet(os.path.join(data_dir, "sequences"))
    assert got.count() == want.count()
    # idempotent re-run: same snapshot content, all skipped
    res2 = run_pipeline(spark, conf)
    assert res2.processed["all"] == []


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
