"""Corpus-pipeline (dedup -> decontaminate -> quality -> sample ->
pack -> ship) end-to-end: materialized == lazy composition,
kill-at-every-boundary resume equality, stage/params invalidation,
and the observe-vs-readback refusal (VERDICT r04 #1)."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from llogtail_spark.corpus_pipeline import (
    CORPUS_STAGES,
    CorpusConf,
    corpus_funnel_counts,
    corpus_stages,
    read_packed,
    read_stage,
    run_corpus_pipeline,
)

VOCAB = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec",
]
LANGS = ["en", "zh", "es", "de", "fr"]
N_DOCS = 200


def _base_text(i: int) -> str:
    # every 3rd token is doc-unique, so every word 3-shingle (and
    # 5-gram) contains a doc-specific token: cross-doc shingle overlap
    # is exactly zero except for PLANTED duplicates/contamination (a
    # pure VOCAB wheel made every doc a rotation of the same cycle —
    # near-dup of everything)
    return " ".join(
        f"w{i}p{j}" if j % 3 == 1 else VOCAB[(i * 7 + j * j) % 17]
        for j in range(30 + i % 5))


def _doc(i: int) -> tuple[int, str, str, str, int]:
    if i % 50 == 0:
        text = _base_text(i)  # benchmark doc (the % 50 eval split)
    elif i % 13 == 0:
        text = _base_text(i - 1)  # exact duplicate of doc i-1
    elif i % 17 == 0:
        # near duplicate of doc i-1: only the trailing word differs
        text = _base_text(i - 1).rsplit(" ", 1)[0] + " zulu"
    elif i % 11 == 0:
        text = f"tiny doc number {i} five"  # quality: too_short
    elif i % 19 == 0:
        text = " ".join(["spam"] * 40 + [f"s{i}"])  # repetitive
    elif i % 23 == 0:
        text = _base_text(i) + " contact someone@example.com"  # pii
    elif i % 29 == 0:
        # contaminated: shares benchmark doc 50's leading 5-grams
        text = _base_text(50)[: 90] + " " + _base_text(i)
    else:
        text = _base_text(i)
    return (i, text, LANGS[i % 5], "web", len(text))


def _write_input(spark, path: str, n: int = N_DOCS) -> None:
    rows = [_doc(i) for i in range(1, n + 1)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    ).repartition(3).write.mode("overwrite").parquet(path)


@pytest.fixture(scope="module")
def corpus_input(spark, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("corpus-in"))
    _write_input(spark, d)
    return d


def _conf(input_path: str, workdir: str) -> CorpusConf:
    return CorpusConf(
        input_path=input_path,
        workdir=workdir,
        out_path=os.path.join(workdir, "out"),
        committed_at="t0",
    )


def _packed_rows(df) -> list[tuple]:
    cols = ["shard", "doc_id", "n_tok", "tok_start", "bin_first",
            "bin_last", "crosses"]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def golden(spark, corpus_input, tmp_path_factory):
    """One uninterrupted run + the lazy composition's expected rows."""
    wd = str(tmp_path_factory.mktemp("corpus-golden"))
    conf = _conf(corpus_input, wd)
    res = run_corpus_pipeline(spark, conf)
    docs = spark.read.parquet(corpus_input)
    lazy = corpus_stages(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        conf,
    )
    return conf, res, _packed_rows(lazy["pack"])


def test_materialized_equals_lazy(spark, golden):
    conf, res, want = golden
    assert res.stages_run == list(CORPUS_STAGES)
    assert res.stages_skipped == []
    assert want, "fixture produced an empty corpus"
    assert _packed_rows(read_packed(spark, conf)) == want
    # funnel from the run == independently recomputed eager funnel
    docs = spark.read.parquet(conf.input_path)
    expect = {s: n for _, s, n in corpus_funnel_counts(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0), conf)}
    assert res.funnel == expect


def test_funnel_semantics(spark, golden):
    conf, res, _ = golden
    f = res.funnel
    # the funnel only shrinks, and every planted failure mode bites
    order = list(CORPUS_STAGES)
    for a, b in zip(order, order[1:]):
        assert f[b] <= f[a], (a, b, f)
    assert f["exact_dedup"] < N_DOCS - N_DOCS // 50  # exact dups died
    assert f["near_dedup"] < f["exact_dedup"]  # planted near-dups died
    assert f["decontaminate"] < f["near_dedup"]  # planted contamination
    assert f["quality"] < f["decontaminate"]  # short/repetitive/pii
    # quality survivors: no planted low-quality doc id remains
    qual = spark.read.parquet(os.path.join(conf.stages_dir, "quality"))
    ids = {r["doc_id"] for r in qual.select("doc_id").collect()}
    bad = [i for i in ids
           if i % 50 and (i % 11 == 0 or i % 19 == 0 or i % 23 == 0)
           and i % 13 and i % 17]
    assert bad == []


@pytest.mark.parametrize("hash_mode,n_evals", [("xxhash64", 0), ("portable", 1)])
def test_the_funnel_plans_no_python_eval(spark, corpus_input, tmp_path,
                                         monkeypatch, hash_mode, n_evals):
    """With the default conf no stage plans a Python eval, so the
    funnel starts no Python worker; only the portable near-dup hash
    (the oracle-paired mode) plans its band-key UDF, in one frame: the
    cut candidate-pair edges, whose union of the two pair directions
    prints the pair subtree twice. The plans counted are every stage
    frame and every frame a stage cuts (the near-dup candidate pairs
    are computed behind such a cut)."""
    from llogtail_spark.operators import ckpt

    plans: list[str] = []
    cut = ckpt.checkpoint

    def recording_cut(df, eager=False):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return cut(df, eager=eager)

    monkeypatch.setattr(ckpt, "checkpoint", recording_cut)
    conf = _conf(corpus_input, str(tmp_path))
    conf.hash_mode = hash_mode
    docs = spark.read.parquet(corpus_input)
    frames = corpus_stages(docs.filter(F.col("doc_id") % 50 != 0),
                           docs.filter(F.col("doc_id") % 50 == 0), conf)
    assert list(frames) == list(CORPUS_STAGES)
    plans += [df._jdf.queryExecution().executedPlan().toString()
              for df in frames.values()]
    assert sum("EvalPython" in p for p in plans) == n_evals


def test_a_second_run_compiles_no_generated_class(
        spark, corpus_input, tmp_path, compiled_classes):
    """A funnel run needs about 150 generated classes. The session's
    codegen cache holds them all, so a second run over the same input,
    in a fresh workdir, compiles none (with Spark's 100-entry cache
    every run recompiled most of them)."""
    run_corpus_pipeline(spark, _conf(corpus_input, str(tmp_path / "a")))
    before = compiled_classes()
    res = run_corpus_pipeline(spark, _conf(corpus_input, str(tmp_path / "b")))
    assert res.stages_run == list(CORPUS_STAGES)
    assert compiled_classes() == before


def test_params_crc_is_pinned():
    """Stage params fingerprints are stored in every stage manifest: a
    change to their values would recompute every committed chain."""
    conf = CorpusConf(input_path="i", workdir="w", out_path="o")
    assert {s: conf.params_crc(s) for s in CORPUS_STAGES} == {
        "exact_dedup": 2040910162, "near_dedup": 1076240981,
        "decontaminate": 17498429, "quality": 3337481045,
        "sample": 1797396976, "pack": 3206221222,
    }
    conf = CorpusConf(input_path="i", workdir="w", out_path="o",
                      benchmark_path="b", targets_bp=None)
    assert conf.params_crc("decontaminate") == 2429294930
    assert conf.params_crc("sample") == 427346920


def test_input_identity_is_pinned(tmp_path):
    """The raw input's identity heads every stage manifest's chain: a
    change to its fold would recompute every committed workdir. The
    corpus docs written by pyarrow into three named parts, with a
    hidden _SUCCESS beside them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from llogtail_spark.corpus_pipeline import _input_identity
    from llogtail_spark.sources.reader import list_parts

    rows = [_doc(i) for i in range(1, N_DOCS + 1)]
    for k in range(3):
        cols = list(zip(*rows[k::3]))
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()), "text": cols[1],
            "lang": cols[2], "source": cols[3],
            "n_chars": pa.array(cols[4], pa.int64())}),
            str(tmp_path / f"part-{k:05d}.parquet"))
    (tmp_path / "_SUCCESS").touch()
    assert _input_identity(list_parts(str(tmp_path))) == (200, 3269959492)
    one = str(tmp_path / "part-00001.parquet")
    assert _input_identity(list_parts(one)) == (67, 3558289383)


def test_file_uri_workdir_and_out_path(spark, corpus_input, tmp_path,
                                       golden, monkeypatch):
    """'file:' URIs for workdir and out_path behave as their paths:
    the run completes, a rerun skips every stage, the product equals
    the plain-path run's, and no literal 'file:' tree appears in the
    cwd."""
    _, _, want = golden
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    conf = CorpusConf(input_path=corpus_input,
                      workdir=(tmp_path / "wd").as_uri(),
                      out_path=(tmp_path / "out").as_uri(),
                      committed_at="t0")
    res = run_corpus_pipeline(spark, conf)
    assert res.stages_run == list(CORPUS_STAGES)
    res2 = run_corpus_pipeline(spark, conf)
    assert res2.stages_skipped == list(CORPUS_STAGES)
    assert res2.shards_committed == []
    assert _packed_rows(read_packed(spark, conf)) == want
    assert os.listdir(cwd) == []


def test_stage_manifest_without_schema_recomputes_once(
        spark, corpus_input, tmp_path, golden):
    """A stage manifest with no recorded schema (a layout this package
    no longer writes) counts as stale: that stage recomputes, its
    unchanged output identity keeps every downstream stage skipped,
    and the next run is a no-op."""
    import json

    _, _, want = golden
    conf = _conf(corpus_input, str(tmp_path))
    run_corpus_pipeline(spark, conf)
    path = os.path.join(conf.stage_manifest_dir, "quality.stage.json")
    with open(path) as f:
        rec = json.load(f)
    del rec["schema_json"]
    with open(path, "w") as f:
        json.dump(rec, f)

    res = run_corpus_pipeline(spark, conf)
    assert res.stages_run == ["quality"]
    assert res.stages_skipped == [s for s in CORPUS_STAGES if s != "quality"]
    assert read_stage(conf.stage_manifest_dir, "quality").schema_json
    assert run_corpus_pipeline(spark, conf).stages_run == []
    assert _packed_rows(read_packed(spark, conf)) == want


def test_resume_noop(spark, golden):
    conf, _, want = golden
    res2 = run_corpus_pipeline(spark, conf)
    assert res2.stages_run == []
    assert res2.stages_skipped == list(CORPUS_STAGES)
    assert res2.shards_committed == []
    assert len(res2.shards_skipped) > 0
    assert _packed_rows(read_packed(spark, conf)) == want


class _Boom(Exception):
    pass


@pytest.mark.parametrize("kill_stage", list(CORPUS_STAGES))
def test_crash_before_commit_resume_equality(
        spark, corpus_input, tmp_path, golden, kill_stage):
    """Kill between a stage's data write and its manifest commit: the
    rerun recomputes exactly from the killed stage and the final
    product equals the uninterrupted run's."""
    _, _, want = golden
    conf = _conf(corpus_input, str(tmp_path))

    def fp(stage, phase):
        if stage == kill_stage and phase == "before_commit":
            raise _Boom(stage)

    with pytest.raises(_Boom):
        run_corpus_pipeline(spark, conf, failpoint=fp)
    assert read_stage(conf.stage_manifest_dir, kill_stage) is None

    res = run_corpus_pipeline(spark, conf)
    idx = list(CORPUS_STAGES).index(kill_stage)
    assert res.stages_skipped == list(CORPUS_STAGES)[:idx]
    assert res.stages_run == list(CORPUS_STAGES)[idx:]
    assert _packed_rows(read_packed(spark, conf)) == want


def test_crash_mid_ship_resume(spark, corpus_input, tmp_path, golden):
    """Kill after the first shard's commit: the rerun skips every
    stage AND the committed shard, ships the rest, equal product."""
    _, _, want = golden
    conf = _conf(corpus_input, str(tmp_path))
    seen: list[str] = []

    def fp(stage, phase):
        if stage.startswith("ship:") and phase == "before_commit":
            seen.append(stage)
            if len(seen) == 2:  # first shard committed, second not
                raise _Boom(stage)

    with pytest.raises(_Boom):
        run_corpus_pipeline(spark, conf, failpoint=fp)
    res = run_corpus_pipeline(spark, conf)
    assert res.stages_run == []
    assert len(res.shards_skipped) == 1
    assert res.shards_committed  # the rest shipped now
    assert _packed_rows(read_packed(spark, conf)) == want


def test_input_change_invalidates_chain(spark, corpus_input, tmp_path, golden):
    """Appending input data breaks the head of the identity chain:
    every stage recomputes and the product reflects the new corpus."""
    _, _, want_old = golden
    inp = str(tmp_path / "in")
    shutil.copytree(corpus_input, inp)
    conf = _conf(inp, str(tmp_path / "wd"))
    res1 = run_corpus_pipeline(spark, conf)
    assert res1.stages_run == list(CORPUS_STAGES)
    assert _packed_rows(read_packed(spark, conf)) == want_old

    extra = [_doc(i) for i in range(N_DOCS + 1, N_DOCS + 41)]
    spark.createDataFrame(
        extra, "doc_id long, text string, lang string, source string, "
               "n_chars long",
    ).coalesce(1).write.mode("append").parquet(inp)

    res2 = run_corpus_pipeline(spark, conf)
    assert res2.stages_run == list(CORPUS_STAGES)
    docs = spark.read.parquet(inp)
    lazy = corpus_stages(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0), conf)
    got = _packed_rows(read_packed(spark, conf))
    assert got == _packed_rows(lazy["pack"])
    assert got != want_old


def test_params_change_invalidates_only_downstream(
        spark, corpus_input, tmp_path):
    """Changing seq_len reprocesses exactly the pack stage (its params
    fingerprint changed; everything upstream still validates)."""
    conf = _conf(corpus_input, str(tmp_path))
    run_corpus_pipeline(spark, conf)
    conf2 = _conf(corpus_input, str(tmp_path))
    conf2.seq_len = 64
    res = run_corpus_pipeline(spark, conf2)
    assert res.stages_skipped == list(CORPUS_STAGES)[:-1]
    assert res.stages_run == ["pack"]
    packed = read_packed(spark, conf2)
    assert packed.filter(F.col("bin_first")
                         != F.floor(F.col("tok_start") / 64)).count() == 0


def test_nshards_reduction_removes_stale_shards(
        spark, corpus_input, tmp_path):
    """ADVICE r05 #2: recompute with fewer shards must delete the
    out_path shard dirs the new pack no longer produces — read_packed
    must never return phantom rows from a prior ship."""
    conf = _conf(corpus_input, str(tmp_path))
    conf.nshards = 8
    run_corpus_pipeline(spark, conf)
    conf2 = _conf(corpus_input, str(tmp_path))
    conf2.nshards = 2
    res = run_corpus_pipeline(spark, conf2)
    assert res.stages_run == ["pack"]
    on_disk = sorted(e.name for e in os.scandir(conf2.out_path)
                     if e.name.startswith("shard="))
    assert on_disk == ["shard=0", "shard=1"]
    # the shipped product equals the fresh 2-shard lazy composition
    docs = spark.read.parquet(corpus_input)
    lazy = corpus_stages(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0), conf2)
    assert _packed_rows(read_packed(spark, conf2)) == _packed_rows(lazy["pack"])
    # and the manifest holds no entry for a removed shard
    from llogtail_spark import manifest as mf
    parts = {e.part for e in mf.read_all(conf2.manifest_dir)
             if e.sink == "packed"}
    assert parts == {"0", "1"}


def test_benchmark_mod_change_invalidates_whole_chain(
        spark, corpus_input, tmp_path):
    """ADVICE r05 #1: benchmark_mod defines the corpus/eval split at
    the HEAD of the chain, so changing it must recompute every stage
    (not just decontaminate) — otherwise eval-split docs computed
    under the old split would leak through skipped dedup stages."""
    conf = _conf(corpus_input, str(tmp_path))
    run_corpus_pipeline(spark, conf)
    conf2 = _conf(corpus_input, str(tmp_path))
    conf2.benchmark_mod = 25
    res = run_corpus_pipeline(spark, conf2)
    assert res.stages_run == list(CORPUS_STAGES)
    docs = spark.read.parquet(corpus_input)
    lazy = corpus_stages(
        docs.filter(F.col("doc_id") % 25 != 0),
        docs.filter(F.col("doc_id") % 25 == 0), conf2)
    assert _packed_rows(read_packed(spark, conf2)) == _packed_rows(lazy["pack"])


def test_readback_reconciliation_refuses_partial_stage(
        spark, corpus_input, tmp_path):
    """Corrupt a stage's staged files between write and readback: the
    run must refuse to commit that stage's lineage."""
    conf = _conf(corpus_input, str(tmp_path))

    def fp(stage, phase):
        if stage == "quality" and phase == "after_data":
            victim = glob.glob(os.path.join(
                conf.stages_dir, "quality", "*.parquet"))
            donor = glob.glob(os.path.join(
                conf.stages_dir, "exact_dedup", "*.parquet"))
            assert victim and donor
            # swap in a VALID parquet with the wrong rows: readback
            # parses fine but must disagree with the observation
            # (plain deletion would die earlier with a loud read
            # error — equally safe, but not the path under test).
            # Drop the Hadoop .crc sidecar or the checksum layer
            # catches the swap before the reconciliation can.
            shutil.copyfile(donor[0], victim[0])
            crc = os.path.join(os.path.dirname(victim[0]),
                               "." + os.path.basename(victim[0]) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)

    with pytest.raises(RuntimeError, match="refusing to commit"):
        run_corpus_pipeline(spark, conf, failpoint=fp)
    assert read_stage(conf.stage_manifest_dir, "quality") is None


def test_empty_funnel_completes(spark, corpus_input, tmp_path):
    """A gate that kills the whole corpus must complete with zero-row
    lineage and zero shards — not crash on an empty stage readback
    (found by the adversarial-skew bench: a mixture whose scarcest
    target group vanished empties the sample stage)."""
    conf = _conf(corpus_input, str(tmp_path))
    conf.min_toks = 10**6  # nothing survives quality
    res = run_corpus_pipeline(spark, conf)
    assert res.stages_run == list(CORPUS_STAGES)
    assert res.funnel["quality"] == 0
    assert res.funnel["pack"] == 0
    assert res.shards_committed == []
    # resume is a clean no-op on the empty chain too
    res2 = run_corpus_pipeline(spark, conf)
    assert res2.stages_run == []
    assert res2.stages_skipped == list(CORPUS_STAGES)


def test_collecting_run_metrics_starts_no_spark_job(
        spark, golden, corpus_input, tmp_path, jobs_in):
    """The per-shard metrics are a local relation built from Arrow:
    collecting them starts no Spark job, and a run that ships no
    packed shard gets the same schema with 0 rows."""
    conf = _conf(corpus_input, str(tmp_path))
    conf.min_toks = 10**6  # nothing survives quality
    _, res, _ = golden
    assert res.shards_committed
    for metrics, n in ((res.metrics, len(res.shards_committed)),
                       (run_corpus_pipeline(spark, conf).metrics, 0)):
        assert metrics._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
        with jobs_in(f"corpus-metrics-{n}-{tmp_path}") as jobs:
            rows = metrics.collect()
        assert jobs == [0]
        assert len(rows) == n
        assert metrics.schema.simpleString() == (
            "struct<shard:string,row_count:bigint,tok_total:bigint,checksum:bigint>")


def test_cli_corpus_conf_roundtrip(spark, corpus_input, tmp_path):
    """The --corpus-conf CLI surface: conf JSON -> full run report ->
    resume no-op, matching the library API (in-process main() — the
    CLI builds its own session via getOrCreate, which resolves to the
    test session)."""
    import json as _json

    from llogtail_spark import cli

    cj = tmp_path / "corpus.json"
    cj.write_text(_json.dumps({
        "input_path": corpus_input,
        "workdir": str(tmp_path / "wd"),
        "out_path": str(tmp_path / "out"),
        "committed_at": "cli-test",
    }))
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["--corpus-conf", str(cj)]) == 0
    rep = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["stages_run"] == list(CORPUS_STAGES)
    assert rep["shards_committed"]
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert cli.main(["--corpus-conf", str(cj)]) == 0
    rep2 = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep2["stages_skipped"] == list(CORPUS_STAGES)
    assert rep2["shards_committed"] == []
    assert rep2["funnel"] == rep["funnel"]
