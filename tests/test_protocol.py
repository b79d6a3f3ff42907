"""The commit protocol both pipelines share (`manifest.py`): the
workdir lease, and the module attributes every commit goes through."""

import collections
import os
import re

import pytest

from llogtail_spark import corpus_pipeline
from llogtail_spark import manifest as mf
from llogtail_spark.corpus_pipeline import CORPUS_STAGES, CorpusConf, run_corpus_pipeline
from llogtail_spark.pipeline import run_pipeline
from test_corpus_pipeline import _write_input
from test_pipeline import make_conf


@pytest.fixture(scope="module")
def corpus_input(spark, tmp_path_factory) -> str:
    d = str(tmp_path_factory.mktemp("protocol-corpus-in"))
    _write_input(spark, d)
    return d


def _corpus_conf(input_path: str, workdir: str) -> CorpusConf:
    return CorpusConf(input_path=input_path, workdir=workdir,
                      out_path=os.path.join(workdir, "out"), committed_at="t0")


def test_workdir_lease_refuses_second_run(spark, data_dir, corpus_input, tmp_path):
    """A run on a workdir another run holds fails at once, naming the
    workdir, and touches nothing there (it used to rmtree the holder's
    staging mid-write); once the lease is released a run succeeds."""
    wd = str(tmp_path / "wd")
    sentinel = os.path.join(wd, "staging", "holder-file")
    os.makedirs(os.path.dirname(sentinel))
    open(sentinel, "w").close()
    with mf.lease(wd):
        with pytest.raises(RuntimeError, match=re.escape(wd)):
            run_pipeline(spark, make_conf(data_dir, wd))
        with pytest.raises(RuntimeError, match=re.escape(wd)):
            run_corpus_pipeline(spark, _corpus_conf(corpus_input, wd))
        assert os.path.exists(sentinel)
    res = run_pipeline(spark, make_conf(data_dir, wd))
    assert all(len(v) == 6 for v in res.processed.values())


def test_commits_go_through_module_attributes(
        spark, data_dir, corpus_input, tmp_path, monkeypatch):
    """The benchmark's trace wraps these module attributes to time the
    protocol; a run that bypassed them would silently drop its spans."""
    calls = collections.Counter()

    def count(owner, name):
        orig = getattr(owner, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(owner, name, counted)

    count(corpus_pipeline, "commit_stage")
    count(mf, "commit")
    count(mf, "read_all")

    res = run_pipeline(spark, make_conf(data_dir, str(tmp_path / "log")))
    shipped = sum(len(v) for v in res.processed.values())
    assert shipped == 18
    assert calls["commit"] == shipped
    assert calls["read_all"] > 0
    assert calls["commit_stage"] == 0

    calls.clear()
    cres = run_corpus_pipeline(
        spark, _corpus_conf(corpus_input, str(tmp_path / "corpus")))
    assert cres.stages_run == list(CORPUS_STAGES)
    assert calls["commit_stage"] == len(CORPUS_STAGES)
    assert cres.shards_committed
    assert calls["commit"] == len(cres.shards_committed)
    assert calls["read_all"] > 0
