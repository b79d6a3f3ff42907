"""Layouts and inputs that used to corrupt silently or crash obscurely
now fail before anything ships, with a message naming the conflict."""

import glob
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from llogtail_spark import manifest as mf
from llogtail_spark.config import PipelineConf, load_config
from llogtail_spark.generate import generate_sequences
from llogtail_spark.operators.route import SinkRule
from llogtail_spark.pipeline import run_pipeline
from llogtail_spark.streaming.tail import stream_pipeline


def _conf(data_dir, workdir, sinks, input_path=None) -> PipelineConf:
    return PipelineConf(
        input_path=input_path or os.path.join(data_dir, "sequences"),
        lookup_path=os.path.join(data_dir, "lookup_sources.parquet"),
        workdir=str(workdir), sinks=sinks)


def _listing(path) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def _run(start, spark, conf):
    if start == "stream":
        stream_pipeline(spark, conf).awaitTermination(120)
    else:
        run_pipeline(spark, conf)


@pytest.mark.parametrize("start", ["batch", "stream"])
def test_two_rules_sharing_a_path_are_refused(spark, data_dir, tmp_path, start):
    out = str(tmp_path / "out" / "shared")
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("errors", "level_num >= 40", out),
                                            SinkRule("firehose", "true", out)])
    with pytest.raises(ValueError, match="sink 'firehose'.*overlaps sink 'errors'"):
        _run(start, spark, conf)
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


def test_duplicate_sink_names_are_refused_by_the_conf(data_dir, tmp_path):
    sinks = [SinkRule("errors", "level_num >= 40", str(tmp_path / "out" / "a")),
             SinkRule("errors", "true", str(tmp_path / "out" / "b"))]
    with pytest.raises(ValueError, match="duplicate sink names"):
        _conf(data_dir, tmp_path / "w", sinks)
    assert _listing(tmp_path) == []
    PipelineConf("", None, "", [])  # the empty conf still builds


@pytest.mark.parametrize("start", ["batch", "stream"])
def test_sink_under_staging_is_refused(spark, data_dir, tmp_path, start):
    wd = tmp_path / "w"
    out = str(wd / "staging" / "errors")
    conf = _conf(data_dir, wd, [SinkRule("errors", "level_num >= 40", out)])
    with pytest.raises(ValueError, match="sink 'errors'.*overlaps the staging dir"):
        _run(start, spark, conf)
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


@pytest.mark.parametrize("start", ["batch", "stream"])
def test_sink_equal_to_the_input_path_is_refused(spark, data_dir, tmp_path, start):
    inp = os.path.join(data_dir, "sequences")
    before = _listing(inp)
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("firehose", "true", inp)])
    with pytest.raises(ValueError, match="sink 'firehose'.*overlaps the input path"):
        _run(start, spark, conf)
    assert _listing(inp) == before
    assert mf.read_all(conf.manifest_dir) == []


def _write_part(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


@pytest.mark.parametrize("bad_id", [50257, -1])
def test_out_of_vocab_token_id_names_the_id_and_vocab_size(spark, data_dir, tmp_path, bad_id):
    table = generate_sequences(20, seed=7)
    toks = table.column("tokens").to_pylist()
    toks[3] = toks[3][:2] + [bad_id] + toks[3][3:]
    table = table.set_column(table.schema.get_field_index("tokens"), "tokens",
                             pa.array(toks, type=table.schema.field("tokens").type))
    inp = str(tmp_path / "in")
    _write_part(os.path.join(inp, "part-00000.parquet"), table)
    out = str(tmp_path / "out" / "firehose")
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("firehose", "true", out)], inp)
    with pytest.raises(Exception) as err:
        run_pipeline(spark, conf)
    msg = str(err.value)
    assert re.search(rf"token id {bad_id}\b", msg), msg[-2000:]
    assert "50257" in msg.replace(str(bad_id), "", 1), msg[-2000:]
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


def test_lookup_without_a_source_column_names_the_input(spark, data_dir, tmp_path):
    inp = str(tmp_path / "in")
    _write_part(os.path.join(inp, "part-00000.parquet"),
                generate_sequences(20, seed=7).drop_columns(["source"]))
    out = str(tmp_path / "out" / "firehose")
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("firehose", "true", out)], inp)
    with pytest.raises(ValueError) as err:
        run_pipeline(spark, conf)
    assert "source" in str(err.value) and inp in str(err.value)
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


@pytest.mark.parametrize("field", ["source", "n_tok"])
def test_a_later_part_with_another_schema_is_refused_by_name(
        spark, data_dir, tmp_path, jobs_in, field):
    """Spark's schema inference takes one part's schema: a later part
    without `source` read as NULL and shipped with the enrich defaults,
    and a later int64 `n_tok` failed inside the scan."""
    inp = str(tmp_path / "in")
    _write_part(os.path.join(inp, "part-00000.parquet"), generate_sequences(20, seed=7))
    later = generate_sequences(20, seed=8)
    if field == "source":
        later = later.drop_columns(["source"])
    else:
        i = later.schema.get_field_index("n_tok")
        later = later.set_column(i, "n_tok", later.column(i).cast(pa.int64()))
    bad = os.path.join(inp, "part-00001.parquet")
    _write_part(bad, later)
    out = str(tmp_path / "out" / "firehose")
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("firehose", "true", out)], inp)
    with jobs_in(f"schema-{tmp_path}") as jobs, pytest.raises(ValueError) as err:
        run_pipeline(spark, conf)
    assert bad in str(err.value) and field in str(err.value), str(err.value)
    assert jobs == [0]
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


def test_a_hive_style_input_is_refused(spark, data_dir, tmp_path):
    """date=1/part-0 and date=2/part-0 would share the part id
    'part-0'; one of them would never ship."""
    inp = str(tmp_path / "in")
    for d in ("date=1", "date=2"):
        _write_part(os.path.join(inp, d, "part-0.parquet"), generate_sequences(20, seed=7))
    out = str(tmp_path / "out" / "firehose")
    conf = _conf(data_dir, tmp_path / "w", [SinkRule("firehose", "true", out)], inp)
    with pytest.raises(ValueError, match=r"subdirectory 'date=[12]'") as err:
        run_pipeline(spark, conf)
    assert inp in str(err.value)
    assert not os.path.exists(out)
    assert mf.read_all(conf.manifest_dir) == []


@pytest.mark.parametrize("where", ["input", "inside_input", "workdir"])
def test_corpus_out_path_overlapping_its_input_or_workdir_is_refused(spark, tmp_path, where):
    from llogtail_spark.corpus_pipeline import CorpusConf, run_corpus_pipeline

    inp, wd = str(tmp_path / "in"), str(tmp_path / "w")
    _write_part(os.path.join(inp, "part-0.parquet"), pa.table({"doc_id": [1]}))
    out = {"input": inp, "inside_input": os.path.join(inp, "packed"), "workdir": wd}[where]
    conf = CorpusConf(input_path=inp, workdir=wd, out_path=out)
    with pytest.raises(ValueError, match="out_path") as err:
        run_corpus_pipeline(spark, conf)
    assert out in str(err.value)
    assert (inp if where != "workdir" else conf.stages_dir) in str(err.value)
    assert _listing(inp) == ["part-0.parquet"]
    assert not os.path.exists(wd)


@pytest.mark.parametrize("grok,why", [
    (r"^%{LOGLEVEL:level} %{WORD} %{GREEDYDATA:msg}$", r"named groups \['component'\]"),
    (r"^%{LOGLEVEL:level} (?<= )%{WORD:component} %{GREEDYDATA:msg}$",
     "does not compile for the parse kernel.*perl operator"),
], ids=["no_component_group", "lookbehind"])
def test_a_grok_the_parse_kernel_cannot_run_is_refused_by_the_conf(
        spark, data_dir, tmp_path, grok, why):
    """Without the driver-side check both patterns fail inside the
    staged write, as a worker traceback, after staging was created."""
    wd, out = tmp_path / "w", str(tmp_path / "out" / "firehose")
    with pytest.raises(ValueError, match=why) as err:
        run_pipeline(spark, PipelineConf(
            input_path=os.path.join(data_dir, "sequences"), lookup_path=None,
            workdir=str(wd), sinks=[SinkRule("firehose", "true", out)], grok=grok))
    assert grok in str(err.value)
    assert _listing(tmp_path) == []


@pytest.mark.parametrize("start", ["batch", "stream"])
def test_a_second_workdir_shipping_to_a_claimed_sink_path_is_refused(
        spark, data_dir, tmp_path, jobs_in, start):
    """The lease covers one workdir: without the `_owner` claim, B's
    ship replaces A's partitions and A's manifest vouches for B's rows.
    The claim is checked before the heavy pass: B stages nothing and,
    in batch, starts no Spark job."""
    from pyspark.errors import StreamingQueryException

    out = str(tmp_path / "out" / "errors")
    conf_a = _conf(data_dir, tmp_path / "a", [SinkRule("errors", "level_num >= 40", out)])
    run_pipeline(spark, conf_a)
    owner = os.path.join(out, "_owner")
    wd_a = os.path.realpath(conf_a.workdir)
    with open(owner) as f:
        assert f.read() == wd_a
    before = sorted(glob.glob(os.path.join(out, "part=*", "*")))
    assert before

    # B routes a different row set to the same path
    conf_b = _conf(data_dir, tmp_path / "b", [SinkRule("errors", "true", out)])
    refused = ValueError if start == "batch" else StreamingQueryException
    with jobs_in(f"claimed-{tmp_path}") as jobs, \
            pytest.raises(refused, match="is owned by workdir") as err:
        _run(start, spark, conf_b)
    assert not os.path.exists(os.path.join(conf_b.workdir, "staging"))
    if start == "batch":
        assert jobs == [0]
    for named in (wd_a, os.path.realpath(conf_b.workdir), owner):
        assert named in str(err.value), str(err.value)[-2000:]
    assert sorted(glob.glob(os.path.join(out, "part=*", "*"))) == before
    assert mf.read_all(conf_b.manifest_dir) == []


@pytest.mark.parametrize("where,key,value", [("conf", "ship_mode", "rename"),
                                             ("sink", "format", "parquet"),
                                             ("sink", "options", {})])
def test_a_config_with_a_removed_sink_key_names_the_key(data_dir, tmp_path, where, key, value):
    sink = {"name": "errors", "predicate": "level_num >= 40",
            "path": str(tmp_path / "out" / "errors")}
    raw = {"input_path": os.path.join(data_dir, "sequences"), "lookup_path": None,
           "workdir": str(tmp_path / "w"), "sinks": [sink]}
    (raw if where == "conf" else sink)[key] = value
    path = tmp_path / "pipeline.json"
    path.write_text(json.dumps(raw))
    with pytest.raises(TypeError, match=f"'{key}'"):
        load_config(str(path))
