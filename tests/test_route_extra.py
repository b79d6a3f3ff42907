"""Routing edge cases for the one-pass exploded write path."""

import os

from pyspark.sql import functions as F

from llogtail_spark.config import PipelineConf
from llogtail_spark.operators.route import SinkRule, assign_sinks, explode_routed
from llogtail_spark.pipeline import read_sink, run_pipeline


def test_rows_matching_no_sink_are_dropped(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 99)], "doc_id string, level_num int"
    )
    rules = [SinkRule("hot", "level_num >= 50", "/dev/null")]
    routed = explode_routed(df, rules)
    assert [r["doc_id"] for r in routed.collect()] == ["b"]


def test_assign_sinks_overlap(spark):
    df = spark.createDataFrame([("a", 60)], "doc_id string, level_num int")
    rules = [
        SinkRule("hot", "level_num >= 50", "/dev/null"),
        SinkRule("all", "true", "/dev/null"),
    ]
    got = assign_sinks(df, rules).select("sinks").first()[0]
    assert sorted(got) == ["all", "hot"]


def test_zero_row_sink_commits_empty(spark, data_dir, tmp_path):
    """A sink whose predicate matches nothing still commits manifest
    rows (row_count=0) and reruns as a no-op."""
    conf = PipelineConf(
        input_path=os.path.join(data_dir, "sequences"),
        lookup_path=None,
        workdir=str(tmp_path / "w"),
        sinks=[
            SinkRule("none", "level_num > 1000000", str(tmp_path / "out/none")),
            SinkRule("all", "true", str(tmp_path / "out/all")),
        ],
    )
    res = run_pipeline(spark, conf)
    assert len(res.processed["none"]) == 6
    from llogtail_spark import manifest as mf

    entries = [e for e in mf.read_all(conf.manifest_dir) if e.sink == "none"]
    assert len(entries) == 6 and all(e.row_count == 0 for e in entries)
    res2 = run_pipeline(spark, conf)
    assert res2.processed == {"none": [], "all": []}
    # the catch-all sink holds every input row
    n_in = spark.read.parquet(os.path.join(data_dir, "sequences")).count()
    assert read_sink(spark, conf, "all").count() == n_in
