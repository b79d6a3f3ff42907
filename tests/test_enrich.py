"""Enrichment join semantics: broadcast plan and the fill defaults for
unknown sources (unknown-path analog, log_watcher.go:288-291)."""

import os

from pyspark.sql import functions as F

from llogtail_spark.operators.enrich import enrich_stage


def _frames(spark, data_dir):
    df = spark.read.parquet(os.path.join(data_dir, "sequences"))
    lk = spark.read.parquet(os.path.join(data_dir, "lookup_sources.parquet"))
    return df, lk


def test_left_join_with_defaults(spark, data_dir):
    df, lk = _frames(spark, data_dir)
    out = enrich_stage(
        df, lk, defaults={"facility": "unknown", "team": "unassigned", "min_level": 0}
    )
    assert out.count() == df.count()  # left join never drops
    # warn.log is deliberately absent from the lookup -> defaults
    warn = out.filter(F.col("source") == "warn.log").select("facility", "team").distinct().collect()
    assert [(r["facility"], r["team"]) for r in warn] == [("unknown", "unassigned")]
    # matched sources carry lookup values
    app = out.filter(F.col("source") == "app.log").select("facility").distinct().collect()
    assert [r["facility"] for r in app] == ["app"]


def test_ghost_lookup_row_has_no_effect(spark, data_dir):
    df, lk = _frames(spark, data_dir)
    out = enrich_stage(df, lk)
    assert out.filter(F.col("source") == "ghost.log").count() == 0


def test_join_is_broadcast(spark, data_dir):
    """The lookup must ride to executors — no shuffle of the big side."""
    df, lk = _frames(spark, data_dir)
    plan = enrich_stage(df, lk)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
