"""Aggregate correctness: salted == plain (exact), checksum
order-insensitivity."""

import os

from pyspark.sql import functions as F

from llogtail_spark.operators.aggregate import (
    salted_sink_aggregates,
    sink_aggregates,
)
from llogtail_spark.operators.parse import parse_stage
from llogtail_spark.operators.route import SinkRule, explode_routed

RULES = [
    SinkRule("errors", "level_num >= 40", "/tmp/x/e"),
    SinkRule("firehose", "true", "/tmp/x/f"),
]


def _routed(spark, data_dir):
    df = spark.read.parquet(os.path.join(data_dir, "sequences"))
    return explode_routed(parse_stage(df), RULES)


def test_salted_equals_plain(spark, data_dir):
    routed = _routed(spark, data_dir)
    plain = {r["sink"]: r.asDict() for r in sink_aggregates(routed).collect()}
    salted = {r["sink"]: r.asDict() for r in salted_sink_aggregates(routed, n_salts=16).collect()}
    assert plain == salted


def test_aggregates_match_pandas_oracle(spark, data_dir, oracle_pdf):
    routed = _routed(spark, data_dir)
    got = {r["sink"]: r.asDict() for r in sink_aggregates(routed).collect()}
    err = oracle_pdf[oracle_pdf["level_num"] >= 40]
    assert got["errors"]["row_count"] == len(err)
    assert got["errors"]["tok_total"] == int(err["n_tok"].sum())
    assert got["errors"]["byte_total"] == 4 * int(err["n_tok"].sum())
    assert got["firehose"]["row_count"] == len(oracle_pdf)
    assert got["firehose"]["tok_total"] == int(oracle_pdf["n_tok"].sum())
    assert got["firehose"]["n_sources"] == oracle_pdf["source"].nunique()


def test_checksum_is_order_insensitive(spark, data_dir):
    routed = _routed(spark, data_dir)
    a = {r["sink"]: r["checksum"] for r in sink_aggregates(routed).collect()}
    shuffled = routed.repartition(13)  # different physical order
    b = {r["sink"]: r["checksum"] for r in sink_aggregates(shuffled).collect()}
    assert a == b


def test_checksum_detects_content_change(spark):
    df1 = spark.createDataFrame(
        [("a", [1, 2], 2, "s"), ("b", [3], 1, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).withColumn("sink", F.lit("x"))
    df2 = spark.createDataFrame(
        [("a", [1, 2], 2, "s"), ("b", [4], 1, "s")],  # one token differs
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).withColumn("sink", F.lit("x"))
    c1 = sink_aggregates(df1).first()["checksum"]
    c2 = sink_aggregates(df2).first()["checksum"]
    assert c1 != c2


def test_salted_event_rollup_equals_plain(spark):
    """The salted two-phase rollup must be value-identical to the
    plain GROUP BY on a pathologically skewed key (90% one type),
    including NULL users and exact fixed-point sums."""
    import datetime as dt

    from pyspark.sql import functions as F

    from llogtail_spark.operators.aggregate import salted_event_rollup

    rows = []
    for i in range(2000):
        rows.append((
            i,
            "hot" if i % 10 else "cold",
            None if i % 97 == 0 else i % 50,
            i * 0.015,  # exercises round-half cases
        ))
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long, value double")
    salted = {r["event_type"]: r for r in salted_event_rollup(df).collect()}
    plain = {
        r["event_type"]: r
        for r in df.groupBy("event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("long")
            .alias("sum_value_x100"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        ).collect()
    }
    assert salted == plain
    assert salted["hot"]["n_events"] == 1800
